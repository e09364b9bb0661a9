"""Seeded inputs for the cron workloads.

The feed is the sf0.1 `events` table (100,000 events over the 30 days
from 2024-01-01), kept byte for byte under data/ so a pass reads
nothing outside its checkout; warm-up uses the sf0.001 table, so no
cache keyed on the workload's input can be filled before the timed ops.
The seed only draws the cron cut times. The program sees the parquet
files written from slices of these tables.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FEED = os.path.join(DATA, "sf0.1", "events.parquet")
WARM_FEED = os.path.join(DATA, "sf0.001", "events.parquet")
SHA256 = {
    FEED: "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    WARM_FEED: "7fd4b9d6277e78d4552e69475995d203a9e38aa4cc914d87cb79b0f9bd145a55",
}
FEED_START = pd.Timestamp("2024-01-01 00:00:00")
FEED_DAYS = 30
CUTS_PER_DAY = 2


def events(path: str = FEED) -> pd.DataFrame:
    """The whole table, sorted by ts, `ts` as naive datetime64[us] (the
    table's TIMESTAMP(MICROS) flavour). Refuses a changed file."""
    with open(path, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    if digest != SHA256[path]:
        raise ValueError(f"{path}: sha256 {digest} is not the table's")
    df = pd.read_parquet(path)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df.sort_values(["ts", "event_id"], kind="stable").reset_index(drop=True)


def cuts(seed: int, days: int = FEED_DAYS) -> list[pd.Timestamp]:
    """Cron invocation times: CUTS_PER_DAY uniform times in every
    simulated day, ascending. Nothing steers them away from any hour."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for d in range(days):
        for s in np.sort(rng.uniform(0.0, 86_400.0, CUTS_PER_DAY)):
            out.append(FEED_START + pd.Timedelta(days=d, seconds=float(s)))
    return out


def write_events(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False)
