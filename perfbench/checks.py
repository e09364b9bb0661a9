"""Output checks, run outside the timed region.

Both cron forms append to a parquet sink, one set of files per op.

The stream form is checked end to end: the sink must hold the OHLCV of
every window the final watermark closed, computed here in pandas. An op
fails when it appends a wrong or duplicate bar, or when its append moves
past an expected bar the sink never got.

The batch form is checked against its Gate-2 contract, op by op: op i
must append exactly the bars the pipeline yields over op i's feed that
are newer than the sink's newest bar before it. The pipeline's bars
come from the package's DuckDB statement of bar_pipeline_5m, so no
Spark code judges Spark code. Whether the sink then equals one pipeline
run over the final feed is measured too (`bar_diffs`), but not gated:
the pipeline's open-session rule makes it differ on some cuts. It judges
a session complete by its bar count, so a cut inside a session's last
bar appends that bar half filled, and the watermark never lets it be
corrected. Every 05:00 bar falls in the one 'UNKNOWN' session, which the
rule drops whole when it is the newest, so a final feed cut between
05:00 and 08:45 yields none of the 05:00 bars the sink already holds.
"""

from __future__ import annotations

import math
import os

import pandas as pd

KEY = "bar_ts"
WINDOW = pd.Timedelta(minutes=5)
STREAM_DELAY = pd.Timedelta(minutes=10)


def naive_utc(df: pd.DataFrame) -> pd.DataFrame:
    """Timestamps as naive UTC datetime64[ns], whatever the reader."""
    df = df.copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df


def read_parquet_files(paths: list[str]) -> pd.DataFrame | None:
    import pyarrow.parquet as pq

    frames = [pq.read_table(p).to_pandas() for p in paths]
    frames = [f for f in frames if len(f)]
    return naive_utc(pd.concat(frames, ignore_index=True)) if frames else None


def sink_files(sink: str) -> set[str]:
    if not os.path.isdir(sink):
        return set()
    return {
        os.path.join(sink, f)
        for f in os.listdir(sink)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }


def expected_ohlcv(events: pd.DataFrame) -> pd.DataFrame:
    """5-min OHLCV, closed on the right and labelled on the left, as
    the engine's streaming and batch resamplers define it."""
    ev = events.sort_values("ts")
    bar = (ev["ts"] - pd.Timedelta(microseconds=1)).dt.floor("5min")
    g = ev.assign(bar_ts=bar).groupby("bar_ts", sort=True)["value"]
    out = pd.DataFrame(
        {
            "open": g.first(),
            "high": g.max(),
            "low": g.min(),
            "close": g.last(),
            "volume": g.size().astype("int64"),
        }
    ).reset_index()
    return naive_utc(out)


def stream_expected(events: pd.DataFrame) -> pd.DataFrame:
    """Bars of every window the final event-time watermark has closed."""
    bars = expected_ohlcv(events)
    if events.empty:
        return bars
    wm = events["ts"].max() - pd.Timedelta(microseconds=1) - STREAM_DELAY
    return bars[bars[KEY] + WINDOW <= wm].reset_index(drop=True)


def oracle_bars(events: pd.DataFrame) -> pd.DataFrame:
    """bar_pipeline_5m over `events`, run by DuckDB from the registry's
    oracle SQL for that query, sorted by bar."""
    import duckdb
    from txf_continuous_data_pipeline_spark.queries.registry import REGISTRY

    con = duckdb.connect(config={"threads": 1})
    try:
        con.register("events", events)
        out = con.execute(REGISTRY["bar_pipeline_5m"][1]).df()
    finally:
        con.close()
    return naive_utc(out).sort_values(KEY).reset_index(drop=True)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _problem(row: dict, seen: set, want: dict, cols: list[str]) -> str | None:
    """Why an appended bar is wrong (None: it is right); adds it to seen."""
    k = row[KEY]
    if k in seen:
        why = f"duplicate bar {k}"
    elif k not in want:
        why = f"unexpected bar {k}"
    elif not all(_same(row.get(c), want[k][c]) for c in cols):
        why = f"wrong values for bar {k}"
    else:
        why = None
    seen.add(k)
    return why


def _keyed(expected: pd.DataFrame) -> tuple[dict, list[str]]:
    return (
        {row[KEY]: row for row in expected.to_dict("records")},
        [c for c in expected.columns if c != KEY],
    )


def bar_diffs(got: pd.DataFrame | None, expected: pd.DataFrame) -> list[str]:
    """Every bar in which `got` differs from `expected`."""
    want, cols = _keyed(expected)
    seen: set = set()
    rows = [] if got is None else got.to_dict("records")
    out = [why for r in rows if (why := _problem(r, seen, want, cols))]
    return out + [f"missing bar {k}" for k in sorted(set(want) - seen)]


def gate2_failed_ops(
    appended: list[pd.DataFrame | None], produced: list[pd.DataFrame]
) -> dict[int, str]:
    """op index -> reason, for every op that broke the Gate-2 contract.

    appended[i] holds the rows op i added to the sink (None: nothing),
    produced[i] the pipeline's bars over op i's feed. Op i must append
    exactly the bars of produced[i] newer than the newest bar the sink
    held before it, each once."""
    bad: dict[int, str] = {}
    watermark = None
    for i, (got, bars) in enumerate(zip(appended, produced, strict=True)):
        want = bars if watermark is None else bars[bars[KEY] > watermark]
        diffs = bar_diffs(got, want)
        if diffs:
            more = f" (and {len(diffs) - 1} more)" if len(diffs) > 1 else ""
            bad[i] = diffs[0] + more
        if got is not None:
            newest = got[KEY].max()
            watermark = newest if watermark is None else max(watermark, newest)
    return bad


def failed_ops(appended: list[pd.DataFrame | None], expected: pd.DataFrame) -> dict[int, str]:
    """op index -> reason, for every op whose append is wrong.

    appended[i] holds the rows op i added to the sink (None: nothing).
    A bar the sink never got is charged to the first op that appended
    a later bar, or to the last op when none did."""
    want, cols = _keyed(expected)
    seen: set = set()
    bad: dict[int, str] = {}
    last_key = []
    for i, df in enumerate(appended):
        rows = [] if df is None else df.to_dict("records")
        last_key.append(max((r[KEY] for r in rows), default=None))
        for r in rows:
            if why := _problem(r, seen, want, cols):
                bad.setdefault(i, why)
    for k in sorted(set(want) - seen):
        at = next(
            (i for i, m in enumerate(last_key) if m is not None and m > k),
            len(appended) - 1,
        )
        bad.setdefault(at, f"missing bar {k}")
    return bad
