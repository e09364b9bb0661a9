"""Per-query optimization probe.

For each named registry query at the given SF:
  - times the noop-sink execution `reps` times
  - records deterministic signals per timed rep: shuffle-read MB and
    task count via the REST status API (the BASELINE.md adjudication
    rule: flat bytes + moved wall = host noise, moved bytes = real)
  - computes an order-independent result checksum (sum + count of
    xxhash64 over every column cast to string) so a before/after pair
    proves the optimization did not change WHAT the query computes
  - with --out DIR, writes `.explain("formatted")` to
    DIR/<query>_<tag>.txt

Usage: python scripts/probe.py <tag> <query> [query ...] \
           [--out plans/<dir>] [--sf SF_DIR] [--reps 3]

--sf defaults to $SPARK_GRAFT_SF_DIR (the bench.py data contract).

Prints one JSON line per query:
  {"query", "tag", "times", "shuffle_mb", "n_tasks", "checksum", "rows"}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from txf_continuous_data_pipeline_spark.queries import queries
from txf_continuous_data_pipeline_spark.session import get_spark


def _stages(ui_url: str) -> dict:
    """(stageId, attemptId) -> completed-stage record; {} if unreachable."""
    try:
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications", timeout=10
        ) as r:
            apps = json.load(r)
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{apps[0]['id']}"
            "/stages?status=complete",
            timeout=10,
        ) as r:
            stages = json.load(r)
        return {(s["stageId"], s["attemptId"]): s for s in stages}
    except Exception:
        return {}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", help="directory for the formatted plans")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf is required when SPARK_GRAFT_SF_DIR is unset")

    if args.out:
        os.makedirs(args.out, exist_ok=True)
    spark = get_spark(
        "probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "3000",
            "spark.ui.retainedJobs": "3000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl
    qs = queries()

    for name in args.names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        # timing reps run FIRST so rep 0 is the session-cold number
        # (constructing a df for the plan can eagerly build family
        # caches and hide the first-consumer cost)
        times, sh_mb, n_tasks = [], [], []
        for _ in range(args.reps):
            # time construction + execution together, exactly like
            # bench.py (query functions may do eager family-cache work
            # at construction time)
            seen = _stages(ui_url)
            t0 = time.monotonic()
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.monotonic() - t0, 3))
            done = _stages(ui_url)
            new = [v for k, v in done.items() if k not in seen]
            sh_mb.append(
                round(
                    sum(s.get("shuffleReadBytes", 0) for s in new) / 1e6,
                    1,
                )
            )
            n_tasks.append(sum(s.get("numCompleteTasks", 0) for s in new))
        df = qs[name](spark, args.sf)
        if args.out:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        chk = (
            qs[name](spark, args.sf)
            .select(
                F.xxhash64(
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                        for c in df.columns
                    ]
                )
                .cast("decimal(38,0)")
                .alias("h")
            )
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        print(
            json.dumps(
                {
                    "query": name,
                    "tag": args.tag,
                    "times": times,
                    "shuffle_mb": sh_mb,
                    "n_tasks": n_tasks,
                    "checksum": None
                    if chk["s"] is None
                    else int(chk["s"]),
                    "rows": int(chk["n"]),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
