"""Back-adjustment: point-in-interval join + roll-gap offset
(SURVEY.md 2.4 J1, 2.5 A7/A8) - the heart of the reference pipeline.

Reference (main.py:301-318): for each bar at time t, find the config row
with start_k <= t <= settle_k, add its accumulated_contract_diff to
O/H/L/C, stamp contract_year_month; unmatched bars keep diff=0 and an
empty contract label (main.py:298-299). The reference executes this as a
row-wise nested loop via df.apply(axis=1) - O(bars x configs) in Python.

Spark-first replacements, in order of scale:

  backadjust()          broadcast range join. The config table is tiny
                        (one row per contract month), so Catalyst plans a
                        BroadcastNestedLoopJoin: each task streams its
                        bars against the in-memory config - no shuffle of
                        the fact side at all. Right plan up to thousands
                        of config rows.

  backadjust_bucketed() the 100-TB path: explode each config interval
                        into the calendar buckets (months) it overlaps,
                        then EQUI-join bars on their bucket and filter the
                        range residual. Turns the nested-loop predicate
                        into a hash join on (bucket) that AQE can plan as
                        broadcast-hash or shuffle-hash; bars never move
                        unless the join itself requires it.

derive_accumulated_gap() re-derives accumulated_contract_diff as the
exclusive prefix sum of next_contract_diff (the invariant at main.py:210)
instead of trusting stored state.

restate_frame() / restate_adjusted_history() close the reference's
config-revision blind spot: its sink is append-only behind a watermark
(Gate 2, main.py:548-558), so a CORRECTED settlement-config row - which
by the prefix-sum invariant retroactively changes every later contract's
accumulated offset - silently leaves all already-sunk adjusted bars
stale. The restatement operator composes pieces the engine already has
(snapshot_diff on the config dim, the stored per-row
accumulated_contract_diff, targeted dynamic-partition overwrite) to
rewrite exactly the affected date partitions and nothing else.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRICE_COLS = ("open", "high", "low", "close")


def derive_accumulated_gap(
    cfg: DataFrame, order_col: str = "contract_year_month"
) -> DataFrame:
    """A7: accumulated_contract_diff[i] = sum of next_contract_diff[0..i-1].

    Single unbounded-preceding window over the (small) config dimension;
    runs in one partition by design - config is a dimension table.
    """
    w = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return cfg.withColumn(
        "accumulated_contract_diff",
        F.coalesce(F.sum("next_contract_diff").over(w), F.lit(0.0)),
    )


def backadjust(
    bars: DataFrame,
    cfg: DataFrame,
    *,
    ts_col: str = "ts",
    price_cols: tuple[str, ...] = PRICE_COLS,
    start_col: str = "start_k",
    end_col: str = "settle_k",
    end_inclusive: bool = True,
) -> DataFrame:
    """J1: broadcast point-in-interval left join + price shift.

    Config intervals are non-overlapping by invariant (SURVEY.md 1.3), so
    a plain left join yields at most one match per bar (A8's first-match
    pick is unnecessary); unmatched bars get diff=0 / empty contract
    (main.py:298-299, :307).
    """
    ts = bars[ts_col]
    upper = ts <= cfg[end_col] if end_inclusive else ts < cfg[end_col]
    joined = bars.join(F.broadcast(cfg), (ts >= cfg[start_col]) & upper, "left")
    return _apply_shift(joined, bars, cfg, price_cols, start_col, end_col)


def backadjust_bucketed(
    bars: DataFrame,
    cfg: DataFrame,
    *,
    ts_col: str = "ts",
    price_cols: tuple[str, ...] = PRICE_COLS,
    start_col: str = "start_k",
    end_col: str = "settle_k",
    bucket: str = "month",
    end_inclusive: bool = True,
) -> DataFrame:
    """J1 at 100-TB scale: interval join rewritten as an equi-join.

    Each config interval is exploded to one row per calendar `bucket` it
    overlaps (months: a contract window spans at most 2); bars join on
    trunc(ts, bucket) with the exact range check as a residual filter.
    The join key is an equi-key, so Catalyst plans a hash join (broadcast
    for a small config) instead of a nested loop, and the same rewrite
    keeps working when the config side grows too big to broadcast.
    """
    # Explicit step: sequence() over dates defaults to a 1-DAY stride,
    # which would explode ~30 rows per month-bucket instead of 1.
    from .relational import _BUCKET_STEP

    step = _BUCKET_STEP[bucket]
    cfg_b = cfg.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col(start_col)),
                F.date_trunc(bucket, F.col(end_col)),
                F.expr(f"INTERVAL {step}"),
            )
        ),
    )
    ts = bars[ts_col]
    upper = ts <= cfg_b[end_col] if end_inclusive else ts < cfg_b[end_col]
    joined = bars.join(
        F.broadcast(cfg_b),
        (F.date_trunc(bucket, ts) == cfg_b["_bucket"])
        & (ts >= cfg_b[start_col])
        & upper,
        "left",
    ).drop("_bucket")
    return _apply_shift(joined, bars, cfg, price_cols, start_col, end_col)


def restate_frame(
    sunk: DataFrame,
    new_cfg: DataFrame,
    *,
    ts_col: str = "ts",
    price_cols: tuple[str, ...] = PRICE_COLS,
    start_col: str = "start_k",
    end_col: str = "settle_k",
    end_inclusive: bool = True,
) -> DataFrame:
    """Re-state already-adjusted rows against a REVISED config - the
    pure-DataFrame core of restate_adjusted_history.

    The sunk frame carries per row exactly the state needed to invert
    the old adjustment (`accumulated_contract_diff`, the shift that was
    applied; `contract_year_month`, the label) - so no raw-price source
    is required: raw = adjusted - stored_diff, then the ordinary
    backadjust join re-applies the new config. Output = the sunk schema
    with prices/label/diff re-stated, plus three audit columns:
    old_accumulated_contract_diff, old_contract_year_month, and
    `_restated` (true where the revision actually changed the row).

    Float caveat: restating computes fl(fl(adjusted - old) + new); a
    from-scratch rebuild computes fl(raw + new). For dyadic-rational
    prices/diffs (market ticks are) the two are bit-identical; for
    arbitrary doubles they can differ by <=1 ulp.
    """
    for required in ("accumulated_contract_diff", "contract_year_month"):
        if required not in sunk.columns:
            raise ValueError(
                f"restate_frame: sunk frame lacks '{required}' - the sink "
                "must have been written by backadjust (which keeps the "
                "applied shift on every row) to be restatable"
            )
    inverted = sunk.withColumnRenamed(
        "accumulated_contract_diff", "old_accumulated_contract_diff"
    ).withColumnRenamed("contract_year_month", "old_contract_year_month")
    for c in price_cols:
        inverted = inverted.withColumn(
            c, F.col(c) - F.col("old_accumulated_contract_diff")
        )
    out = backadjust(
        inverted,
        new_cfg,
        ts_col=ts_col,
        price_cols=price_cols,
        start_col=start_col,
        end_col=end_col,
        end_inclusive=end_inclusive,
    )
    return out.withColumn(
        "_restated",
        ~F.col("accumulated_contract_diff").eqNullSafe(
            F.col("old_accumulated_contract_diff")
        )
        | ~F.col("contract_year_month").eqNullSafe(
            F.col("old_contract_year_month")
        ),
    )


def restate_adjusted_history(
    spark,
    sink_path: str,
    old_cfg: DataFrame,
    new_cfg: DataFrame,
    *,
    ts_col: str = "bar_ts",
    price_cols: tuple[str, ...] = PRICE_COLS,
    start_col: str = "start_k",
    end_col: str = "settle_k",
    end_inclusive: bool = True,
) -> dict:
    """Targeted restatement of a date-partitioned adjusted-bar sink
    after a settlement-config revision (the reference's silent blind
    spot: main.py:210 prefix-sum invariant + main.py:548 append-only
    gate means a config fix never reaches sunk history).

    Plan - bounded by the revision, never by the sink:
      1. snapshot_diff on the DERIVED configs (accumulated gap re-run
         through derive_accumulated_gap on both sides, so a single
         next_contract_diff edit surfaces every later contract whose
         prefix sum moved) -> the changed/added/removed intervals;
      2. affected calendar dates = union of each delta row's old AND
         new [start, settle] spans, MERGED into ranges -> one
         `_date BETWEEN` clause per merged span (bounded by the
         number of changed contracts, never per-day literals); the
         sink scan prunes to those directories;
      3. restate_frame inverts the stored shift and re-adjusts against
         the new config (broadcast range join - config is a dim);
      4. dynamic-partition overwrite of ONLY the partitions holding a
         row the revision actually changed; untouched partitions are
         never opened for write, so they stay byte-identical, and a
         re-run finds zero changed rows and writes nothing
         (idempotent).

    Returns {"restated_rows", "rewritten_partitions", "config_changes",
    "scanned_partitions"}.

    At 100 TB: the config dim is driver-sized (collect of the delta is
    rows-per-contract-month), the scan is partition-pruned to the
    revision's date span, and the rewrite set is further narrowed to
    partitions with an actual change - a one-contract fix on a decade
    of history rewrites ~one month of directories.
    """
    from .profiling import snapshot_diff

    def _derived(cfg: DataFrame) -> DataFrame:
        if "accumulated_contract_diff" in cfg.columns:
            cfg = cfg.drop("accumulated_contract_diff")
        return derive_accumulated_gap(cfg)

    old_d, new_d = _derived(old_cfg), _derived(new_cfg)
    delta = snapshot_diff(
        old_d,
        new_d,
        key_cols=["contract_year_month"],
        compare_cols=[start_col, end_col, "accumulated_contract_diff"],
    ).collect()
    stats = {
        "restated_rows": 0,
        "rewritten_partitions": 0,
        "config_changes": len(delta),
        "scanned_partitions": 0,
    }
    if not delta:
        return stats

    # Affected date ranges as MERGED spans, never a per-day
    # materialization: a sentinel settle date (year 9999) or an
    # open-ended interval would make a day-by-day loop iterate
    # millions of times and build a plan-exploding isin() literal list
    # (r11 review finding). The predicate is one BETWEEN per merged
    # span - bounded by the number of changed contracts - and range
    # predicates on the partition column prune directories just like
    # the literal list did.
    spans: list = []
    for r in delta:
        for s, e in (
            (r[f"old_{start_col}"], r[f"old_{end_col}"]),
            (r[f"new_{start_col}"], r[f"new_{end_col}"]),
        ):
            if s is None or e is None:
                continue
            spans.append((s.date(), e.date()))
    spans.sort()
    merged: list = []
    for s, e in spans:
        if merged and s <= merged[-1][1] + _dt.timedelta(days=1):
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    stats["scanned_partitions"] = sum(
        (e - s).days + 1 for s, e in merged
    )

    if not merged:
        # every delta row had a null boundary: nothing locatable
        return stats
    pred = None
    for s, e in merged:
        clause = F.col("_date").between(F.lit(s), F.lit(e))
        pred = clause if pred is None else (pred | clause)
    sink = spark.read.parquet(sink_path)
    affected = sink.where(pred)
    restated = restate_frame(
        affected,
        new_d,
        ts_col=ts_col,
        price_cols=price_cols,
        start_col=start_col,
        end_col=end_col,
        end_inclusive=end_inclusive,
    ).persist()
    try:
        # one job yields both the changed-partition list and the row
        # total (previously a distinct + a count = two passes)
        changed = (
            restated.where("_restated")
            .groupBy("_date")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        changed_dates = [r["_date"] for r in changed]
        stats["restated_rows"] = int(sum(r["n"] for r in changed))
        stats["rewritten_partitions"] = len(changed_dates)
        if not changed_dates:
            return stats
        out = (
            restated.where(F.col("_date").isin(changed_dates))
            .drop(
                "_restated",
                "old_accumulated_contract_diff",
                "old_contract_year_month",
            )
            .select(*sink.columns)
            .sortWithinPartitions("_date", ts_col)
            # cut lineage: the overwrite targets the same files the
            # plan reads (the upsert_date_partitioned discipline)
            .localCheckpoint(eager=True)
        )
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(mode_key, "static")
        spark.conf.set(mode_key, "dynamic")
        try:
            out.write.mode("overwrite").partitionBy("_date").parquet(
                sink_path
            )
        finally:
            spark.conf.set(mode_key, prev)
    finally:
        restated.unpersist()
    return stats


def _apply_shift(joined, bars, cfg, price_cols, start_col, end_col):
    # one projection: every replaced column keeps its position
    diff = F.coalesce(F.col("accumulated_contract_diff"), F.lit(0.0))
    shifted = {c: bars[c] + diff for c in price_cols}
    shifted["accumulated_contract_diff"] = diff
    shifted["contract_year_month"] = F.coalesce(
        F.col("contract_year_month"), F.lit("")
    )
    return joined.withColumns(shifted).drop(
        start_col, end_col, "next_contract_diff"
    )
