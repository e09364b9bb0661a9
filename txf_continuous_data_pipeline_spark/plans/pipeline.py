"""End-to-end bar pipeline (SURVEY.md section 3.1) over the driver
testdata, with `events` standing in for the 1-min k-bar stream
(TESTDATA.md / FIXTURES.md section B).

Stage order mirrors the reference run (main.py:516-597):
  resample -> session split + label -> back-adjust (range join against a
  settlement config) -> drop the still-open trailing session -> watermark
  filter -> completeness gate -> append.

The settlement config here is DERIVED deterministically from the data
(one "contract" per ISO week of the events range, roll gap 10.0 per
week) so the whole pipeline stays oracle-checkable without external
fixtures; the real-world config would arrive via sources.read_table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.adjust import backadjust, derive_accumulated_gap
from ..operators.quality import EXPECTED_5MIN, drop_open_session, watermark_filter
from ..operators.resample import tumbling_ohlcv
from ..operators.sessions import split_and_label, with_session_labels
from ..sources import read_table

WEEKLY_GAP = 10.0


def weekly_settle_config(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Synthetic settle_config (FIXTURES.md A2 schema): one contract per
    calendar week of the input range; next_contract_diff = 10 * week#,
    accumulated derived as the exclusive prefix sum (A7, main.py:210).
    Intervals tile the range exactly: [week_start, next_week_start)."""
    weeks = (
        events.select(F.date_trunc("week", F.col(ts_col)).alias("start_k"))
        .distinct()
    )
    w = Window.orderBy("start_k")
    cfg = (
        weeks.withColumn("_rn", F.row_number().over(w))
        .select(
            F.date_format("start_k", "yyyyMMdd").alias("contract_year_month"),
            (F.col("_rn") * F.lit(WEEKLY_GAP)).alias("next_contract_diff"),
            F.col("start_k"),
            (F.col("start_k") + F.expr("INTERVAL 7 DAYS")).alias("settle_k"),
        )
    )
    return derive_accumulated_gap(cfg)


def with_mxf_code(df: DataFrame) -> DataFrame:
    """P2: stamp the contract code onto every output row (main.py:569,
    :578 - df['MXF_code'] = used_code). The reference stamps the single
    code it fetched that run; the batch engine processes many contract
    windows at once, so the per-row equivalent is the code of the
    matched config row ('' for bars outside every window)."""
    cym = F.col("contract_year_month")
    return df.withColumn(
        "MXF_code",
        F.when(cym != "", F.concat(F.lit("MXF"), cym)).otherwise(F.lit("")),
    )


_OUT_COLS = (
    "bar_ts",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "date_market_type",
    "session_id",
    "contract_year_month",
    "accumulated_contract_diff",
    "MXF_code",
)


_MATERIALIZED: list[DataFrame] = []


def _materialized(df: DataFrame) -> DataFrame:
    """Persist an intermediate that multiple downstream subplans consume
    (drop_open_session reads its input twice: per-session stats + the
    anti-join main side). Without this, each consumer re-derives the
    whole resample->label->backadjust chain from the scan - 12 source
    scans in one 60-min pipeline plan. MEMORY_AND_DISK (the persist
    default): spillable and recomputable, unlike a localCheckpoint.
    Bar-grain data is ~1/300th of tick grain, so the footprint is
    modest even at fact scale.

    Every persisted intermediate is tracked; batch entry points that
    own a complete lifecycle (incremental_run) release them via
    release_materialized() instead of leaving cleanup to driver GC."""
    df = df.persist()
    _MATERIALIZED.append(df)
    return df


def release_materialized() -> None:
    """Unpersist every pipeline intermediate persisted so far (no-op on
    frames already evicted or released)."""
    while _MATERIALIZED:
        _MATERIALIZED.pop().unpersist()


def _bars_5m(events: DataFrame) -> DataFrame:
    """resample(A1, closed-right): the 5-min OHLCV bars every pipeline
    starts from."""
    return tumbling_ohlcv(
        events, ts_col="ts", price_col="value", width="5 minutes", closed="right",
        out_ts="bar_ts",
    ).drop("n_rows")


def _gated_bars(
    labeled: DataFrame, cfg: DataFrame, expected, *, end_inclusive: bool
) -> DataFrame:
    """The shared tail: backadjust(J1+A7, broadcast range join) ->
    MXF_code stamp(P2) -> persisted intermediate -> drop-open-session
    (F7) at the `expected` per-session bar counts."""
    adjusted = _materialized(
        with_mxf_code(
            backadjust(
                labeled, cfg, ts_col="bar_ts", end_inclusive=end_inclusive
            )
        )
    )
    return drop_open_session(
        adjusted, expected, session_col="session_id", ts_col="bar_ts"
    ).select(*_OUT_COLS)


def bar_pipeline_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 5-min back-adjusted session bars from `events`.

    resample(A1, closed-right) -> split+label(F3/F4/P11/P12) ->
    backadjust(J1+A7, broadcast range join) -> MXF_code stamp(P2) ->
    drop-open-session(F7).
    """
    events = read_table(spark, sf_dir, "events")
    return _gated_bars(
        split_and_label(_bars_5m(events), "bar_ts"),
        weekly_settle_config(events),
        EXPECTED_5MIN,
        end_inclusive=False,
    )


def bar_pipeline_5m_cfgfile(
    spark: SparkSession, sf_dir: str, config_path: str
) -> DataFrame:
    """The 5-min pipeline against an EXTERNAL settlement config (S3
    faithful): same dataflow as bar_pipeline_5m, but the dimension comes
    from read_settle_config (typed coercion + null-key drop) instead of
    being derived, and the interval join is end-INCLUSIVE exactly like
    the reference predicate start_k <= t <= settle_k (main.py:302-305).
    """
    from ..sources import read_settle_config

    events = read_table(spark, sf_dir, "events")
    return _gated_bars(
        split_and_label(_bars_5m(events), "bar_ts"),
        read_settle_config(spark, config_path),
        EXPECTED_5MIN,
        end_inclusive=True,
    )


def bar_pipeline_60m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-min variant (A2): day-session 5-min bars roll up into
    phase-shifted 60-min bars (08:45-09:45-..., pandas offset='45min' ==
    Spark startTime), night-session bars into hour-aligned ones -
    computed in ONE pass with a conditional bucket (the two-branch
    union would derive the 5-min subplan twice) - then label,
    back-adjust, drop the open trailing session at the 60-min expected
    counts (D=5/N=14, main.py:331-334)."""
    from ..operators.quality import EXPECTED_60MIN
    from ..operators.resample import rollup_ohlcv_sessions

    events = read_table(spark, sf_dir, "events")
    bars60 = rollup_ohlcv_sessions(
        _bars_5m(events), ts_col="bar_ts", width="60 minutes",
        day_offset="45 minutes",
    ).drop("n_bars")
    return _gated_bars(
        with_session_labels(bars60, "bar_ts"),
        weekly_settle_config(events),
        EXPECTED_60MIN,
        end_inclusive=False,
    )


def incremental_run(
    spark: SparkSession, sf_dir: str, sink_path: str
) -> int:
    """Gate-2 batch run: pipeline -> watermark filter -> idempotent
    append (main.py:548-562 + append_safely). Returns rows appended;
    running twice appends zero the second time."""
    from ..sources import append_idempotent

    out = bar_pipeline_5m(spark, sf_dir)
    try:
        return append_idempotent(out, sink_path, ts_col="bar_ts")
    finally:
        # this entry point owns the whole batch lifecycle: release the
        # pipeline's persisted intermediate instead of leaking cached
        # blocks across repeated appends
        release_materialized()
