"""Driver-contract query registry.

Each entry: name -> (spark_fn, oracle_sql | None). spark_fn(spark, sf_dir)
returns a DataFrame built with the engine's operators; oracle_sql is the
equivalent ANSI SQL DuckDB runs on the same parquet views. Column names
and (for floats, rounded) values must match exactly - the driver sorts
columns by name and hashes values (see __spark_entry__.py docstring).

Convention notes shared by both sides:
  - timestamps are naive; Spark session tz pinned UTC (session.py).
  - tumbling buckets: [start, end) labeled by start. The reference's
    pandas closed='right' resample is reproduced by bucketing ts - 1us
    (SURVEY.md 1.4).
  - time-of-day comparisons at full microsecond precision.
  - ties in open/close: events.ts is unique (verified), min_by/arg_min on
    ts is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import date_market_type, session_id
from ..operators.adjust import backadjust, derive_accumulated_gap
from ..operators.calendar import settlement_schedule
from ..operators.quality import EXPECTED_5MIN, completeness_violations, session_counts
from ..operators.resample import tumbling_ohlcv
from ..operators.sessions import day_session, night_session, with_session_labels
from ..plans.pipeline import bar_pipeline_5m, bar_pipeline_60m, weekly_settle_config
from ..sources import read_table

from .registry import q


# ---------------------------------------------------------------------------
# Time-series operators on `events` (the k-bar stand-in)
# ---------------------------------------------------------------------------

_OHLCV_5M_SQL = """
SELECT time_bucket(INTERVAL 5 MINUTES, ts - INTERVAL 1 MICROSECOND) AS bar_ts,
       arg_min(value, ts) AS open,
       max(value)         AS high,
       min(value)         AS low,
       arg_max(value, ts) AS close,
       count(*)           AS volume,
       count(*)           AS n_rows
FROM events
GROUP BY 1
"""


@q("ohlcv_5m", _OHLCV_5M_SQL)
def ohlcv_5m(spark, sf_dir):
    """A1: 5-min tumbling OHLCV, closed='right' label='left'
    (main.py:263-265)."""
    return tumbling_ohlcv(
        read_table(spark, sf_dir, "events"),
        price_col="value",
        width="5 minutes",
        closed="right",
    )


_OHLCV_60M_SQL = """
SELECT time_bucket(INTERVAL 60 MINUTES, ts, INTERVAL 45 MINUTES) AS bar_ts,
       arg_min(value, ts) AS open,
       max(value)         AS high,
       min(value)         AS low,
       arg_max(value, ts) AS close,
       count(*)           AS volume,
       count(*)           AS n_rows
FROM events
WHERE ts::TIME >= TIME '08:45:00' AND ts::TIME <= TIME '13:45:00'
GROUP BY 1
"""


@q("ohlcv_60m_offset45", _OHLCV_60M_SQL)
def ohlcv_60m_offset45(spark, sf_dir):
    """A2: day-session 60-min bars phase-shifted 45 min so buckets run
    08:45-09:45-... (pandas offset='45min' == Spark startTime,
    main.py:272-274); closed='left' (the 60-min call's default, unlike
    the 5-min call)."""
    df = day_session(read_table(spark, sf_dir, "events"))
    return tumbling_ohlcv(
        df, price_col="value", width="60 minutes", offset="45 minutes",
        closed="left",
    )


@q(
    "session_split_day",
    """
SELECT event_id, ts, event_type, value FROM events
WHERE ts::TIME >= TIME '08:45:00' AND ts::TIME <= TIME '13:45:00'
""",
)
def session_split_day(spark, sf_dir):
    """F3: inclusive 08:45-13:45 time-of-day filter (main.py:268)."""
    return day_session(read_table(spark, sf_dir, "events")).select(
        "event_id", "ts", "event_type", "value"
    )


@q(
    "session_split_night",
    """
SELECT event_id, ts, event_type, value FROM events
WHERE ts::TIME >= TIME '15:00:00' OR ts::TIME <= TIME '05:00:00'
""",
)
def session_split_night(spark, sf_dir):
    """F4: 15:00-05:00 night filter - wraps midnight (main.py:269)."""
    return night_session(read_table(spark, sf_dir, "events")).select(
        "event_id", "ts", "event_type", "value"
    )


_LABELS_SQL = """
WITH k AS (
  SELECT event_id, ts,
         CASE WHEN hour(ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(ts) >= 15 OR hour(ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(ts) < 5 THEN (ts - INTERVAL 1 DAY)::DATE
              ELSE ts::DATE END AS sess_date
  FROM events
)
SELECT event_id, ts,
       strftime(sess_date, '%y%m%d') ||
         (CASE WHEN kind = 'N' THEN 'N' ELSE 'D' END) AS date_market_type,
       CASE WHEN kind = 'UNKNOWN' THEN 'UNKNOWN'
            ELSE strftime(sess_date, '%Y-%m-%d') || '_' || kind
       END AS session_id
FROM k
"""


@q("session_labels", _LABELS_SQL)
def session_labels(spark, sf_dir):
    """P11+P12: date_market_type and session_id; night rows before 05:00
    are dated to the previous day (main.py:281-291, :341-345)."""
    return with_session_labels(read_table(spark, sf_dir, "events")).select(
        "event_id", "ts", "date_market_type", "session_id"
    )


_SESSION_COUNTS_SQL = """
WITH k AS (
  SELECT CASE WHEN hour(ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(ts) >= 15 OR hour(ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(ts) < 5 THEN (ts - INTERVAL 1 DAY)::DATE
              ELSE ts::DATE END AS sess_date
  FROM events
)
SELECT CASE WHEN kind = 'UNKNOWN' THEN 'UNKNOWN'
            ELSE strftime(sess_date, '%Y-%m-%d') || '_' || kind END AS session_id,
       count(*) AS cnt
FROM k GROUP BY 1
"""


@q("session_counts", _SESSION_COUNTS_SQL)
def session_counts_q(spark, sf_dir):
    """A3: bars per session (value_counts, main.py:388-389)."""
    return session_counts(
        with_session_labels(read_table(spark, sf_dir, "events"))
    )


_GATE_SQL = """
WITH k AS (
  SELECT CASE WHEN hour(ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(ts) >= 15 OR hour(ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(ts) < 5 THEN (ts - INTERVAL 1 DAY)::DATE
              ELSE ts::DATE END AS sess_date
  FROM events
  WHERE (ts::TIME >= TIME '08:45:00' AND ts::TIME <= TIME '13:45:00')
     OR (ts::TIME >= TIME '15:00:00' OR ts::TIME <= TIME '05:00:00')
),
counts AS (
  SELECT CASE WHEN kind = 'UNKNOWN' THEN 'UNKNOWN'
              ELSE strftime(sess_date, '%Y-%m-%d') || '_' || kind
         END AS session_id,
         kind, count(*) AS cnt
  FROM k GROUP BY 1, 2
),
expected(kind, expected) AS (VALUES ('D', 60), ('N', 168))
SELECT c.session_id, c.cnt, CAST(e.expected AS BIGINT) AS expected
FROM counts c LEFT JOIN expected e USING (kind)
WHERE e.expected IS NULL OR c.cnt != e.expected
"""


@q("completeness_gate", _GATE_SQL)
def completeness_gate(spark, sf_dir):
    """A4 / Gate 1: sessions whose count differs from the expected map
    (check_completeness, main.py:369-401). On in-session rows only."""
    from ..operators.sessions import split_and_label

    labeled = split_and_label(read_table(spark, sf_dir, "events"))
    return completeness_violations(labeled, EXPECTED_5MIN)


_MISSING_BARS_SQL = """
WITH k AS (
  SELECT ts,
         CASE WHEN hour(ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(ts) >= 15 OR hour(ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(ts) < 5 THEN (ts - INTERVAL 1 DAY)::DATE
              ELSE ts::DATE END AS sess_date
  FROM events
  WHERE (ts::TIME >= TIME '08:45:00' AND ts::TIME <= TIME '13:45:00')
     OR (ts::TIME >= TIME '15:00:00' OR ts::TIME <= TIME '05:00:00')
),
sess AS (
  SELECT DISTINCT sess_date, kind FROM k WHERE kind IN ('D', 'N')
),
grid AS (
  SELECT strftime(sess_date, '%Y-%m-%d') || '_' || kind AS session_id,
         unnest(generate_series(
           sess_date::TIMESTAMP + CASE WHEN kind = 'D'
             THEN INTERVAL '8 hours 45 minutes'
             ELSE INTERVAL '15 hours' END,
           sess_date::TIMESTAMP + CASE WHEN kind = 'D'
             THEN INTERVAL '13 hours 40 minutes'
             ELSE INTERVAL '28 hours 55 minutes' END,
           INTERVAL 5 MINUTE)) AS bar_ts
  FROM sess
),
observed AS (
  SELECT DISTINCT make_timestamp(
           CAST(floor((epoch_us(ts) - 1) / 300000000.0)
                * 300000000 AS BIGINT)) AS bar_ts
  FROM k WHERE kind IN ('D', 'N')
)
SELECT g.session_id, g.bar_ts
FROM grid g LEFT JOIN observed o USING (bar_ts)
WHERE o.bar_ts IS NULL
"""


_GAP_STATS_SQL = f"""
WITH missing AS ({_MISSING_BARS_SQL}),
runs AS (
  SELECT session_id, bar_ts,
         bar_ts - row_number() OVER (PARTITION BY session_id
                                     ORDER BY bar_ts)
                  * INTERVAL 5 MINUTE AS grp
  FROM missing
),
islands AS (
  SELECT session_id, CAST(count(*) AS BIGINT) AS run_len
  FROM runs GROUP BY session_id, grp
)
SELECT session_id,
       CAST(sum(run_len) AS BIGINT) AS n_missing,
       CAST(max(run_len) AS BIGINT) AS longest_gap_bars,
       CAST(count(*) AS BIGINT) AS n_gap_runs
FROM islands GROUP BY session_id
"""


@q("session_gap_stats", _GAP_STATS_SQL)
def session_gap_stats_q(spark, sf_dir):
    """Triage aggregate over missing_bars_report: per session, how
    many bars are absent, the LONGEST consecutive run of absent bars
    (the gaps-and-islands idiom: bar_ts minus 5min x row_number is
    constant within a run), and the run count - one isolated missing
    bar reads as feed jitter, a 40-bar run reads as an outage, and
    Gate 1's pass/fail alone cannot tell them apart. One window + two
    aggregates over the dimension-sized missing frame."""
    missing = missing_bars_report_q(spark, sf_dir)
    w = Window.partitionBy("session_id").orderBy("bar_ts")
    grp = F.col("bar_ts").cast("long") - F.row_number().over(w) * 300
    islands = (
        missing.withColumn("grp", grp)
        .groupBy("session_id", "grp")
        .agg(F.count("*").cast("long").alias("run_len"))
    )
    return islands.groupBy("session_id").agg(
        F.sum("run_len").cast("long").alias("n_missing"),
        F.max("run_len").cast("long").alias("longest_gap_bars"),
        F.count("*").cast("long").alias("n_gap_runs"),
    )


_VOL_PROFILE_SQL = """
WITH k AS (
  SELECT ts, value,
         CASE WHEN hour(ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(ts) >= 15 OR hour(ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(ts) < 5 THEN (ts - INTERVAL 1 DAY)::DATE
              ELSE ts::DATE END AS sess_date
  FROM events
  WHERE (ts::TIME >= TIME '08:45:00' AND ts::TIME <= TIME '13:45:00')
     OR (ts::TIME >= TIME '15:00:00' OR ts::TIME <= TIME '05:00:00')
),
slotted AS (
  SELECT kind, sess_date, value,
         strftime(make_timestamp(
           CAST(floor((epoch_us(ts) - 1) / 300000000.0)
                * 300000000 AS BIGINT)), '%H:%M') AS slot
  FROM k WHERE kind IN ('D', 'N')
),
per_kind AS (
  SELECT kind, CAST(count(DISTINCT sess_date) AS BIGINT) AS n_sessions
  FROM slotted GROUP BY kind
)
SELECT s.kind, s.slot,
       CAST(count(*) AS BIGINT) AS n_events,
       round(count(*) / CAST(p.n_sessions AS DOUBLE), 6)
         AS events_per_session,
       round(sum(s.value), 4) AS total_value
FROM slotted s JOIN per_kind p USING (kind)
GROUP BY s.kind, s.slot, p.n_sessions
"""


@q("intraday_volume_profile", _VOL_PROFILE_SQL)
def intraday_volume_profile_q(spark, sf_dir):
    """The intraday seasonality curve (the open/close U-shape every
    futures desk charts): per session kind and 5-minute slot
    time-of-day, total event count, the per-session average (activity
    normalized by how many sessions contribute to the slot's kind),
    and summed value. Slots use the same closed-right ts-1us bucket
    labels as ohlcv_5m, formatted as HH:mm so day and night curves
    align across dates. One map-side-combined aggregate over a
    zero-shuffle slot projection + a 2-row broadcast session-count
    dim."""
    from ..operators.sessions import split_and_label

    labeled = split_and_label(read_table(spark, sf_dir, "events"))
    slot_ts = F.timestamp_micros(
        (
            F.floor((F.unix_micros(F.col("ts")) - 1) / 300000000.0)
            * 300000000
        ).cast("long")
    )
    slotted = labeled.select(
        F.substring_index(F.col("session_id"), "_", -1).alias("kind"),
        F.substring_index(F.col("session_id"), "_", 1).alias(
            "sess_date"
        ),
        F.date_format(slot_ts, "HH:mm").alias("slot"),
        "value",
    ).where(F.col("kind").isin("D", "N"))
    per_kind = slotted.groupBy("kind").agg(
        F.countDistinct("sess_date").cast("long").alias("n_sessions")
    )
    return (
        slotted.groupBy("kind", "slot")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("_v"),
        )
        .join(F.broadcast(per_kind), "kind")
        .select(
            "kind",
            "slot",
            "n_events",
            F.round(
                F.col("n_events") / F.col("n_sessions").cast("double"),
                6,
            ).alias("events_per_session"),
            F.round("_v", 4).alias("total_value"),
        )
    )


@q("missing_bars_report", _MISSING_BARS_SQL)
def missing_bars_report_q(spark, sf_dir):
    """Gate 1's DEBUGGING companion: completeness_gate says a session
    has the wrong bar count; this says exactly WHICH 5-minute bars
    are missing - per session, the expected grid marks (D: 08:45 ..
    13:40, 60 bars; N: 15:00 .. 04:55 next day, 168 bars - the
    reference's expected map, main.py:62-66) whose closed-right
    bucket holds zero in-session rows (the same ts-1us bucketing
    tumbling_ohlcv labels with, so a mark this report flags is
    exactly a bar ohlcv_5m will not emit). Scale shape: the grid is
    sessions x 60/168 generated rows (dimension-sized), observed
    labels are one zero-shuffle projection + distinct, and the gap is
    one anti-join on the bar label - no window, no per-session
    collect."""
    from ..operators.sessions import split_and_label

    labeled = split_and_label(read_table(spark, sf_dir, "events"))
    sess = (
        labeled.select(
            F.substring_index(F.col("session_id"), "_", 1).alias(
                "sess_date"
            ),
            F.substring_index(F.col("session_id"), "_", -1).alias(
                "kind"
            ),
        )
        .where(F.col("kind").isin("D", "N"))
        .distinct()
    )
    start = F.to_timestamp(
        F.concat(
            F.col("sess_date"),
            F.when(F.col("kind") == "D", F.lit(" 08:45:00")).otherwise(
                F.lit(" 15:00:00")
            ),
        )
    )
    end = F.when(
        F.col("kind") == "D",
        start + F.expr("INTERVAL 4 HOURS 55 MINUTES"),
    ).otherwise(start + F.expr("INTERVAL 13 HOURS 55 MINUTES"))
    grid = sess.select(
        F.concat_ws("_", "sess_date", "kind").alias("session_id"),
        F.explode(
            F.sequence(start, end, F.expr("INTERVAL 5 MINUTES"))
        ).alias("bar_ts"),
    )
    observed = labeled.select(
        F.timestamp_micros(
            (
                F.floor(
                    (F.unix_micros(F.col("ts")) - 1) / 300000000.0
                )
                * 300000000
            ).cast("long")
        ).alias("bar_ts")
    ).distinct()
    return grid.join(observed, "bar_ts", "left_anti").select(
        "session_id", "bar_ts"
    )


@q(
    "watermark_filter",
    """
SELECT event_id, ts, value FROM events
WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
""",
)
def watermark_filter_q(spark, sf_dir):
    """F5 / Gate 2 (main.py:548-558): rows strictly newer than the
    watermark; here the watermark is max(ts)-7d, mirroring the
    reference's 7-day lookback (QUERY_BACK_DAYS, main.py:61)."""
    events = read_table(spark, sf_dir, "events")
    wm = events.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("wm"))
    # scalar watermark via broadcast cross-join keeps the plan fully lazy
    return (
        events.crossJoin(F.broadcast(wm))
        .where(F.col("ts") > F.col("wm"))
        .select("event_id", "ts", "value")
    )


_CFG_CTE = """
weeks AS (
  SELECT DISTINCT date_trunc('week', ts)::TIMESTAMP AS start_k FROM events
),
numbered AS (
  SELECT start_k, row_number() OVER (ORDER BY start_k) AS rn FROM weeks
),
cfg AS (
  SELECT strftime(start_k, '%Y%m%d') AS contract_year_month,
         rn * 10.0 AS next_contract_diff,
         coalesce(sum(rn * 10.0) OVER (ORDER BY start_k
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS accumulated_contract_diff,
         start_k,
         start_k + INTERVAL 7 DAYS AS settle_k
  FROM numbered
)
"""


@q(
    "settle_config_derived",
    f"WITH {_CFG_CTE} SELECT * FROM cfg",
)
def settle_config_derived(spark, sf_dir):
    """A7: the synthetic weekly settle_config with the accumulated gap
    DERIVED as an exclusive prefix sum (invariant at main.py:210)."""
    return weekly_settle_config(read_table(spark, sf_dir, "events")).select(
        "contract_year_month",
        "next_contract_diff",
        "accumulated_contract_diff",
        "start_k",
        "settle_k",
    )


_BACKADJUST_SQL = f"""
WITH {_CFG_CTE}
SELECT e.event_id, e.ts,
       e.value + coalesce(c.accumulated_contract_diff, 0.0) AS value_adj,
       coalesce(c.contract_year_month, '') AS contract_year_month,
       coalesce(c.accumulated_contract_diff, 0.0) AS accumulated_contract_diff
FROM events e
LEFT JOIN cfg c ON date_trunc('week', e.ts) = c.start_k
"""
# NOTE on the oracle join: the Spark side executes the true
# point-in-interval join (backadjust, J1). The weekly config intervals
# tile calendar weeks exactly ([week_start, week_start+7d) with
# week-aligned start_k), so `ts in [start_k, settle_k)` is provably
# equivalent to `date_trunc('week', ts) = start_k`. The oracle uses the
# equi form both as an independent algorithm (stronger differential
# check) and because DuckDB 1.0.0's IEJoin spins indefinitely on a LEFT
# inequality join whose probe side is an aggregate subquery.


@q("backadjust_rangejoin", _BACKADJUST_SQL)
def backadjust_rangejoin(spark, sf_dir):
    """J1: point-in-interval broadcast join + price shift (the engine's
    replacement for the reference's O(n*m) apply(axis=1) loop at
    main.py:318)."""
    events = read_table(spark, sf_dir, "events")
    cfg = weekly_settle_config(events)
    bars = events.select("event_id", "ts", F.col("value").alias("value_adj"))
    out = backadjust(
        bars, cfg, ts_col="ts", price_cols=("value_adj",), end_inclusive=False
    )
    return out.select(
        "event_id", "ts", "value_adj", "contract_year_month",
        "accumulated_contract_diff",
    )


_RESTATE_SQL = f"""
WITH {_CFG_CTE},
cfg2 AS (
  SELECT strftime(start_k, '%Y%m%d') AS contract_year_month,
         coalesce(sum(rn * 10.0 + CASE WHEN rn = 3 THEN 5.0 ELSE 0.0 END)
             OVER (ORDER BY start_k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS new_acc
  FROM numbered
)
SELECT c.contract_year_month,
       round(c.accumulated_contract_diff, 6) AS old_diff,
       round(n.new_acc, 6)                   AS new_diff,
       round(n.new_acc - c.accumulated_contract_diff, 6) AS shift_delta,
       count(*) AS restated_rows
FROM cfg c
JOIN cfg2 n USING (contract_year_month)
JOIN events e ON date_trunc('week', e.ts) = c.start_k
WHERE n.new_acc <> c.accumulated_contract_diff
GROUP BY 1, 2, 3, 4
ORDER BY contract_year_month
"""
# Same oracle-join note as _BACKADJUST_SQL: the weekly intervals tile
# calendar weeks exactly, so the equi form is provably the interval join.


@q("restate_impact_report", _RESTATE_SQL)
def restate_impact_report_q(spark, sf_dir):
    """Config-revision restatement impact - the reference's silent
    blind spot (main.py:210 prefix-sum invariant + main.py:548
    append-only Gate 2: a corrected settlement row never reaches sunk
    adjusted history). Scenario: the 3rd weekly contract's roll gap is
    revised +5; by the invariant every LATER contract's accumulated
    offset moves. restate_frame (operators/adjust.py) inverts the
    stored shift per row and re-adjusts against the revised config;
    the report is the per-contract blast radius: old/new offset, the
    shift applied, and how many sunk rows were restated. The on-disk
    twin (targeted partition rewrite) is restate_adjusted_history,
    pinned by tests/test_restatement.py."""
    from ..operators.adjust import derive_accumulated_gap, restate_frame

    events = read_table(spark, sf_dir, "events")
    cfg_old = weekly_settle_config(events)
    cfg_new = derive_accumulated_gap(
        cfg_old.drop("accumulated_contract_diff").withColumn(
            "next_contract_diff",
            F.col("next_contract_diff")
            + F.when(F.col("next_contract_diff") == 30.0, 5.0).otherwise(
                0.0
            ),
        )
    )
    bars = events.select(
        "event_id", "ts", F.col("value").alias("value_adj")
    )
    sunk = backadjust(
        bars, cfg_old, ts_col="ts", price_cols=("value_adj",),
        end_inclusive=False,
    )
    restated = restate_frame(
        sunk, cfg_new, ts_col="ts", price_cols=("value_adj",),
        end_inclusive=False,
    )
    diff_new = F.col("accumulated_contract_diff")
    diff_old = F.col("old_accumulated_contract_diff")
    return (
        restated.where(F.col("_restated"))
        .groupBy("contract_year_month")
        .agg(
            F.round(F.min(diff_old), 6).alias("old_diff"),
            F.round(F.min(diff_new), 6).alias("new_diff"),
            F.round(F.min(diff_new - diff_old), 6).alias("shift_delta"),
            F.count("*").alias("restated_rows"),
        )
        .orderBy("contract_year_month")
    )


_PIPELINE_SQL = f"""
WITH {_CFG_CTE},
bars AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts - INTERVAL 1 MICROSECOND) AS bar_ts,
         arg_min(value, ts) AS open,
         max(value)         AS high,
         min(value)         AS low,
         arg_max(value, ts) AS close,
         count(*)           AS volume
  FROM events GROUP BY 1
),
labeled AS (
  SELECT b.*,
         CASE WHEN hour(bar_ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(bar_ts) >= 15 OR hour(bar_ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(bar_ts) < 5 THEN (bar_ts - INTERVAL 1 DAY)::DATE
              ELSE bar_ts::DATE END AS sess_date
  FROM bars b
  WHERE (bar_ts::TIME >= TIME '08:45:00' AND bar_ts::TIME <= TIME '13:45:00')
     OR (bar_ts::TIME >= TIME '15:00:00' OR bar_ts::TIME <= TIME '05:00:00')
),
adjusted AS (
  SELECT l.bar_ts,
         l.open + coalesce(c.accumulated_contract_diff, 0.0)  AS open,
         l.high + coalesce(c.accumulated_contract_diff, 0.0)  AS high,
         l.low + coalesce(c.accumulated_contract_diff, 0.0)   AS low,
         l.close + coalesce(c.accumulated_contract_diff, 0.0) AS close,
         l.volume,
         strftime(l.sess_date, '%y%m%d') ||
           (CASE WHEN l.kind = 'N' THEN 'N' ELSE 'D' END) AS date_market_type,
         CASE WHEN l.kind = 'UNKNOWN' THEN 'UNKNOWN'
              ELSE strftime(l.sess_date, '%Y-%m-%d') || '_' || l.kind
         END AS session_id,
         coalesce(c.contract_year_month, '') AS contract_year_month,
         coalesce(c.accumulated_contract_diff, 0.0) AS accumulated_contract_diff,
         CASE WHEN coalesce(c.contract_year_month, '') <> ''
              THEN 'MXF' || c.contract_year_month ELSE '' END AS MXF_code
  FROM labeled l
  LEFT JOIN cfg c ON date_trunc('week', l.bar_ts) = c.start_k
),
last_session AS (
  SELECT session_id FROM adjusted ORDER BY bar_ts DESC LIMIT 1
),
open_session AS (
  SELECT a.session_id
  FROM adjusted a JOIN last_session ls USING (session_id)
  GROUP BY a.session_id
  HAVING count(*) < (CASE WHEN a.session_id = 'UNKNOWN' THEN 9223372036854775807
                          WHEN right(a.session_id, 1) = 'D' THEN 60
                          ELSE 168 END)
)
SELECT * FROM adjusted
WHERE session_id NOT IN (SELECT session_id FROM open_session)
"""




# Session artifact of the gated 5-min pipeline output per corpus (the
# _neardup_components discipline applied to the reference flagship):
# twenty registry call sites consume bar_pipeline_5m (the session
# risk/microstructure family grew it past the original thirteen),
# and each re-ran
# the resample -> label -> backadjust -> gate chain from the events
# scan. The memoized frame is persist()ed, NOT checkpointed - lineage
# (and every plan pin reading it) is unchanged; only the blocks are
# warm. A rewritten corpus unpersists the superseded frame (the store
# releases it; the release_materialized() lifecycle cannot see it).
# Bar grain is ~1/300th of tick grain, so the footprint is modest.
def _cached_bar_pipeline(spark, sf_dir):
    from .registry import artifact

    return artifact(
        spark, sf_dir, "events", "bar_pipeline_5m",
        lambda: bar_pipeline_5m(spark, sf_dir).persist(),
    )


@q("bar_pipeline_5m", _PIPELINE_SQL)
def bar_pipeline_5m_q(spark, sf_dir):
    """Flagship: the full reference dataflow (resample -> split/label ->
    back-adjust -> drop-open-session) as one composed plan."""
    return _cached_bar_pipeline(spark, sf_dir)


_PIPELINE60_SQL = f"""
WITH {_CFG_CTE},
bars5 AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts - INTERVAL 1 MICROSECOND) AS bar_ts,
         arg_min(value, ts) AS open,
         max(value)         AS high,
         min(value)         AS low,
         arg_max(value, ts) AS close,
         count(*)           AS volume
  FROM events GROUP BY 1
),
day60 AS (
  SELECT time_bucket(INTERVAL 60 MINUTES, bar_ts, INTERVAL 45 MINUTES) AS bar_ts,
         arg_min(open, bar_ts)  AS open,
         max(high)              AS high,
         min(low)               AS low,
         arg_max(close, bar_ts) AS close,
         CAST(sum(volume) AS BIGINT) AS volume
  FROM bars5
  WHERE bar_ts::TIME >= TIME '08:45:00' AND bar_ts::TIME <= TIME '13:45:00'
  GROUP BY 1
),
night60 AS (
  SELECT time_bucket(INTERVAL 60 MINUTES, bar_ts) AS bar_ts,
         arg_min(open, bar_ts)  AS open,
         max(high)              AS high,
         min(low)               AS low,
         arg_max(close, bar_ts) AS close,
         CAST(sum(volume) AS BIGINT) AS volume
  FROM bars5
  WHERE bar_ts::TIME >= TIME '15:00:00' OR bar_ts::TIME <= TIME '05:00:00'
  GROUP BY 1
),
bars60 AS (SELECT * FROM day60 UNION ALL SELECT * FROM night60),
labeled AS (
  SELECT b.*,
         CASE WHEN hour(bar_ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(bar_ts) >= 15 OR hour(bar_ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(bar_ts) < 5 THEN (bar_ts - INTERVAL 1 DAY)::DATE
              ELSE bar_ts::DATE END AS sess_date
  FROM bars60 b
),
adjusted AS (
  SELECT l.bar_ts,
         l.open + coalesce(c.accumulated_contract_diff, 0.0)  AS open,
         l.high + coalesce(c.accumulated_contract_diff, 0.0)  AS high,
         l.low + coalesce(c.accumulated_contract_diff, 0.0)   AS low,
         l.close + coalesce(c.accumulated_contract_diff, 0.0) AS close,
         l.volume,
         strftime(l.sess_date, '%y%m%d') ||
           (CASE WHEN l.kind = 'N' THEN 'N' ELSE 'D' END) AS date_market_type,
         CASE WHEN l.kind = 'UNKNOWN' THEN 'UNKNOWN'
              ELSE strftime(l.sess_date, '%Y-%m-%d') || '_' || l.kind
         END AS session_id,
         coalesce(c.contract_year_month, '') AS contract_year_month,
         coalesce(c.accumulated_contract_diff, 0.0) AS accumulated_contract_diff,
         CASE WHEN coalesce(c.contract_year_month, '') <> ''
              THEN 'MXF' || c.contract_year_month ELSE '' END AS MXF_code
  FROM labeled l
  LEFT JOIN cfg c ON date_trunc('week', l.bar_ts) = c.start_k
),
last_session AS (
  SELECT session_id FROM adjusted ORDER BY bar_ts DESC LIMIT 1
),
open_session AS (
  SELECT a.session_id
  FROM adjusted a JOIN last_session ls USING (session_id)
  GROUP BY a.session_id
  HAVING count(*) < (CASE WHEN a.session_id = 'UNKNOWN' THEN 9223372036854775807
                          WHEN right(a.session_id, 1) = 'D' THEN 5
                          ELSE 14 END)
)
SELECT * FROM adjusted
WHERE session_id NOT IN (SELECT session_id FROM open_session)
"""


@q("bar_pipeline_60m", _PIPELINE60_SQL)
def bar_pipeline_60m_q(spark, sf_dir):
    """A2 end to end: 60-min bars rolled up FROM the session-split 5-min
    bars (hypertable rollup; day side phase-shifted 45 min), then the
    same label/back-adjust/drop-open chain at the 60-min expected counts
    (D=5/N=14)."""
    return bar_pipeline_60m(spark, sf_dir)


_PREDICT_SQL = """
WITH months AS (
  SELECT DISTINCT date_trunc('month', o_orderdate)::DATE AS month_start FROM orders
),
wed AS (
  SELECT month_start,
         month_start + (((2 - (dayofweek(month_start) + 6) % 7) + 7) % 7 + 14)
           * INTERVAL 1 DAY AS wed3
  FROM months
),
sched AS (
  SELECT strftime(month_start, '%Y%m') AS contract_year_month,
         month_start,
         wed3::TIMESTAMP + INTERVAL 13 HOURS + INTERVAL 25 MINUTES AS settle_k,
         row_number() OVER (ORDER BY month_start) * 10.0 AS next_contract_diff
  FROM wed
),
cfg AS (
  SELECT *,
         coalesce(sum(next_contract_diff) OVER (ORDER BY month_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS accumulated_contract_diff
  FROM sched
),
last_row AS (SELECT * FROM cfg ORDER BY settle_k DESC LIMIT 1),
nxt AS (
  SELECT date_trunc('month',
           strptime(contract_year_month, '%Y%m')::DATE + INTERVAL 31 DAYS)::DATE
           AS nm,
         settle_k AS last_settle,
         accumulated_contract_diff + next_contract_diff AS acc
  FROM last_row
)
SELECT strftime(nm, '%Y%m') AS contract_year_month,
       0.0 AS next_contract_diff,
       acc AS accumulated_contract_diff,
       last_settle + INTERVAL 5 MINUTES AS start_k,
       (nm + (((2 - (dayofweek(nm) + 6) % 7) + 7) % 7 + 14) * INTERVAL 1 DAY)::TIMESTAMP
         + INTERVAL 13 HOURS + INTERVAL 25 MINUTES AS settle_k
FROM nxt
"""


@q("predict_next_contract", _PREDICT_SQL)
def predict_next_contract_q(spark, sf_dir):
    """calculate_next_contract (main.py:191-224) end to end: settlement
    schedule over orders' months with synthetic roll gaps (10*i), then
    the predicted next-contract row - next yyyyMM via +31d from month
    start (P7/P8), third-Wednesday 13:25 settle (P9), start = last
    settle + 5 min, accumulated gap rolled forward (A7/A6)."""
    from ..operators.adjust import derive_accumulated_gap
    from ..operators.calendar import predict_next_contract

    months = (
        read_table(spark, sf_dir, "orders")
        .select(F.trunc("o_orderdate", "month").alias("month_start"))
        .distinct()
    )
    w = Window.orderBy("month_start")
    cfg = (
        settlement_schedule(months)
        .withColumn("next_contract_diff", F.row_number().over(w) * F.lit(10.0))
    )
    cfg = derive_accumulated_gap(cfg, order_col="month_start")
    return predict_next_contract(cfg).select(
        "contract_year_month",
        "next_contract_diff",
        "accumulated_contract_diff",
        "start_k",
        "settle_k",
    )


_SCHEDULE_SQL = """
WITH months AS (
  SELECT DISTINCT date_trunc('month', o_orderdate)::DATE AS month_start FROM orders
),
wed AS (
  SELECT month_start,
         month_start + (((2 - (dayofweek(month_start) + 6) % 7) + 7) % 7 + 14)
           * INTERVAL 1 DAY AS wed3
  FROM months
)
SELECT strftime(month_start, '%Y%m') AS contract_year_month,
       month_start::TIMESTAMP AS month_start,
       wed3::TIMESTAMP + INTERVAL 13 HOURS + INTERVAL 25 MINUTES AS settle_k,
       lag(wed3::TIMESTAMP + INTERVAL 13 HOURS + INTERVAL 25 MINUTES)
           OVER (ORDER BY month_start) + INTERVAL 5 MINUTES AS start_k
FROM wed
"""


@q("settlement_schedule", _SCHEDULE_SQL)
def settlement_schedule_q(spark, sf_dir):
    """P7-P10 + A6: third-Wednesday settlement calendar per month of
    orders.o_orderdate (calculate_next_contract, main.py:191-224)."""
    months = (
        read_table(spark, sf_dir, "orders")
        .select(F.trunc("o_orderdate", "month").alias("month_start"))
        .distinct()
    )
    return settlement_schedule(months).select(
        "contract_year_month",
        F.col("month_start").cast("timestamp").alias("month_start"),
        "settle_k",
        "start_k",
    )




# ---------------------------------------------------------------------------
# External settlement-config ingestion (S3 faithful) + the pipeline on it
# ---------------------------------------------------------------------------

SETTLE_CONFIG_PATH = "/root/repo/tests/fixtures/settle_config.csv"

# Raw strings + TRY_CAST reproduce the engine's null-on-fail coercion
# (P4/P5); the WHERE clause is the F1 null-key drop (main.py:187).
_CFG_FILE_CTE = f"""
cfg AS (
  SELECT contract_year_month,
         TRY_CAST(next_contract_diff AS DOUBLE) AS next_contract_diff,
         TRY_CAST(accumulated_contract_diff AS DOUBLE)
           AS accumulated_contract_diff,
         TRY_CAST(start_k AS TIMESTAMP) AS start_k,
         TRY_CAST(settle_k AS TIMESTAMP) AS settle_k
  FROM read_csv('{SETTLE_CONFIG_PATH}', header=true, all_varchar=true)
  WHERE contract_year_month IS NOT NULL AND contract_year_month <> ''
)
"""


@q("settle_config_file", f"WITH {_CFG_FILE_CTE} SELECT * FROM cfg")
def settle_config_file(spark, sf_dir):
    """S3 faithful: external settlement-config load with typed coercion
    (P4/P5 null-on-fail casts) and the F1 null-key drop, from the
    template-format CSV fixture (_load_config, main.py:174-187)."""
    from ..sources import read_settle_config

    return read_settle_config(spark, SETTLE_CONFIG_PATH)


# The interval match is expressed as correlated scalar subqueries, which
# doubles as a non-overlap assertion (DuckDB errors if a bar matches two
# config rows) and sidesteps DuckDB's IEJoin planner on LEFT range joins
# over aggregate subqueries (see the backadjust_rangejoin note).
_PIPELINE_CFGFILE_SQL = f"""
WITH {_CFG_FILE_CTE},
bars AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts - INTERVAL 1 MICROSECOND) AS bar_ts,
         arg_min(value, ts) AS open,
         max(value)         AS high,
         min(value)         AS low,
         arg_max(value, ts) AS close,
         count(*)           AS volume
  FROM events GROUP BY 1
),
labeled AS (
  SELECT b.*,
         CASE WHEN hour(bar_ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(bar_ts) >= 15 OR hour(bar_ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(bar_ts) < 5 THEN (bar_ts - INTERVAL 1 DAY)::DATE
              ELSE bar_ts::DATE END AS sess_date
  FROM bars b
  WHERE (bar_ts::TIME >= TIME '08:45:00' AND bar_ts::TIME <= TIME '13:45:00')
     OR (bar_ts::TIME >= TIME '15:00:00' OR bar_ts::TIME <= TIME '05:00:00')
),
matched AS (
  SELECT l.*,
         (SELECT c.contract_year_month FROM cfg c
          WHERE l.bar_ts >= c.start_k AND l.bar_ts <= c.settle_k) AS cym,
         (SELECT c.accumulated_contract_diff FROM cfg c
          WHERE l.bar_ts >= c.start_k AND l.bar_ts <= c.settle_k) AS acc
  FROM labeled l
),
adjusted AS (
  SELECT m.bar_ts,
         m.open + coalesce(m.acc, 0.0)  AS open,
         m.high + coalesce(m.acc, 0.0)  AS high,
         m.low + coalesce(m.acc, 0.0)   AS low,
         m.close + coalesce(m.acc, 0.0) AS close,
         m.volume,
         strftime(m.sess_date, '%y%m%d') ||
           (CASE WHEN m.kind = 'N' THEN 'N' ELSE 'D' END) AS date_market_type,
         CASE WHEN m.kind = 'UNKNOWN' THEN 'UNKNOWN'
              ELSE strftime(m.sess_date, '%Y-%m-%d') || '_' || m.kind
         END AS session_id,
         coalesce(m.cym, '') AS contract_year_month,
         coalesce(m.acc, 0.0) AS accumulated_contract_diff,
         CASE WHEN coalesce(m.cym, '') <> ''
              THEN 'MXF' || m.cym ELSE '' END AS MXF_code
  FROM matched m
),
last_session AS (
  SELECT session_id FROM adjusted ORDER BY bar_ts DESC LIMIT 1
),
open_session AS (
  SELECT a.session_id
  FROM adjusted a JOIN last_session ls USING (session_id)
  GROUP BY a.session_id
  HAVING count(*) < (CASE WHEN a.session_id = 'UNKNOWN' THEN 9223372036854775807
                          WHEN right(a.session_id, 1) = 'D' THEN 60
                          ELSE 168 END)
)
SELECT * FROM adjusted
WHERE session_id NOT IN (SELECT session_id FROM open_session)
"""


@q("bar_pipeline_5m_cfgfile", _PIPELINE_CFGFILE_SQL)
def bar_pipeline_5m_cfgfile_q(spark, sf_dir):
    """The flagship pipeline against an EXTERNAL settle config file:
    resample -> split/label -> end-INCLUSIVE range join back-adjust
    (start_k <= t <= settle_k, main.py:302-305) -> MXF_code stamp (P2)
    -> drop-open-session."""
    from ..plans.pipeline import bar_pipeline_5m_cfgfile

    return bar_pipeline_5m_cfgfile(spark, sf_dir, SETTLE_CONFIG_PATH)


_PREDICT_FILE_SQL = f"""
WITH {_CFG_FILE_CTE},
clean AS (
  SELECT * FROM cfg
  WHERE next_contract_diff IS NOT NULL
    AND accumulated_contract_diff IS NOT NULL
    AND start_k IS NOT NULL AND settle_k IS NOT NULL
),
last_row AS (SELECT * FROM clean ORDER BY settle_k DESC LIMIT 1),
nxt AS (
  SELECT date_trunc('month',
           strptime(contract_year_month, '%Y%m')::DATE + INTERVAL 31 DAYS)::DATE
           AS nm,
         settle_k AS last_settle,
         accumulated_contract_diff + next_contract_diff AS acc
  FROM last_row
)
SELECT * FROM clean
UNION ALL
SELECT strftime(nm, '%Y%m') AS contract_year_month,
       0.0 AS next_contract_diff,
       acc AS accumulated_contract_diff,
       last_settle + INTERVAL 5 MINUTES AS start_k,
       (nm + (((2 - (dayofweek(nm) + 6) % 7) + 7) % 7 + 14) * INTERVAL 1 DAY)::TIMESTAMP
         + INTERVAL 13 HOURS + INTERVAL 25 MINUTES AS settle_k
FROM nxt
"""


@q("config_with_prediction", _PREDICT_FILE_SQL)
def config_with_prediction(spark, sf_dir):
    """O3 end to end on the EXTERNAL config: validated rows + the
    predicted next-contract row appended via with_predicted_contract
    (main.py:216-222). The prediction chain (A6 last row -> P7/P8 next
    month -> P9 third Wednesday -> A7 gap rollup) runs on file-loaded
    state instead of a derived calendar."""
    from ..operators.calendar import with_predicted_contract
    from ..sources import read_settle_config

    cfg = read_settle_config(spark, SETTLE_CONFIG_PATH).where(
        F.col("next_contract_diff").isNotNull()
        & F.col("accumulated_contract_diff").isNotNull()
        & F.col("start_k").isNotNull()
        & F.col("settle_k").isNotNull()
    )
    return with_predicted_contract(cfg)


_SESSION_OHLCV_SQL = f"""
SELECT session_id, date_market_type,
       arg_min(open, bar_ts)  AS open,
       max(high)              AS high,
       min(low)               AS low,
       arg_max(close, bar_ts) AS close,
       CAST(sum(volume) AS BIGINT) AS volume,
       count(*) AS n_bars
FROM ({_PIPELINE_SQL}) base
GROUP BY session_id, date_market_type
"""


@q("session_ohlcv", _SESSION_OHLCV_SQL)
def session_ohlcv(spark, sf_dir):
    """Level-3 hypertable rollup: one back-adjusted OHLCV row per
    trading session (the daily continuous-contract bar a downstream
    consumer actually charts), rolled up from the gated 5-min pipeline
    output. Same aggregation discipline as every rollup: min_by/max_by
    on the bar timestamp, never first/last."""
    bars = _cached_bar_pipeline(spark, sf_dir)
    ts = F.col("bar_ts")
    return bars.groupBy("session_id", "date_market_type").agg(
        F.min_by("open", ts).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", ts).alias("close"),
        F.sum("volume").cast("long").alias("volume"),
        F.count("*").alias("n_bars"),
    )


_CONT_RETURNS_SQL = f"""
WITH base AS ({_PIPELINE_SQL}),
r AS (
  SELECT bar_ts, session_id, close,
         lag(close) OVER (ORDER BY bar_ts) AS prev_close
  FROM base
  WHERE session_id NOT LIKE '%UNKNOWN'
)
SELECT bar_ts, session_id, round(close, 4) AS adj_close,
       CASE WHEN prev_close IS NOT NULL
                 AND close / prev_close > 0
            THEN round(ln(close / prev_close), 6) END AS log_return
FROM r
"""


@q("continuous_returns", _CONT_RETURNS_SQL)
def continuous_returns_q(spark, sf_dir):
    """THE reason back-adjustment exists: bar-over-bar log returns on
    the continuous adjusted series are roll-jump-free (raw closes gap
    at every contract roll; the accumulated offset removes exactly
    that gap, so a return computed across a roll measures the market,
    not the roll). Built on the gated 5-min pipeline output.

    Scale shape vs the oracle: DuckDB lags over ONE global ordering;
    a global window is the single-task anti-pattern at 100 TB, so the
    Spark side computes intra-session returns with a
    SESSION-PARTITIONED lag (parallel) and closes each session's
    first bar against the previous session's last close via a
    dimension-sized session summary (one row per session: min_by /
    max_by closes) lagged on the session level and broadcast back -
    structurally different plans, value-identical because sessions
    are time-disjoint (the session_overlap_stats oracle discipline).
    Guarded ln: a non-positive adjusted ratio yields NULL on both
    engines instead of engine-specific NaN behavior."""
    # UNKNOWN-labeled bars (session-boundary bucket artifacts) are a
    # single pseudo-session spanning every date - they would break the
    # time-disjoint-sessions equivalence between the oracle's global
    # lag and the partitioned decomposition, and a return against a
    # boundary artifact is not a market return anyway.
    # The return computation itself lives in operators/returns.py
    # (r11: shared with the streaming realized-vol monitor).
    from ..operators.returns import continuous_log_returns

    bars = _cached_bar_pipeline(spark, sf_dir).where(
        F.substring_index(F.col("session_id"), "_", -1) != "UNKNOWN"
    )
    return continuous_log_returns(bars)


_RVOL_SQL = f"""
WITH cr AS ({_CONT_RETURNS_SQL})
SELECT session_id,
       CAST(count(log_return) AS BIGINT) AS n_returns,
       round(sqrt(sum(log_return * log_return)), 6) AS realized_vol,
       round(max(abs(log_return)), 6) AS max_abs_return
FROM cr WHERE log_return IS NOT NULL
GROUP BY session_id
"""


@q("session_realized_vol", _RVOL_SQL)
def session_realized_vol_q(spark, sf_dir):
    """Per-session realized volatility over the continuous adjusted
    returns (sqrt of the sum of squared 5-min log returns - the
    standard realized-variance estimator) plus the largest absolute
    bar return: the risk summary a desk reads off the continuous
    series, and only meaningful BECAUSE the series is back-adjusted
    (on raw closes every roll would print as a fake volatility
    spike). One map-side-combined aggregate over continuous_returns'
    frame."""
    from ..operators.returns import session_realized_vol

    return session_realized_vol(continuous_returns_q(spark, sf_dir))


# mirrors operators/returns.session_vwap's exact-arithmetic
# discipline: DECIMAL product sum (order-independent), 6dp
# half-away-from-zero rounding in INTEGER micro-units, notional
# rounded as DECIMAL before the double cast - no double participates
# before the final constant division, so halves cannot diverge
# between engines (the r11 flake class, closed for good)
_VWAP_SQL = f"""
WITH base AS ({_PIPELINE_SQL}),
sums AS (
  SELECT session_id, date_market_type,
         sum(CAST(close AS DECIMAL(15,6)) * volume) AS pv,
         CAST(sum(volume) AS BIGINT) AS volume
  FROM base GROUP BY session_id, date_market_type
)
SELECT session_id, date_market_type,
       (CASE WHEN pv < 0 THEN -1 WHEN pv > 0 THEN 1 ELSE 0 END)
         * ((2 * abs(CAST(pv * 1000000 AS BIGINT)) + volume)
            // (2 * volume)) / 1000000.0 AS vwap,
       volume,
       CAST(round(pv, 4) AS DOUBLE) AS notional
FROM sums
"""


@q("session_vwap", _VWAP_SQL)
def session_vwap_q(spark, sf_dir):
    """Per-session volume-weighted average price over the adjusted
    continuous series + traded volume and notional - the execution
    benchmark a desk marks fills against, and (like realized vol)
    only meaningful on the BACK-ADJUSTED series: raw closes would
    bend every session's VWAP that straddles a roll. One
    map-side-combined aggregate over the gated 5-min pipeline output;
    the aggregate itself is operators/returns.session_vwap, shared
    verbatim with the streaming monitor."""
    from ..operators.returns import session_vwap

    return session_vwap(
        _cached_bar_pipeline(spark, sf_dir),
        extra_group_cols=("date_market_type",),
    )


_FWD_ADJUST_SQL = f"""
WITH {_CFG_CTE},
base AS ({_PIPELINE_SQL}),
tot AS (
  SELECT accumulated_contract_diff AS last_acc
  FROM cfg ORDER BY start_k DESC LIMIT 1
)
SELECT b.bar_ts, b.contract_year_month,
       round(b.close, 4) AS back_close,
       round(b.close - t.last_acc, 4) AS forward_close
FROM base b, tot t
WHERE b.contract_year_month <> ''
"""


@q("forward_adjusted_series", _FWD_ADJUST_SQL)
def forward_adjusted_series_q(spark, sf_dir):
    """The DUAL adjustment convention: the reference back-adjusts
    (offsets anchor history to each bar's own contract window, so the
    oldest window is unshifted); the forward-adjusted series anchors
    the LATEST contract at its raw price instead - the convention a
    desk uses when today's tradeable level must print unmodified.
    With additive offsets the two series differ by ONE scalar (the
    final window's accumulated gap): forward = back - last_acc, so no
    second interval join is needed - the scalar rides a broadcast
    1-row cross join (the watermark_filter discipline). Emitting both
    columns makes the oracle pin the constant-spread invariant on
    every bar."""
    events = read_table(spark, sf_dir, "events")
    bars = _cached_bar_pipeline(spark, sf_dir).where(
        F.col("contract_year_month") != ""
    )
    cfg = weekly_settle_config(events)
    last = (
        cfg.orderBy(F.col("start_k").desc())
        .limit(1)
        .select(F.col("accumulated_contract_diff").alias("last_acc"))
    )
    return bars.crossJoin(F.broadcast(last)).select(
        "bar_ts",
        "contract_year_month",
        F.round("close", 4).alias("back_close"),
        F.round(F.col("close") - F.col("last_acc"), 4).alias(
            "forward_close"
        ),
    )


_RATIO_ADJUST_SQL = f"""
WITH {_CFG_CTE},
base AS ({_PIPELINE_SQL}),
sc AS (
  SELECT contract_year_month,
         arg_max(close - accumulated_contract_diff, bar_ts)
           AS raw_settle
  FROM base WHERE contract_year_month <> ''
  GROUP BY contract_year_month
),
rt AS (
  SELECT c.contract_year_month, c.start_k,
         (s.raw_settle + c.next_contract_diff)
           / nullif(s.raw_settle, 0.0) AS ratio
  FROM cfg c JOIN sc s USING (contract_year_month)
),
cum AS (
  SELECT contract_year_month,
         exp(coalesce(sum(CASE WHEN ratio > 0 THEN ln(ratio) END)
               OVER (ORDER BY start_k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0.0)) AS cum_ratio
  FROM rt
)
SELECT b.bar_ts, b.contract_year_month,
       round(b.close, 4) AS add_close,
       round((b.close - b.accumulated_contract_diff) * k.cum_ratio, 4)
         AS ratio_close
FROM base b JOIN cum k USING (contract_year_month)
WHERE b.contract_year_month <> ''
"""


@q("ratio_adjusted_series", _RATIO_ADJUST_SQL)
def ratio_adjusted_series_q(spark, sf_dir):
    """The MULTIPLICATIVE continuous-contract adjustment - the other
    standard method next to the reference's additive one (additive
    preserves point differences across rolls; ratio preserves
    RETURNS, the convention long-horizon backtests prefer because an
    additive offset distorts percentage moves far from the anchor).
    Per roll the jump is expressed as a ratio against the expiring
    contract's final raw close ((settle_close + gap) / settle_close);
    each window's cumulative factor is the EXCLUSIVE prefix product -
    the multiplicative analogue of the reference's accumulated-sum
    invariant (main.py:210) - computed as exp(sum(ln)) over the
    dimension-sized contract window on BOTH engines so the float path
    matches. Settle closes come off the gated bars themselves
    (max_by raw close per window; the raw series is recovered by
    subtracting the stored additive offset - the restate_frame
    inversion trick). Emitting the additive series beside it lets one
    query diff the two conventions bar by bar.

    Degenerate-input posture, identical on both engines (r11 review
    wave 3): a zero settle close NULLs its ratio (try_divide/NULLIF),
    and a non-positive ratio is EXCLUDED from the log-sum on both
    sides (DuckDB's ln() RAISES on non-positive input where Spark
    returns NULL - the CASE/when guard is what keeps the engines
    identical, verified by planting a negative gap). A contract whose
    bars are all gated away contributes no settle close and hence no
    factor - the multiplicative chain skips it on both engines; with
    weekly synthetic windows every contract has bars, and on real
    data a bar-less contract month means the roll never traded, where
    no convention defines a jump."""
    events = read_table(spark, sf_dir, "events")
    bars = _cached_bar_pipeline(spark, sf_dir).where(
        F.col("contract_year_month") != ""
    )
    cfg = weekly_settle_config(events)
    raw = F.col("close") - F.col("accumulated_contract_diff")
    sc = bars.groupBy("contract_year_month").agg(
        F.max_by(raw, F.col("bar_ts")).alias("raw_settle")
    )
    rt = cfg.join(sc, "contract_year_month").select(
        "contract_year_month",
        "start_k",
        F.try_divide(
            F.col("raw_settle") + F.col("next_contract_diff"),
            F.nullif(F.col("raw_settle"), F.lit(0.0)),
        ).alias("ratio"),
    )
    w = Window.orderBy("start_k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # guard non-positive ratios OUTSIDE ln on both engines: DuckDB's
    # ln() raises where Spark's returns NULL (see docstring)
    safe_ln = F.when(F.col("ratio") > 0, F.log("ratio"))
    cum = rt.select(
        "contract_year_month",
        F.exp(
            F.coalesce(F.sum(safe_ln).over(w), F.lit(0.0))
        ).alias("cum_ratio"),
    )
    return bars.join(
        F.broadcast(cum), "contract_year_month"
    ).select(
        "bar_ts",
        "contract_year_month",
        F.round("close", 4).alias("add_close"),
        F.round(raw * F.col("cum_ratio"), 4).alias("ratio_close"),
    )


_ROLL_CAL_SQL = f"""
WITH {_CFG_CTE},
base AS ({_PIPELINE_SQL})
SELECT b.contract_year_month,
       left(b.session_id, 10) AS sess_date,
       CAST(date_diff('day', CAST(left(b.session_id, 10) AS DATE),
                      c.settle_k::DATE) AS BIGINT) AS days_to_settle,
       CAST(count(*) AS BIGINT) AS n_bars,
       CAST(sum(b.volume) AS BIGINT) AS volume
FROM base b JOIN cfg c USING (contract_year_month)
WHERE b.contract_year_month <> '' AND b.session_id NOT LIKE '%UNKNOWN'
GROUP BY 1, 2, 3
"""


@q("roll_calendar", _ROLL_CAL_SQL)
def roll_calendar_q(spark, sf_dir):
    """The roll calendar: per (contract window, session date), how
    many days remain to settlement plus bar count and volume - the
    countdown a desk watches to time its roll, and the frame where
    the classic volume-migration-toward-expiry pattern shows up. The
    config dimension broadcasts; the only shuffle is the dimension-
    sized (contract, session) aggregate."""
    events = read_table(spark, sf_dir, "events")
    bars = _cached_bar_pipeline(spark, sf_dir).where(
        (F.col("contract_year_month") != "")
        & (
            F.substring_index(F.col("session_id"), "_", -1)
            != "UNKNOWN"
        )
    )
    cfg = weekly_settle_config(events).select(
        "contract_year_month", "settle_k"
    )
    sess_date = F.substring(F.col("session_id"), 1, 10)
    return (
        bars.join(F.broadcast(cfg), "contract_year_month")
        .groupBy(
            "contract_year_month",
            sess_date.alias("sess_date"),
            F.datediff(
                F.to_date("settle_k"), F.to_date(sess_date)
            )
            .cast("long")
            .alias("days_to_settle"),
        )
        .agg(
            F.count("*").cast("long").alias("n_bars"),
            F.sum("volume").cast("long").alias("volume"),
        )
    )


# Each event lands in width/slide = 2 overlapping windows; the oracle
# materializes both memberships with an unnest.
_SLIDING_SQL = """
SELECT win_start,
       count(*) AS n,
       round(max(value), 2) AS max_value,
       round(min(value), 2) AS min_value
FROM (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts) - k * INTERVAL 5 MINUTES
           AS win_start,
         value
  FROM events, unnest([0, 1]) AS t(k)
)
GROUP BY win_start
HAVING count(*) > 0
"""


@q("sliding_window_stats", _SLIDING_SQL)
def sliding_window_stats(spark, sf_dir):
    """Sliding (hopping) windows - the one windowing mode the reference
    lacks (ST4 note, SURVEY.md 2.7): 10-minute windows sliding every 5,
    so each event belongs to exactly two. Spark's F.window handles the
    row duplication internally; the oracle unnests the two memberships
    explicitly. Aggregates are order-exact (count/max/min) - an avg
    here flips its 4th decimal between the two engines' summation
    orders on boundary values."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "10 minutes", "5 minutes")["start"].alias(
                "win_start"
            )
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.round(F.min("value"), 2).alias("min_value"),
        )
    )


_EWMA_SQL = """
WITH bars AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts - INTERVAL 1 MICROSECOND)
           AS bar_ts,
         arg_max(value, ts) AS close
  FROM events GROUP BY 1
),
daily AS (
  SELECT CAST(bar_ts AS DATE) AS bar_date,
         list(close ORDER BY bar_ts) AS closes
  FROM bars GROUP BY 1
)
SELECT CAST(bar_date AS TIMESTAMP) AS bar_date,
       round(list_reduce(closes, (acc, x) -> acc * 0.8 + x * 0.2), 6)
         AS ewma_close,
       CAST(len(closes) AS BIGINT) AS n_bars
FROM daily
"""


@q("ewma_close_daily", _EWMA_SQL)
def ewma_close_daily(spark, sf_dir):
    """Per-day EWMA (alpha=0.2) of 5-min bar closes - exponential
    smoothing, the classic recursive time-series operator. The
    recursion is a LEFT FOLD over the day's time-ordered closes
    (sort_array of (ts, close) structs -> aggregate), seeded with the
    first close to mirror DuckDB's list_reduce exactly, so both
    engines execute the identical FP operation sequence and values
    match to the bit before rounding. Per-day groups bound the folded
    list (<= 288 closes); an unbounded-history EWMA would restate as
    the same fold over windowed chunks with a carried seed."""
    bars = tumbling_ohlcv(
        read_table(spark, sf_dir, "events"),
        ts_col="ts", price_col="value", width="5 minutes",
    )
    daily = bars.groupBy(
        F.date_trunc("day", "bar_ts").alias("bar_date")
    ).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bar_ts"), F.col("close")))
        ).alias("_tc")
    )
    closes = F.transform(F.col("_tc"), lambda s: s["close"])
    folded = F.aggregate(
        F.slice(closes, 2, F.greatest(F.size(closes) - 1, F.lit(0))),
        F.element_at(closes, 1),
        lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2),
    )
    return daily.select(
        "bar_date",
        F.round(folded, 6).alias("ewma_close"),
        F.size(closes).cast("long").alias("n_bars"),
    )


_DRAWDOWN_SQL = """
WITH bars AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts - INTERVAL 1 MICROSECOND)
           AS bar_ts,
         arg_max(value, ts) AS close
  FROM events GROUP BY 1
),
dd AS (
  SELECT CAST(bar_ts AS DATE) AS bar_date, bar_ts, close,
         max(close) OVER (PARTITION BY CAST(bar_ts AS DATE)
                          ORDER BY bar_ts
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS peak
  FROM bars
)
SELECT CAST(bar_date AS TIMESTAMP) AS bar_date,
       round(max(peak - close), 6) AS max_drawdown,
       round(max((peak - close) / peak), 8) AS max_drawdown_frac
FROM dd GROUP BY bar_date
"""


@q("bar_max_drawdown", _DRAWDOWN_SQL)
def bar_max_drawdown(spark, sf_dir):
    """Per-day maximum drawdown of 5-min closes: running peak (cummax
    window) minus close, maxed per day - the risk statistic every bar
    consumer derives. One shuffle on the day key serves the cummax
    window AND the final aggregate."""
    bars = tumbling_ohlcv(
        read_table(spark, sf_dir, "events"),
        ts_col="ts", price_col="value", width="5 minutes",
    ).select(
        F.date_trunc("day", "bar_ts").alias("bar_date"),
        "bar_ts",
        "close",
    )
    w = (
        Window.partitionBy("bar_date")
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = bars.withColumn("peak", F.max("close").over(w))
    return dd.groupBy("bar_date").agg(
        F.round(F.max(F.col("peak") - F.col("close")), 6).alias(
            "max_drawdown"
        ),
        F.round(
            F.max((F.col("peak") - F.col("close")) / F.col("peak")), 8
        ).alias("max_drawdown_frac"),
    )


_ROLL_YIELD_SQL = f"""
WITH {_CFG_FILE_CTE}
SELECT contract_year_month,
       next_contract_diff AS roll_gap,
       accumulated_contract_diff,
       CAST(date_diff('day', CAST(start_k AS DATE),
                      CAST(settle_k AS DATE)) AS BIGINT) AS hold_days,
       round(next_contract_diff
             / nullif(date_diff('day', CAST(start_k AS DATE),
                                CAST(settle_k AS DATE)), 0), 6)
         AS roll_gap_per_day,
       round(accumulated_contract_diff
             - coalesce(lag(accumulated_contract_diff)
                        OVER (ORDER BY contract_year_month), 0.0), 6)
         AS accum_step
FROM cfg
"""


@q("roll_yield_report", _ROLL_YIELD_SQL)
def roll_yield_report_q(spark, sf_dir):
    """Reference-domain analytics over the settlement config (the
    table back-adjustment runs on): per contract, the roll gap, the
    holding window in days, the gap normalized per held day (the
    roll-yield proxy a term-structure desk watches), and the step the
    accumulated offset takes at this roll - which must equal the
    PREVIOUS contract's gap by the cumulative-sum invariant the
    reference maintains (calculate_next_contract, main.py:210; the
    oracle re-derives the step with a lag window so a broken
    invariant fails the value hash). Config-dimension sized: one tiny
    scan + one window over a handful of rows."""
    from ..sources import read_settle_config

    cfg = read_settle_config(spark, SETTLE_CONFIG_PATH)
    w = Window.orderBy("contract_year_month")
    days = F.datediff(
        F.col("settle_k").cast("date"), F.col("start_k").cast("date")
    )
    return cfg.select(
        "contract_year_month",
        F.col("next_contract_diff").alias("roll_gap"),
        "accumulated_contract_diff",
        days.cast("long").alias("hold_days"),
        F.round(
            F.col("next_contract_diff")
            / F.nullif(days.cast("double"), F.lit(0.0)),
            6,
        ).alias("roll_gap_per_day"),
        F.round(
            F.col("accumulated_contract_diff")
            - F.coalesce(
                F.lag("accumulated_contract_diff").over(w), F.lit(0.0)
            ),
            6,
        ).alias("accum_step"),
    )


# Shared session-summary CTE for the session-level risk family below:
# one OHLCV row per session off the gated pipeline, UNKNOWN-labeled
# boundary buckets excluded (the continuous_returns rationale - the
# UNKNOWN pseudo-session spans every date, so it has no place in a
# session-ordered window).
_SESSION_SUMMARY_CTE = f"""
base AS ({_PIPELINE_SQL}),
s AS (
  SELECT session_id,
         min(bar_ts)            AS session_start,
         arg_min(open, bar_ts)  AS open,
         max(high)              AS high,
         min(low)               AS low,
         arg_max(close, bar_ts) AS close,
         CAST(sum(volume) AS BIGINT) AS volume
  FROM base WHERE session_id NOT LIKE '%UNKNOWN'
  GROUP BY session_id
)
"""

_ATR_SQL = f"""
WITH {_SESSION_SUMMARY_CTE},
tr AS (
  SELECT session_id, session_start, high, low,
         lag(close) OVER (ORDER BY session_start) AS prev_close
  FROM s
),
tr2 AS (
  SELECT session_id, session_start,
         CASE WHEN prev_close IS NULL THEN high - low
              ELSE greatest(high - low,
                            abs(high - prev_close),
                            abs(low - prev_close)) END AS tr
  FROM tr
)
SELECT session_id, session_start,
       round(tr, 6) AS true_range,
       round(avg(tr) OVER (ORDER BY session_start
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS atr_14,
       CAST(count(*) OVER (ORDER BY session_start
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_in_window
FROM tr2
"""


def _adjusted_session_bars(spark, sf_dir):
    """Gated 5-min pipeline output minus UNKNOWN boundary buckets -
    the input frame of the session-level risk family (the
    continuous_returns exclusion, shared)."""
    return _cached_bar_pipeline(spark, sf_dir).where(
        F.substring_index(F.col("session_id"), "_", -1) != "UNKNOWN"
    )


@q("session_atr", _ATR_SQL)
def session_atr_q(spark, sf_dir):
    """Per-session True Range + ATR(14) on the back-adjusted session
    series (Wilder's range components, SMA smoothing). TR spans the
    previous session's close, so it is only roll-jump-free on the
    ADJUSTED series - raw closes would print a fake range spike at
    every contract roll, the same artifact continuous_returns removes
    for returns. The bar-scale work is one map-side rollup to the
    dimension-sized session summary; the lag + rolling windows run on
    one row per session (operators/returns.session_atr)."""
    from ..operators.returns import session_atr

    return session_atr(_adjusted_session_bars(spark, sf_dir), n=14)


_GAP_SQL = f"""
WITH {_SESSION_SUMMARY_CTE},
lagged AS (
  SELECT session_id, session_start, open,
         lag(session_id) OVER (ORDER BY session_start)
           AS prev_session_id,
         lag(close) OVER (ORDER BY session_start) AS prev_close
  FROM s
)
SELECT session_id, prev_session_id,
       right(prev_session_id, 1) || '->' || right(session_id, 1)
         AS transition,
       round(open, 4) AS session_open,
       round(prev_close, 4) AS prev_close,
       CASE WHEN open / nullif(prev_close, 0.0) > 0
            THEN round(ln(open / nullif(prev_close, 0.0)), 6)
       END AS gap_return
FROM lagged WHERE prev_session_id IS NOT NULL
"""


@q("overnight_gap_returns", _GAP_SQL)
def overnight_gap_returns_q(spark, sf_dir):
    """Session-open vs previous-session-close log gap on the adjusted
    continuous series, labeled by transition (D->N afternoon break vs
    N->D true overnight). This is the risk continuous_returns does
    NOT measure: its first-bar return uses the first bar's CLOSE; the
    gap a desk marks overnight exposure with is the session OPEN
    against the prior close. Same guarded-ln convention as
    ratio_adjusted_series; windows run on the dimension-sized session
    summary (operators/returns.overnight_gap_returns)."""
    from ..operators.returns import overnight_gap_returns

    return overnight_gap_returns(_adjusted_session_bars(spark, sf_dir))


_VOL_ANOMALY_SQL = f"""
WITH {_SESSION_SUMMARY_CTE},
z AS (
  SELECT session_id, session_start, volume,
         avg(volume::DOUBLE) OVER w AS mu,
         stddev_samp(volume::DOUBLE) OVER w AS sigma,
         count(*) OVER w AS n_prior
  FROM s
  WINDOW w AS (ORDER BY session_start
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT session_id, CAST(volume AS BIGINT) AS volume,
       CAST(n_prior AS BIGINT) AS n_prior,
       CASE WHEN sigma > 0
            THEN round((volume - mu) / sigma, 4) END AS vol_zscore,
       coalesce(CASE WHEN sigma > 0
                     THEN abs(round((volume - mu) / sigma, 4)) > 2.0
                END, FALSE) AS is_anomaly
FROM z
"""


@q("volume_anomaly_sessions", _VOL_ANOMALY_SQL)
def volume_anomaly_sessions_q(spark, sf_dir):
    """Rolling z-score surveillance on session volume: each session
    scored against the mean/stddev of its 20 PRECEDING sessions
    (trailing-only window - the score is computable live, no
    lookahead), flagged at |z| > 2. The anomaly flag tests the
    ROUNDED z-score so the threshold comparison is bit-identical on
    both engines (stddev accumulation order differs at the ulp
    between Spark and DuckDB; the 4dp round absorbs it, and the flag
    must not re-expose it). Sessions with fewer than 2 prior sessions
    (sigma undefined) or zero variance score NULL, flag false. All
    windows on the dimension-sized session summary."""
    s = _adjusted_session_bars(spark, sf_dir)
    from ..operators.returns import session_ohlc_summary

    summ = session_ohlc_summary(s)
    w = Window.orderBy("session_start").rowsBetween(-20, -1)
    vol = F.col("volume").cast("double")
    scored = summ.select(
        "session_id",
        F.col("volume").cast("long").alias("volume"),
        F.count("*").over(w).cast("long").alias("n_prior"),
        F.avg(vol).over(w).alias("_mu"),
        F.stddev_samp(vol).over(w).alias("_sigma"),
    )
    z = F.round(
        (F.col("volume") - F.col("_mu")) / F.col("_sigma"), 4
    )
    return scored.select(
        "session_id",
        "volume",
        "n_prior",
        F.when(F.col("_sigma") > 0, z).alias("vol_zscore"),
        F.coalesce(
            F.when(F.col("_sigma") > 0, F.abs(z) > 2.0), F.lit(False)
        ).alias("is_anomaly"),
    )


# (session, contract) summary on RAW prices: the per-bar accumulated
# offset is subtracted back out, so within one contract window the
# numbers are the exchange's own - the frame for anything that applies
# an EXCHANGE rule (price limits key off the previous settlement of
# the SAME contract; a cross-contract percent move is meaningless).
_SESSION_CONTRACT_CTE = f"""
base AS ({_PIPELINE_SQL}),
sc AS (
  SELECT session_id, contract_year_month,
         min(bar_ts) AS session_start,
         max(high - accumulated_contract_diff) AS raw_high,
         min(low - accumulated_contract_diff)  AS raw_low,
         arg_max(close - accumulated_contract_diff, bar_ts) AS raw_close,
         CAST(sum(volume) AS BIGINT) AS volume
  FROM base
  WHERE session_id NOT LIKE '%UNKNOWN' AND contract_year_month <> ''
  GROUP BY session_id, contract_year_month
)
"""


def _session_contract_summary(spark, sf_dir):
    """Spark twin of _SESSION_CONTRACT_CTE - the shared operator
    (operators/returns.session_contract_summary) over the memoized
    gated bar frame."""
    from ..operators.returns import session_contract_summary

    return session_contract_summary(
        _adjusted_session_bars(spark, sf_dir)
    )


_PRICE_LIMIT_SQL = f"""
WITH {_SESSION_CONTRACT_CTE},
lagged AS (
  SELECT session_id, contract_year_month, raw_high, raw_low,
         lag(raw_close) OVER (PARTITION BY contract_year_month
                              ORDER BY session_start) AS prev_close
  FROM sc
)
SELECT session_id, contract_year_month,
       round(prev_close, 4) AS prev_close,
       round((raw_high - prev_close) / nullif(prev_close, 0.0), 6)
         AS max_up_pct,
       round((raw_low - prev_close) / nullif(prev_close, 0.0), 6)
         AS max_down_pct,
       coalesce(round((raw_high - prev_close)
                      / nullif(prev_close, 0.0), 6) >= 0.10, FALSE)
         AS limit_up_touch,
       coalesce(round((raw_low - prev_close)
                      / nullif(prev_close, 0.0), 6) <= -0.10, FALSE)
         AS limit_down_touch
FROM lagged WHERE prev_close IS NOT NULL
"""


@q("price_limit_days", _PRICE_LIMIT_SQL)
def price_limit_days_q(spark, sf_dir):
    """Exchange price-limit surveillance (TAIFEX futures halt at +/-10%
    of the previous session close): per (session, contract), the
    extreme up/down excursion vs the previous close of the SAME
    contract, with touch flags at the 10% band. Runs on RAW prices -
    the limit is an exchange rule on the traded contract, so the
    back-adjustment offset is subtracted back out, and the lag
    partitions by contract window so a roll never fabricates a
    cross-contract move. Flags test the ROUNDED percent (the
    volume_anomaly_sessions discipline: the 6dp round absorbs engine
    ulp differences; the threshold must not re-expose them). All
    windows on the dimension-sized (session, contract) summary."""
    from ..operators.returns import price_limit_report

    return price_limit_report(
        _adjusted_session_bars(spark, sf_dir), band=0.10
    )


_EXPIRY_EFFECT_SQL = f"""
WITH {_CFG_CTE},
{_SESSION_CONTRACT_CTE}
SELECT CAST(datediff('day', session_start::DATE, c.settle_k::DATE)
            AS BIGINT) AS days_to_settle,
       CAST(count(*) AS BIGINT) AS n_session_contracts,
       CAST(sum(s.volume) AS BIGINT) AS total_volume,
       round(avg(s.volume), 4) AS avg_volume,
       round(avg(s.raw_high - s.raw_low), 6) AS avg_range
FROM sc s
JOIN cfg c USING (contract_year_month)
GROUP BY 1
"""


@q("expiry_effect_report", _EXPIRY_EFFECT_SQL)
def expiry_effect_report_q(spark, sf_dir):
    """The expiry-effect profile: activity and range keyed by DAYS TO
    SETTLEMENT - where the classic volume-migration-toward-expiry and
    expiry-day range patterns show up (roll_calendar gives the
    per-contract countdown; this is its cross-contract aggregate).
    Range is raw high - raw low within one contract window, so it is
    shift-invariant by construction. Config dimension broadcasts; the
    only shuffle is the dimension-sized (session, contract) rollup
    then a <=40-key aggregate."""
    events = read_table(spark, sf_dir, "events")
    sc = _session_contract_summary(spark, sf_dir)
    cfg = weekly_settle_config(events).select(
        "contract_year_month", "settle_k"
    )
    joined = sc.join(F.broadcast(cfg), "contract_year_month")
    return joined.groupBy(
        F.datediff(F.to_date("settle_k"), F.to_date("session_start"))
        .cast("long")
        .alias("days_to_settle")
    ).agg(
        F.count("*").cast("long").alias("n_session_contracts"),
        F.sum("volume").cast("long").alias("total_volume"),
        F.round(F.avg("volume"), 4).alias("avg_volume"),
        F.round(
            F.avg(F.col("raw_high") - F.col("raw_low")), 6
        ).alias("avg_range"),
    )


_VOLUME_CLOCK_SQL = f"""
WITH base AS ({_PIPELINE_SQL}),
b AS (SELECT * FROM base WHERE session_id NOT LIKE '%UNKNOWN'),
v AS (
  SELECT greatest(CAST(ceil(sum(volume) / 200.0) AS BIGINT), 1)
           AS vbucket FROM b
),
c AS (
  SELECT b.*,
         CAST(coalesce(sum(volume) OVER (
                ORDER BY bar_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), 0) AS HUGEINT) AS cumv
  FROM b
)
SELECT CAST(c.cumv // v.vbucket AS BIGINT) AS vbar_seq,
       min(bar_ts) AS first_ts, max(bar_ts) AS last_ts,
       arg_min(open, bar_ts) AS open,
       max(high) AS high, min(low) AS low,
       arg_max(close, bar_ts) AS close,
       CAST(sum(volume) AS BIGINT) AS volume,
       count(*) AS n_bars
FROM c, v
GROUP BY 1
"""


@q("volume_clock_bars", _VOLUME_CLOCK_SQL)
def volume_clock_bars_q(spark, sf_dir):
    """Information-driven resampling on the volume clock (de Prado's
    volume bars) over the gated adjusted 5-min stream: one OHLCV row
    per ceil(total/200) contracts traded, so quiet stretches collapse
    and bursts expand - the sampling that keeps per-bar information
    content roughly constant for a training set. The oracle takes the
    defining GLOBAL prefix sum directly; the Spark side decomposes it
    into a session-partitioned exclusive prefix sum plus a
    dimension-sized broadcast session offset (the continuous_returns
    lag decomposition applied to a running sum - value-identical
    because sessions are time-disjoint), and the bucket id is BIGINT
    DIV end to end. See operators/resample.volume_clock_bars."""
    from ..operators.resample import volume_clock_bars

    return volume_clock_bars(
        _adjusted_session_bars(spark, sf_dir), target_buckets=200
    )


# tick-rule sign CTEs shared by the two microstructure oracles below
# - the SQL twin of operators/returns.tick_signs, factored (review
# finding) so a future sign-semantics fix cannot land in one oracle
# and not the other, exactly as the Spark side shares ONE operator.
_TICK_SIGN_CTES = f"""
base AS ({_PIPELINE_SQL}),
b0 AS (SELECT * FROM base WHERE session_id NOT LIKE '%UNKNOWN'),
r AS (
  SELECT session_id, bar_ts, open, high, low, close, volume,
         CASE WHEN close > lag(close) OVER w THEN 1
              WHEN close < lag(close) OVER w THEN -1 END AS raw_sign
  FROM b0
  WINDOW w AS (PARTITION BY session_id ORDER BY bar_ts)
),
s AS (
  SELECT session_id, bar_ts, open, high, low, close, volume,
         coalesce(last_value(raw_sign IGNORE NULLS) OVER (
             PARTITION BY session_id ORDER BY bar_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0) AS sign
  FROM r
)"""


_FLOW_IMBALANCE_SQL = f"""
WITH {_TICK_SIGN_CTES},
agged AS (
  SELECT session_id,
         CAST(sum(CASE WHEN sign = 1 THEN volume ELSE 0 END)
              AS BIGINT) AS buy_volume,
         CAST(sum(CASE WHEN sign = -1 THEN volume ELSE 0 END)
              AS BIGINT) AS sell_volume,
         CAST(sum(CASE WHEN sign = 0 THEN volume ELSE 0 END)
              AS BIGINT) AS neutral_volume,
         count(*) AS n_bars
  FROM s GROUP BY session_id
)
SELECT session_id, buy_volume, sell_volume, neutral_volume,
       CASE WHEN buy_volume + sell_volume > 0 THEN
         (CASE WHEN buy_volume < sell_volume THEN -1
               WHEN buy_volume > sell_volume THEN 1 ELSE 0 END)
         * ((2 * abs(buy_volume - sell_volume) * 1000000
             + (buy_volume + sell_volume))
            // (2 * (buy_volume + sell_volume))) / 1000000.0
       END AS flow_imbalance,
       n_bars
FROM agged
"""


@q("order_flow_imbalance", _FLOW_IMBALANCE_SQL)
def order_flow_imbalance_q(spark, sf_dir):
    """Per-session order-flow imbalance via the tick rule (+1 uptick,
    -1 downtick, unchanged close carries the last sign within the
    session): buy/sell/neutral volume and (buy-sell)/(buy+sell) at
    6dp - the trade-side pressure gauge next to session_vwap's
    execution benchmark. Signs are session-scoped (an overnight gap
    is an auction, not a tick). The quotient rounds in INTEGER
    micro-units (the session_vwap half-away discipline), so no
    double arithmetic can straddle a rounding half differently
    across engines. See operators/returns.order_flow_imbalance."""
    from ..operators.returns import order_flow_imbalance

    return order_flow_imbalance(_adjusted_session_bars(spark, sf_dir))


_IMBALANCE_BARS_SQL = f"""
WITH RECURSIVE {_TICK_SIGN_CTES},
t AS (
  SELECT CAST(ceil(sum(volume) / 800.0) AS BIGINT) AS thr FROM b0
),
n AS (
  SELECT s.*, row_number() OVER (
           PARTITION BY session_id ORDER BY bar_ts
         ) AS rn
  FROM s
),
walk AS (
  SELECT session_id, CAST(0 AS BIGINT) AS rn,
         CAST(0 AS BIGINT) AS theta, CAST(0 AS BIGINT) AS seq
  FROM (SELECT DISTINCT session_id FROM n)
  UNION ALL
  SELECT w.session_id, w.rn + 1,
         CASE WHEN abs(w.theta + nb.sign * nb.volume) >= t.thr
              THEN 0 ELSE w.theta + nb.sign * nb.volume END,
         CASE WHEN abs(w.theta + nb.sign * nb.volume) >= t.thr
              THEN w.seq + 1 ELSE w.seq END
  FROM walk w
  JOIN n nb ON nb.session_id = w.session_id AND nb.rn = w.rn + 1, t
),
assigned AS (
  SELECT nb.session_id, nb.bar_ts, nb.open, nb.high, nb.low,
         nb.close, nb.volume, nb.sign, w.seq AS ibar_seq
  FROM n nb
  JOIN walk w ON w.session_id = nb.session_id AND w.rn = nb.rn - 1
)
SELECT session_id, ibar_seq,
       min(bar_ts) AS first_ts, max(bar_ts) AS last_ts,
       arg_min(open, bar_ts) AS open,
       max(high) AS high, min(low) AS low,
       arg_max(close, bar_ts) AS close,
       CAST(sum(volume) AS BIGINT) AS volume,
       CAST(sum(sign * volume) AS BIGINT) AS signed_volume,
       count(*) AS n_bars
FROM assigned
GROUP BY session_id, ibar_seq
"""


@q("tick_imbalance_bars", _IMBALANCE_BARS_SQL)
def tick_imbalance_bars_q(spark, sf_dir):
    """Information-driven resampling on the IMBALANCE clock (de
    Prado's tick-imbalance bars): cut whenever the running tick-rule
    signed volume reaches ceil(total/800), session-scoped, tripping
    bar inclusive. The cut rule is genuinely sequential - each cut
    depends on all prior bars through the reset - so the Spark side
    is the engine's one batch applyInPandas: a per-SESSION integer
    fold (sessions are physically bounded at <= 168 bars, parallel
    across sessions, bucket rows aggregated inside the UDF so only
    dimension-sized output leaves Python), and the oracle walks the
    same fold as a recursive CTE advancing every session one bar per
    step. All arithmetic BIGINT end to end, so the two folds cut
    identically. See operators/resample.tick_imbalance_bars."""
    from ..operators.resample import tick_imbalance_bars

    return tick_imbalance_bars(
        _adjusted_session_bars(spark, sf_dir), target_cuts=800
    )


# Oracle-side integer-exactness note: the wide products/sums ride
# HUGEINT (int128) because DuckDB's // on DECIMAL operands performs a
# DECIMAL division (which ROUNDS to the result scale) before flooring
# - observed off-by-one vs Spark's exact IntegralDivide at a
# quotient near .9999997 (kyle_lambda 73.228334 vs 73.228333). Spark
# has no int128, so its side carries DECIMAL(38,0) sums, whose DIV is
# exact integral division; HUGEINT // HUGEINT is exact on DuckDB's.
_LIQUIDITY_SQL = f"""
WITH {_TICK_SIGN_CTES},
raw AS (
  SELECT s.*, s.close - b0.accumulated_contract_diff AS raw_close
  FROM s JOIN b0 USING (session_id, bar_ts)
),
d AS (
  SELECT session_id, bar_ts, raw_close, volume, sign,
         CAST((CAST(close AS DECIMAL(15,6))
               - lag(CAST(close AS DECIMAL(15,6))) OVER w)
              * 1000000 AS BIGINT) AS dpm
  FROM raw
  WINDOW w AS (PARTITION BY session_id ORDER BY bar_ts)
),
d2 AS (
  SELECT d.*,
         lag(dpm) OVER (
           PARTITION BY session_id ORDER BY bar_ts
         ) AS dpm_lag
  FROM d
),
agged AS (
  SELECT session_id,
         CAST(count(dpm) AS BIGINT) AS n_price_changes,
         avg(CASE WHEN dpm IS NOT NULL AND raw_close * volume > 0
                  THEN abs(dpm) / 1000000.0 / (raw_close * volume)
             END) AS amihud_raw,
         sum(CASE WHEN dpm IS NOT NULL
                  THEN CAST(dpm AS HUGEINT) * (sign * volume)
             END) AS kyle_num,
         CAST(sum(CASE WHEN dpm IS NOT NULL
                       THEN (sign * volume) * (sign * volume)
                       ELSE 0 END) AS BIGINT) AS kyle_den,
         sum(CASE WHEN dpm IS NOT NULL AND dpm_lag IS NOT NULL
                  THEN CAST(dpm AS HUGEINT) * dpm_lag
             END) AS s_xy,
         CAST(sum(CASE WHEN dpm IS NOT NULL AND dpm_lag IS NOT NULL
                       THEN dpm END) AS BIGINT) AS s_x,
         CAST(sum(CASE WHEN dpm IS NOT NULL AND dpm_lag IS NOT NULL
                       THEN dpm_lag END) AS BIGINT) AS s_y,
         CAST(count(CASE WHEN dpm IS NOT NULL AND dpm_lag IS NOT NULL
                         THEN 1 END) AS BIGINT) AS m
  FROM d2 GROUP BY session_id
),
cov AS (
  SELECT agged.*,
         CAST(m AS HUGEINT) * s_xy
           - CAST(s_x AS HUGEINT) * s_y AS cov_n
  FROM agged
),
cm AS (
  SELECT cov.*,
         CASE WHEN m > 0 THEN
           CAST(cov_n AS DOUBLE)
             / (CAST(m * m AS DOUBLE) * 1e12)
         END AS cov_d
  FROM cov
)
SELECT session_id, n_price_changes,
       round(1000000.0 * amihud_raw, 6) AS amihud_1e6,
       CASE WHEN kyle_den > 0 THEN
         (CASE WHEN kyle_num < 0 THEN -1 WHEN kyle_num > 0 THEN 1
               ELSE 0 END)
         * CAST((2 * abs(kyle_num) + kyle_den)
                // (2 * kyle_den) AS BIGINT)
         / 1000000.0
       END AS kyle_lambda,
       CASE WHEN cov_d < 0
            THEN round(2 * sqrt(-cov_d), 6)
       END AS roll_spread
FROM cm
"""


@q("session_liquidity_metrics", _LIQUIDITY_SQL)
def session_liquidity_metrics_q(spark, sf_dir):
    """The microstructure liquidity triple per session off the shared
    tick-signs frame: Amihud illiquidity (mean |price change| per unit
    notional, x1e6), Kyle's lambda (OLS slope of price change on
    tick-rule signed volume, exact-BIGINT denominator), and Roll's
    implied effective spread (2*sqrt(-serial-cov of price changes),
    defined only when the EXACT covariance is negative - both engines
    branch on the exact DECIMAL/HUGEINT covariance sign, never on a
    rounded value, so the branch cannot disagree at an ulp; only the
    emitted spread is rounded to 6dp). Intra-session lags only
    (overnight gaps are auctions, not bounce/impact); everything
    session-partitioned + one map-side-combined aggregate. See
    operators/returns.session_liquidity_metrics."""
    from ..operators.returns import session_liquidity_metrics

    return session_liquidity_metrics(
        _adjusted_session_bars(spark, sf_dir)
    )


_DOLLAR_CLOCK_SQL = f"""
WITH base AS ({_PIPELINE_SQL}),
b AS (SELECT *,
        CAST(floor((close - accumulated_contract_diff) * 10000.0)
             AS BIGINT) * volume AS w
      FROM base WHERE session_id NOT LIKE '%UNKNOWN'),
v AS (
  SELECT greatest(CAST(ceil(sum(w) / 200.0) AS BIGINT), 1)
           AS vbucket FROM b
),
c AS (
  SELECT b.*,
         CAST(coalesce(sum(w) OVER (
                ORDER BY bar_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), 0) AS HUGEINT) AS cumw
  FROM b
)
SELECT CAST(c.cumw // v.vbucket AS BIGINT) AS dbar_seq,
       min(bar_ts) AS first_ts, max(bar_ts) AS last_ts,
       arg_min(open, bar_ts) AS open,
       max(high) AS high, min(low) AS low,
       arg_max(close, bar_ts) AS close,
       CAST(sum(volume) AS BIGINT) AS volume,
       count(*) AS n_bars
FROM c, v
GROUP BY 1
"""


@q("dollar_clock_bars", _DOLLAR_CLOCK_SQL)
def dollar_clock_bars_q(spark, sf_dir):
    """The dollar clock (de Prado's dollar bars): resample on
    cumulative traded NOTIONAL - price-level-invariant sampling,
    where the volume clock would over-sample cheap-price history.
    The per-bar weight is floor(raw_price * 1e4) * volume, an exact
    BIGINT (raw = adjusted close minus the accumulated offset, since
    notional is a property of the trade, not the splice; the 1e4
    quantization is far under tick size), so the decomposed prefix
    sum and bucket DIV are integer end to end on both engines. OHLC
    stay ADJUSTED - only the clock runs on raw notional. Shares
    _weight_clock_bars with volume_clock_bars. See
    operators/resample.dollar_clock_bars."""
    from ..operators.resample import dollar_clock_bars

    return dollar_clock_bars(
        _adjusted_session_bars(spark, sf_dir), target_buckets=200
    )


_EXPECTED_COUNTS_SQL = """
WITH k AS (
  SELECT CASE WHEN hour(ts) BETWEEN 8 AND 13 THEN 'D'
              WHEN hour(ts) >= 15 OR hour(ts) < 5 THEN 'N'
              ELSE 'UNKNOWN' END AS kind,
         CASE WHEN hour(ts) < 5 THEN (ts - INTERVAL 1 DAY)::DATE
              ELSE ts::DATE END AS sess_date
  FROM events
  WHERE (ts::TIME >= TIME '08:45:00' AND ts::TIME <= TIME '13:45:00')
     OR (ts::TIME >= TIME '15:00:00' OR ts::TIME <= TIME '05:00:00')
),
counts AS (
  SELECT strftime(sess_date, '%Y-%m-%d') || '_' || kind AS session_id,
         kind, sess_date, count(*) AS cnt
  FROM k WHERE kind IN ('D', 'N') GROUP BY 1, 2, 3
),
expected(kind, strict_expected) AS (VALUES ('D', 60), ('N', 168)),
cal AS (
  SELECT session_id, CAST(30 AS BIGINT) AS expected_override
  FROM counts
  WHERE kind = 'D'
    AND sess_date = (date_trunc('month', sess_date)::DATE
          + (((2 - (dayofweek(date_trunc('month', sess_date)::DATE)
                    + 6) % 7) + 7) % 7 + 14)
            * INTERVAL 1 DAY)::DATE
)
SELECT c.session_id, c.cnt,
       CAST(e.strict_expected AS BIGINT) AS strict_expected,
       coalesce(cal.expected_override, e.strict_expected) AS expected,
       cal.expected_override IS NOT NULL AS is_early_close,
       c.cnt != e.strict_expected AS trips_strict,
       c.cnt != coalesce(cal.expected_override, e.strict_expected)
         AS trips_calendar
FROM counts c JOIN expected e USING (kind)
LEFT JOIN cal USING (session_id)
"""


@q("expected_session_counts", _EXPECTED_COUNTS_SQL)
def expected_session_counts_q(spark, sf_dir):
    """The per-session expected-count map Gate 1 consumes, with the
    exchange calendar applied (r11 verdict #5): for every D/N session,
    the strict kind constant (main.py:331-334), the calendar-adjusted
    expectation (settlement-day D sessions - each month's third
    Wednesday, via the P9 column expression - carry the half-day
    override), and both gate verdicts side by side. The strict gate
    stays the reference-faithful default; this query is the report a
    desk reads to see WHICH trips are real gaps vs known early closes.
    Dimension-sized output; the only fact-scale work is the one
    session count aggregate Gate 1 already does
    (operators/quality.completeness_violations +
    operators/calendar.settlement_halfday_calendar)."""
    from ..operators.calendar import settlement_halfday_calendar
    from ..operators.quality import EXPECTED_5MIN, expected_count, session_counts
    from ..operators.sessions import split_and_label

    labeled = split_and_label(read_table(spark, sf_dir, "events"))
    counts = (
        session_counts(labeled)
        .withColumn("strict_expected", expected_count(EXPECTED_5MIN))
        .where(F.col("strict_expected").isNotNull())
    )
    cal = settlement_halfday_calendar(labeled)
    out = counts.join(F.broadcast(cal), "session_id", "left")
    eff = F.coalesce("expected_override", "strict_expected")
    return out.select(
        "session_id",
        F.col("cnt").cast("long").alias("cnt"),
        "strict_expected",
        eff.alias("expected"),
        F.col("expected_override").isNotNull().alias("is_early_close"),
        (F.col("cnt") != F.col("strict_expected")).alias("trips_strict"),
        (F.col("cnt") != eff).alias("trips_calendar"),
    )
