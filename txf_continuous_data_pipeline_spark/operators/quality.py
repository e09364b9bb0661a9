"""Data-quality gates (SURVEY.md 2.5 A3/A4, 2.3 F5/F7).

The reference enforces two runtime gates before its sink:
  Gate 1  strict per-session bar-count equality (check_completeness,
          main.py:369-401): any session whose bar count differs from the
          expected count aborts the load.
  Gate 2  idempotency: only rows newer than the sink watermark are
          appended (filter_new_only, main.py:548-558).
plus drop-incomplete-current-session (main.py:326-366): never emit a
session that is still in progress.

The reference implements these with positional slicing (iloc[-200:],
iloc[:-n]) - meaningless under partitioning. Re-derived here as set-based
group logic (SURVEY.md "What's hard"): one groupBy(session) count, a
lookup of each session's expected count in a literal map column keyed
by its kind (no dimension DataFrame, no join), and semi/anti joins back
to the fact rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Expected bars per complete session (main.py:331-334, :371-374):
# 5-min: day 60, night 168; 60-min: day 5, night 14.
EXPECTED_5MIN = {"D": 60, "N": 168}
EXPECTED_60MIN = {"D": 5, "N": 14}


def session_counts(df: DataFrame, session_col: str = "session_id") -> DataFrame:
    """A3: bars per session (replaces value_counts, main.py:388-389)."""
    return df.groupBy(session_col).agg(F.count("*").alias("cnt"))


def expected_count(
    expected: dict[str, int], session_col: str = "session_id"
) -> Column:
    """Expected bar count (bigint) for the session's kind - the suffix of
    'YYYY-MM-DD_D|N' - looked up in a literal map; null for a kind the
    map does not name. A literal, so the gate runs no Python: a
    createDataFrame dimension would be a Python-worker RDD job per run."""
    kind = F.substring_index(F.col(session_col), "_", -1)
    pairs = [F.lit(x) for kv in expected.items() for x in kv]
    return F.create_map(*pairs)[kind].cast("long")


def completeness_violations(
    df: DataFrame,
    expected: dict[str, int],
    session_col: str = "session_id",
    calendar: "DataFrame | None" = None,
) -> DataFrame:
    """A4 / Gate 1: sessions whose bar count != expected for their kind.

    session_id format 'YYYY-MM-DD_D|N'; kind is the suffix. Returns
    (session_id, cnt, expected); the caller aborts if non-empty
    (main.py:399-400 raises ValueError).

    `calendar` (opt-in, r11 verdict #5) is an exchange-calendar
    dimension of (session_id, expected_override) rows - holidays /
    early closes (operators/calendar.settlement_halfday_calendar) -
    whose per-session override replaces the kind constant, so a
    half-day session stops tripping a false abort. DEFAULT stays the
    reference-strict constant map (main.py:331-334; README.md:23-25
    names the strictness deliberate): the calendar must be handed in,
    never inferred. Dimension-sized, broadcast."""
    joined = session_counts(df, session_col).withColumn(
        "expected", expected_count(expected, session_col)
    )
    if calendar is not None:
        joined = joined.join(
            F.broadcast(
                calendar.select(session_col, "expected_override")
            ),
            session_col,
            "left",
        ).withColumn(
            "expected", F.coalesce("expected_override", "expected")
        )
    return joined.where(
        (F.col("expected").isNull()) | (F.col("cnt") != F.col("expected"))
    ).select(session_col, "cnt", "expected")


def assert_complete(
    df: DataFrame,
    expected: dict[str, int],
    calendar: "DataFrame | None" = None,
) -> None:
    """Driver-side Gate 1: raise on any violation, like main.py:399-400."""
    bad = (
        completeness_violations(df, expected, calendar=calendar)
        .limit(20)
        .collect()
    )
    if bad:
        raise ValueError(f"completeness gate failed for sessions: {bad}")


def drop_incomplete_sessions(
    df: DataFrame,
    expected: dict[str, int],
    session_col: str = "session_id",
) -> DataFrame:
    """F7 generalized: keep only rows of sessions whose count matches the
    expected count - a left-semi join against the complete-session set.

    The reference only drops the TRAILING in-progress session
    (drop_incomplete_current_session, main.py:326-366) via positional
    slicing; see drop_open_session for that exact semantic.
    """
    complete = (
        session_counts(df, session_col)
        .where(F.col("cnt") == expected_count(expected, session_col))
        .select(session_col)
    )
    return df.join(F.broadcast(complete), session_col, "left_semi")


def drop_open_session(
    df: DataFrame,
    expected: dict[str, int],
    *,
    session_col: str = "session_id",
    ts_col: str = "ts",
) -> DataFrame:
    """F7 faithful: drop the LAST session's rows iff its bar count is
    below expected (session still in progress - "better missing than
    wrong", main.py:362-364). Set-based: find max(session end ts), check
    that one session's count, anti-join it out if short."""
    last = (
        df.groupBy(session_col)
        .agg(F.max(ts_col).alias("_max_ts"), F.count("*").alias("cnt"))
        .orderBy(F.desc("_max_ts"))
        .limit(1)
    )
    exp = expected_count(expected, session_col)
    open_sessions = last.where(
        exp.isNull() | (F.col("cnt") < exp)
    ).select(session_col)
    return df.join(F.broadcast(open_sessions), session_col, "left_anti")


def watermark_filter(df: DataFrame, watermark, ts_col: str = "ts") -> DataFrame:
    """F5 / Gate 2: keep rows strictly newer than the watermark
    (main.py:553). None watermark = empty sink = keep everything."""
    if watermark is None:
        return df
    return df.where(F.col(ts_col) > F.lit(watermark))
