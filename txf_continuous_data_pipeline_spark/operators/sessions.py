"""Day/night session split and labeling (SURVEY.md 2.3 F3/F4, 2.2 P11/P12).

Reference: between_time('08:45','13:45') day / between_time('15:00','05:00')
night (main.py:268-269, both boundaries inclusive, night wraps midnight),
then the per-row label lambdas (main.py:281-291, :341-345). All pure
column expressions here - predicate pushdown keeps these filters in the
parquet scan."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import date_market_type, session_id, tod_between

DAY_START, DAY_END = "08:45", "13:45"
NIGHT_START, NIGHT_END = "15:00", "05:00"


def day_session(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """F3: inclusive 08:45-13:45 time-of-day filter."""
    return df.where(tod_between(F.col(ts_col), DAY_START, DAY_END))


def night_session(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """F4: 15:00-05:00 filter - start > end wraps midnight (the trap:
    tod >= 15:00 OR tod <= 05:00, both ends inclusive)."""
    return df.where(tod_between(F.col(ts_col), NIGHT_START, NIGHT_END))


def with_session_labels(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """P11 + P12: stamp date_market_type ('yymmddD|N') and session_id
    ('YYYY-MM-DD_D|N'). Night rows before 05:00 are dated to the previous
    calendar day (main.py:285)."""
    ts = F.col(ts_col)
    return df.withColumns(
        {"date_market_type": date_market_type(ts), "session_id": session_id(ts)}
    )


def split_and_label(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """F3 + F4 + O2: keep only in-session rows (day union night) and
    label them. Expressed as one disjunctive filter instead of a
    union-of-two-scans so the source is read once."""
    ts = F.col(ts_col)
    in_session = tod_between(ts, DAY_START, DAY_END) | tod_between(
        ts, NIGHT_START, NIGHT_END
    )
    return with_session_labels(df.where(in_session), ts_col)
