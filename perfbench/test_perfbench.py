"""Tests of the benchmark's own pure helpers (no Spark):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import pandas as pd
import pytest

import checks
import inputs
import measure
import run


def test_cuts_repeat_per_seed_and_differ_across_seeds():
    assert inputs.cuts(7) == inputs.cuts(7) != inputs.cuts(8)


def test_cuts_fall_twice_in_every_day():
    cuts = inputs.cuts(3)
    assert len(cuts) == inputs.FEED_DAYS * inputs.CUTS_PER_DAY
    assert cuts == sorted(cuts)
    for d in range(inputs.FEED_DAYS):
        day = inputs.FEED_START + pd.Timedelta(days=d)
        assert sum(day <= c < day + pd.Timedelta(days=1) for c in cuts) == inputs.CUTS_PER_DAY


def test_feed_is_the_events_table():
    ev = inputs.events()
    assert len(ev) == 100_000
    assert ev["ts"].is_monotonic_increasing
    assert str(ev["ts"].dtype) == "datetime64[us]"
    assert inputs.FEED_START <= ev["ts"].min()
    assert ev["ts"].max() < inputs.FEED_START + pd.Timedelta(days=inputs.FEED_DAYS)
    assert len(inputs.events(inputs.WARM_FEED)) == 1_000


def test_planned_ops_is_fixed_by_seconds_alone():
    assert run.planned_ops(16, 60) == round(16 / run.REF_OP_S)
    assert run.planned_ops(0.1, 60) == 1
    assert run.planned_ops(1e6, 60) == 60


def test_quantile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert measure.quantile(xs, 0.5) == 2.5
    assert measure.quantile(xs, 0.0) == 1.0
    assert measure.quantile(xs, 1.0) == 4.0
    assert measure.quantile([1.0, 2.0, 3.0], 0.5) == 2.0
    assert measure.quantile([1.0, 2.0, float("inf")], 0.5) == 2.0
    with pytest.raises(ValueError):
        measure.quantile([], 0.5)


def test_covered_merges_overlaps_and_clips():
    assert measure.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert measure.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert measure.covered([], 0, 10) == 0
    assert measure.covered([(11, 12)], 0, 10) == 0


def test_tracer_nests_spans():
    t = measure.Tracer()
    with t.span("op", op=1) as outer:
        with t.span("inner", op=1) as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert [s["name"] for s in t.spans] == ["op", "inner"]


def test_prefix_self_time_is_the_difference_of_consecutive_prefixes():
    got = measure.prefix_self_times([("scan", 1.0), ("resample", 1.5), ("quality", 4.0)])
    assert got == {"scan": 1.0, "resample": 0.5, "quality": 2.5}


def _events(rows):
    return pd.DataFrame(
        {"ts": pd.to_datetime([r[0] for r in rows]), "value": [r[1] for r in rows]}
    )


def test_expected_ohlcv_is_closed_right_labelled_left():
    ev = _events(
        [
            ("2024-01-01 00:00:00", 1.0),  # (23:55, 00:00] -> bar 23:55
            ("2024-01-01 00:00:01", 5.0),
            ("2024-01-01 00:03:00", 2.0),
            ("2024-01-01 00:05:00", 3.0),  # still bar 00:00
            ("2024-01-01 00:05:01", 9.0),
        ]
    )
    bars = checks.expected_ohlcv(ev).set_index("bar_ts")
    b0 = bars.loc[pd.Timestamp("2024-01-01 00:00")]
    assert (b0["open"], b0["high"], b0["low"], b0["close"], b0["volume"]) == (5.0, 5.0, 2.0, 3.0, 3)
    assert bars.loc[pd.Timestamp("2023-12-31 23:55"), "volume"] == 1
    assert bars.loc[pd.Timestamp("2024-01-01 00:05"), "volume"] == 1


def test_stream_expected_keeps_windows_the_watermark_closed():
    ev = _events([("2024-01-01 00:01", 1.0), ("2024-01-01 00:07", 1.0), ("2024-01-01 00:20", 1.0)])
    # watermark = 00:20 - 1us - 10 min: closes windows ending by 00:09:59.999999
    assert list(checks.stream_expected(ev)["bar_ts"]) == [pd.Timestamp("2024-01-01 00:00")]


def _bars(keys, close=1.0):
    return pd.DataFrame({"bar_ts": pd.to_datetime(keys), "close": close})


def test_failed_ops_names_the_op_at_fault():
    expected = _bars(["2024-01-01 00:00", "2024-01-01 00:05", "2024-01-01 00:10", "2024-01-01 00:15"])
    ok = [_bars(["2024-01-01 00:00", "2024-01-01 00:05"]), None, _bars(["2024-01-01 00:10", "2024-01-01 00:15"])]
    assert checks.failed_ops(ok, expected) == {}
    skipped = [_bars(["2024-01-01 00:00"]), _bars(["2024-01-01 00:10", "2024-01-01 00:15"])]
    assert list(checks.failed_ops(skipped, expected)) == [1]
    dup = ok + [_bars(["2024-01-01 00:15"])]
    assert list(checks.failed_ops(dup, expected)) == [3]
    wrong = [ok[0], None, _bars(["2024-01-01 00:10", "2024-01-01 00:15"], close=2.0)]
    assert list(checks.failed_ops(wrong, expected)) == [2]
    short = [ok[0], None]
    assert list(checks.failed_ops(short, expected)) == [1]
    extra = ok + [_bars(["2024-01-01 00:20"])]
    assert list(checks.failed_ops(extra, expected)) == [3]


def test_bar_diffs_lists_every_difference():
    expected = _bars(["2024-01-01 00:00", "2024-01-01 00:05", "2024-01-01 00:10"])
    assert checks.bar_diffs(expected, expected) == []
    got = pd.concat([_bars(["2024-01-01 00:00"], close=2.0), _bars(["2024-01-01 00:15"] * 2)])
    assert checks.bar_diffs(got, expected) == [
        "wrong values for bar 2024-01-01 00:00:00",
        "unexpected bar 2024-01-01 00:15:00",
        "duplicate bar 2024-01-01 00:15:00",
        "missing bar 2024-01-01 00:05:00",
        "missing bar 2024-01-01 00:10:00",
    ]
    assert checks.bar_diffs(None, expected[:0]) == []


def test_gate2_failed_ops_filters_each_feed_by_the_sink_watermark():
    first = _bars(["2024-01-01 00:00", "2024-01-01 00:05"])
    # the second feed's pipeline no longer yields 00:05 (an open session
    # it drops) but yields later bars: only those past 00:05 are owed
    second = _bars(["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:15"])
    produced = [first, second, second]
    later = _bars(["2024-01-01 00:10", "2024-01-01 00:15"])
    assert checks.gate2_failed_ops([first, later, None], produced) == {}
    # a rerun that appends again, an op that skips a bar it owes, and a
    # first op that appends a bar with other values
    assert list(checks.gate2_failed_ops([first, later, later], produced)) == [2]
    assert list(checks.gate2_failed_ops([first, later[1:], None], produced)) == [1]
    wrong = _bars(["2024-01-01 00:00", "2024-01-01 00:05"], close=3.0)
    assert checks.gate2_failed_ops([wrong, later, None], produced) == {
        0: "wrong values for bar 2024-01-01 00:00:00 (and 1 more)"
    }
