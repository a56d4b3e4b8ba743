"""Multi-touch attribution: hand-computed U-shaped credits, lookback
and strict-before gates, singleton/pair paths, tie-breaks."""

from __future__ import annotations

import datetime as dt

from bigdata_commerce_spark.operators.attribution import (
    multitouch_attribution,
)

_T0 = dt.datetime(2024, 1, 10, 12, 0, 0)


def _run(spark, touches, convs):
    t = spark.createDataFrame(
        touches, "user_id long, ts timestamp, event_id long, channel string"
    )
    c = spark.createDataFrame(
        convs, "user_id long, ts timestamp, event_id long, value double"
    )
    out = multitouch_attribution(t, c)
    return {r["channel"]: r.asDict() for r in out.collect()}


def _ts(minutes):
    return _T0 + dt.timedelta(minutes=minutes)


def test_u_shape_four_touches(spark):
    touches = [
        (1, _ts(0), 100, "A"),
        (1, _ts(1), 101, "B"),
        (1, _ts(2), 102, "C"),
        (1, _ts(3), 103, "A"),
    ]
    convs = [(1, _ts(10), 900, 10.0)]
    by = _run(spark, touches, convs)
    # weights 0.4, 0.1, 0.1, 0.4 on value 10
    assert by["A"]["attributed_value"] == 8.0
    assert by["B"]["attributed_value"] == 1.0
    assert by["C"]["attributed_value"] == 1.0
    assert by["A"]["n_first"] == 1 and by["A"]["n_last"] == 1
    assert by["B"]["n_first"] == 0 and by["B"]["n_last"] == 0
    assert by["A"]["n_conversions"] == 1


def test_singleton_and_pair_paths(spark):
    touches = [(1, _ts(0), 100, "A"), (2, _ts(0), 200, "B"), (2, _ts(1), 201, "C")]
    convs = [(1, _ts(5), 900, 4.0), (2, _ts(5), 901, 4.0)]
    by = _run(spark, touches, convs)
    assert by["A"]["attributed_value"] == 4.0  # single touch: 100%
    assert by["B"]["attributed_value"] == 2.0  # pair: 50/50
    assert by["C"]["attributed_value"] == 2.0


def test_lookback_and_strict_before(spark):
    touches = [
        (1, _ts(-8 * 24 * 60), 100, "old"),  # 8 days before: outside
        (1, _ts(10), 101, "at_conv"),  # same instant: not strictly before
        (1, _ts(5), 102, "in"),
    ]
    convs = [(1, _ts(10), 900, 6.0)]
    by = _run(spark, touches, convs)
    assert set(by) == {"in"}
    assert by["in"]["attributed_value"] == 6.0


def test_click_credits_every_later_conversion(spark):
    touches = [(1, _ts(0), 100, "A")]
    convs = [(1, _ts(5), 900, 3.0), (1, _ts(6), 901, 5.0)]
    by = _run(spark, touches, convs)
    assert by["A"]["attributed_value"] == 8.0
    assert by["A"]["n_conversions"] == 2 and by["A"]["n_touches"] == 2


def test_ts_ties_break_on_touch_id(spark):
    # two touches at the identical timestamp: lower event_id is first
    touches = [(1, _ts(0), 101, "B"), (1, _ts(0), 100, "A")]
    convs = [(1, _ts(5), 900, 2.0)]
    by = _run(spark, touches, convs)
    assert by["A"]["n_first"] == 1 and by["B"]["n_last"] == 1
    assert by["A"]["attributed_value"] == 1.0  # pair path 50/50


def test_no_touches_no_rows(spark):
    by = _run(spark, [], [(1, _ts(0), 900, 5.0)])
    assert by == {}
