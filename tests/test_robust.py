"""Robust statistics operators (operators/robust.py): winsorize and
median/MAD anomaly flags. The oracle-grade checks run through the
twin registry (tests/test_twin_queries.py); these pin the semantic
contracts the oracle can't see — NULL passthrough, zero-MAD keys,
and the breakdown-point property that motivates the operator."""

from __future__ import annotations

from pyspark.sql import Row

from bigdata_commerce_spark.operators.robust import (
    robust_flag_anomalies,
    winsorize,
)
from bigdata_commerce_spark.operators.timeseries import flag_anomalies


def test_winsorize_clips_to_group_band(spark):
    rows = [Row(event_type="a", v=float(x)) for x in range(1, 101)] + [
        Row(event_type="b", v=1000.0)
    ]
    out = winsorize(
        spark.createDataFrame(rows), ["v"], lower=0.10, upper=0.90
    )
    a = {r.v: r.v_w for r in out.where("event_type = 'a'").collect()}
    # exact interpolated p10/p90 of 1..100 are 10.9 and 90.1
    assert a[1.0] == 10.9 and a[5.0] == 10.9
    assert a[100.0] == 90.1 and a[95.0] == 90.1
    assert a[50.0] == 50.0  # interior values untouched
    # a single-row group clips to itself
    assert out.where("event_type = 'b'").first().v_w == 1000.0


def test_winsorize_global_and_null_passthrough(spark):
    rows = [Row(event_type="a", v=float(x)) for x in range(1, 11)] + [Row(event_type="a", v=None)]
    out = winsorize(spark.createDataFrame(rows), ["v"], lower=0.0, upper=0.5)
    got = {r.v: r.v_w for r in out.collect()}
    assert got[None] is None  # NULL is not an observation, stays NULL
    assert got[10.0] == 5.5  # global p50 of 1..10
    assert got[1.0] == 1.0  # lower=0.0 -> min, nothing clipped below


def test_robust_flags_survive_outlier_contamination(spark):
    # A cluster of planted outliers inflates the stddev enough that
    # the classic z-score path misses every one of them (masking);
    # median/MAD flags them all. This is the breakdown-point
    # property the operator exists for.
    rows = [Row(user_id=1, value=100.0 + (i % 7) - 3.0) for i in range(40)] + [
        Row(user_id=1, value=200.0) for _ in range(5)
    ]
    df = spark.createDataFrame(rows)
    robust = robust_flag_anomalies(df, key_col="user_id", z_threshold=3.5)
    flagged = {r.value for r in robust.where("is_anomaly").collect()}
    assert flagged == {200.0}
    classic = flag_anomalies(df, z_threshold=3.5)
    assert classic.where("is_anomaly").count() == 0  # masked by inflated sd


def test_robust_zero_mad_and_null_key_rows_kept(spark):
    rows = [
        Row(k=1, value=5.0),
        Row(k=1, value=5.0),
        Row(k=1, value=5.0),
        Row(k=1, value=99.0),  # minority point; MAD still 0
        Row(k=None, value=7.0),
    ]
    out = robust_flag_anomalies(
        spark.createDataFrame(rows), key_col="k"
    )
    assert out.count() == 5  # LEFT joins: NULL-key row survives
    k1 = out.where("k = 1").collect()
    assert all(r.rz is None and r.is_anomaly is False for r in k1)
    nk = out.where("k IS NULL").first()
    assert nk.is_anomaly is False
