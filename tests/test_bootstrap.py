"""Poisson bootstrap CI: determinism, bracketing, degenerate and
level behavior, and the integer threshold grid."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.bootstrap import (
    poisson_bootstrap_ci,
    poisson_cdf_thresholds,
)


def _df(spark, rows, parts=None):
    df = spark.createDataFrame(rows, "event_type string, id long, v double")
    return df.repartition(parts) if parts else df


ROWS = [("a", i, float(10 + (i * 7) % 13)) for i in range(200)]


def test_thresholds_match_poisson_cdf():
    ts = poisson_cdf_thresholds()
    assert ts == sorted(ts)
    assert abs(ts[0] / (1 << 60) - math.exp(-1)) < 1e-12
    assert abs(ts[1] / (1 << 60) - 2 * math.exp(-1)) < 1e-12
    assert ts[-1] / (1 << 60) > 0.99998


def _run(spark, rows, parts=None, **kw):
    out = poisson_bootstrap_ci(
        _df(spark, rows, parts), "v", "id", **kw
    )
    return {r["event_type"]: r.asDict() for r in out.collect()}


def test_ci_brackets_mean_and_is_deterministic(spark):
    one = _run(spark, ROWS)["a"]
    assert one["ci_lo"] <= one["mean_value"] <= one["ci_hi"]
    assert one["ci_lo"] < one["ci_hi"]
    # same input, different partitioning: identical report
    again = _run(spark, ROWS, parts=7)["a"]
    assert again == one


def test_constant_data_degenerate_ci(spark):
    rows = [("c", i, 5.0) for i in range(50)]
    r = _run(spark, rows)["c"]
    assert r["ci_lo"] == r["ci_hi"] == r["mean_value"] == 5.0


def test_wider_level_wider_interval(spark):
    wide = _run(spark, ROWS, level=0.95)["a"]
    narrow = _run(spark, ROWS, level=0.5)["a"]
    assert narrow["ci_lo"] >= wide["ci_lo"]
    assert narrow["ci_hi"] <= wide["ci_hi"]


def test_nulls_excluded_and_groups_separate(spark):
    rows = [("a", 1, 1.0), ("a", 2, None), ("a", 3, 3.0), ("b", 4, 9.0)]
    by = _run(spark, rows)
    assert by["a"]["n_rows"] == 2 and by["a"]["mean_value"] == 2.0
    assert by["b"]["mean_value"] == 9.0


def test_mean_weight_near_one(spark):
    # the md5 grid should draw Poisson(1)-distributed weights: over
    # many (id, b) cells the average weight concentrates near 1
    from bigdata_commerce_spark.operators.bootstrap import _MAX_W

    df = _df(spark, [("a", i, 1.0) for i in range(500)])
    out = poisson_bootstrap_ci(df, "v", "id")
    # indirect check: with 500 rows x 40 resamples the resample SUM
    # of weights ~ Poisson(500); a broken grid (all-zero or
    # all-_MAX_W) would push the ci far from the value mean of 1.0
    r = {x["event_type"]: x for x in out.collect()}["a"]
    assert r["ci_lo"] == r["ci_hi"] == 1.0  # constant values
    assert _MAX_W >= 8
