"""Column profiler (operators/profile.py). The oracle hash check for
the events twin lives in test_twin_queries.py; here: null
accounting, type routing, the Expand-free plan of the distinct counts,
pathological-value totality, and empty input."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.profile import profile_table


def _by_col(df):
    return {r["column"]: r.asDict() for r in df.collect()}


def test_counts_nulls_and_typed_minmax(spark):
    df = spark.createDataFrame(
        [(1, "b", 2.0), (2, None, 4.0), (3, "a", None)],
        "id long, s string, v double",
    )
    p = _by_col(profile_table(df))
    assert set(p) == {"id", "s", "v"}
    assert all(r["n_rows"] == 3 for r in p.values())
    assert (p["s"]["n_nonnull"], p["s"]["n_null"]) == (2, 1)
    assert (p["s"]["min_str"], p["s"]["max_str"]) == ("a", "b")
    assert p["s"]["min_num"] is None and p["s"]["mean"] is None
    assert (p["v"]["min_num"], p["v"]["max_num"]) == (2.0, 4.0)
    assert p["v"]["mean"] == 3.0 and p["v"]["n_distinct"] == 2
    assert p["id"]["n_distinct"] == 3 and p["id"]["min_str"] is None


def test_unsupported_types_get_counts_only(spark):
    df = spark.createDataFrame([([1, 2],), ([1],)], "arr array<long>")
    p = _by_col(profile_table(df))
    r = p["arr"]
    assert (r["n_nonnull"], r["n_distinct"]) == (2, 2)
    assert r["min_num"] is None and r["min_str"] is None and r["mean"] is None


def test_nan_and_overflow_report_null_mean_not_abort(spark):
    # A value decimal(38,6) can't hold must not crash the shared ANSI
    # aggregate; the column reports NULL mean while min/max still land.
    df = spark.createDataFrame(
        [(float("nan"),), (1.0,), (2.0,)], "v double"
    )
    r = _by_col(profile_table(df))["v"]
    assert r["mean"] is None
    assert r["max_num"] == 2.0 or math.isnan(r["max_num"])


def test_empty_frame_profiles_to_zero_counts(spark):
    df = spark.createDataFrame([], "id long, s string")
    p = _by_col(profile_table(df))
    assert p["id"]["n_rows"] == 0 and p["id"]["n_distinct"] == 0
    assert p["s"]["min_str"] is None


def test_exact_distinct_plans_without_expand(spark):
    """Each column's COUNT(DISTINCT) is its own single-distinct
    aggregate cross-joined onto the one-row result. Several in ONE
    aggregate would plan as an Expand whose group order follows
    expression-id hashes, so the plan fingerprint of events_profile
    would vary from run to run."""
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("v"),
        (F.col("id") % 3).cast("string").alias("s"),
    )
    plan = (
        profile_table(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan
    # the wide aggregate plus one single-distinct aggregate per column
    assert plan.count("count(distinct") >= 3


def test_boolean_and_ntz_columns_route_to_string_minmax(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(True, dt.datetime(2024, 1, 2, 3, 4, 5)), (False, dt.datetime(2024, 6, 7, 8, 9, 10))],
        "b boolean, t timestamp_ntz",
    )
    p = _by_col(profile_table(df))
    assert (p["b"]["min_str"], p["b"]["max_str"]) == ("false", "true")
    assert p["t"]["min_str"] == "2024-01-02 03:04:05"
    assert p["t"]["max_str"] == "2024-06-07 08:09:10"


def test_join_key_overlap_orphans_and_nulls(spark):
    """Orphans on both sides, NULL keys never match (counted in row
    totals but never in matched rates), rates row-weighted."""
    from bigdata_commerce_spark.operators.profile import join_key_overlap

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (None,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (3,), (None,), (None,)], "k long"
    )
    r = join_key_overlap(left, right, "k", "k").collect()[0]
    assert r.n_left == 5 and r.n_right == 4
    assert r.left_keys == 4 and r.right_keys == 3   # NULL group counts as a key row
    assert r.matched_keys == 1                       # only k=1
    assert r.left_orphan_keys == 3                   # 2, 9, NULL
    assert r.right_orphan_keys == 2                  # 3, NULL
    assert r.left_match_rate == round(2 / 5, 6)      # two k=1 rows of 5
    assert r.right_match_rate == round(1 / 4, 6)


def test_join_key_overlap_empty_sides(spark):
    from bigdata_commerce_spark.operators.profile import join_key_overlap

    empty = spark.createDataFrame([], "k long")
    full = spark.createDataFrame([(1,)], "k long")
    r = join_key_overlap(empty, full, "k", "k").collect()[0]
    assert (r.n_left, r.n_right) == (0, 1)
    assert r.left_match_rate == 0.0 and r.right_match_rate == 0.0
