"""Unit coverage for the declarative validation suite
(operators/validate.py): NULL-is-a-violation semantics, uniqueness
surplus arithmetic, plan shape (all row checks share one aggregate),
and the contract errors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import validate as V


def _report(df, checks):
    return {r.check_name: r for r in V.validate(df, checks).collect()}


def test_row_checks_null_counts_as_violation(spark):
    df = spark.createDataFrame(
        [(1, 5.0, "A"), (2, None, "B"), (None, 70.0, "A"), (4, 9.0, None)],
        "id long, qty double, flag string",
    )
    got = _report(
        df,
        [
            V.not_null("id"),
            V.in_range("qty", 0, 10),
            V.in_set("flag", ["A", "B"]),
            V.satisfies("qty_gt_id", F.col("qty") > F.col("id")),
        ],
    )
    assert got["not_null(id)"].n_violations == 1
    # qty: NULL row violates, 70.0 violates
    assert got["in_range(qty)"].n_violations == 2
    # flag: NULL isin(...) is NULL -> violation
    assert got["in_set(flag)"].n_violations == 1
    # qty > id: NULL qty and NULL id rows both violate; 70>NULL -> NULL
    assert got["qty_gt_id"].n_violations == 2
    assert all(r.n_rows == 4 for r in got.values())
    assert not got["not_null(id)"].passed


def test_finite_flags_nan_and_inf_not_null(spark):
    """finite(): NaN and +-Inf violate, NULL passes (absent data is a
    not_null concern) — the gate for money_sum's documented behavior
    of silently SKIPPING non-finite addends (their decimal cast NULLs
    out, measured on Spark 4 ANSI)."""
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf"),), (float("-inf"),), (None,)],
        "v double",
    )
    got = _report(df, [V.finite("v")])
    assert got["finite(v)"].n_violations == 3
    assert not got["finite(v)"].passed
    # and the documented downstream behavior this check guards:
    from bigdata_commerce_spark.functions import money_sum

    assert df.agg(money_sum(F.col("v")).alias("s")).collect()[0].s == 1.0


def test_unique_counts_surplus_rows(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (None, "c"), (None, "c")],
        "k long, v string",
    )
    got = _report(df, [V.unique("k", "v"), V.unique("v")])
    # (1,a) has 2 surplus rows; (None,c) has 1 — NULL keys group together
    assert got["unique(k,v)"].n_violations == 3
    assert got["unique(k,v)"].n_rows == 6
    assert got["unique(v)"].n_violations == 3
    # passing case
    ok = _report(df.limit(0), [V.unique("k")])
    assert ok["unique(k)"].n_violations == 0 and ok["unique(k)"].passed


def test_matches_and_passing_report(spark):
    df = spark.createDataFrame([("ab12",), ("zz99",), ("bad",)], "code string")
    got = _report(df, [V.matches("code", r"^[a-z]{2}[0-9]{2}$")])
    assert got["matches(code)"].n_violations == 1
    assert not got["matches(code)"].passed


def test_row_checks_share_one_aggregate(spark):
    """However many row checks are declared, the physical plan scans
    once: exactly one aggregate pair (partial+final) and no join."""
    df = spark.createDataFrame([(1, 2.0)], "a long, b double")
    rep = V.validate(
        df, [V.not_null("a"), V.in_range("b", 0, 10), V.satisfies("x", F.col("b") > 0)]
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2, plan
    assert "Join" not in plan


def test_contract_errors(spark):
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(ValueError, match="at least one"):
        V.validate(df, [])
    with pytest.raises(ValueError, match="duplicate check name"):
        V.validate(df, [V.not_null("a"), V.not_null("a")])


def test_empty_input_reports_zero_violations(spark):
    """An empty partition passes vacuously — no NULLs in the report."""
    df = spark.createDataFrame([], "a long, b double")
    got = {r.check_name: r for r in V.validate(
        df, [V.not_null("a"), V.in_range("b", 0, 1), V.unique("a")]
    ).collect()}
    for r in got.values():
        assert r.n_rows == 0 and r.n_violations == 0 and r.passed is True


def test_agg_checks_share_the_pass(spark):
    df = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 7.0, 7.0), (3, 9.0, 9.0)], "id long, x double, y double"
    )
    got = _report(
        df,
        [
            V.not_null("id"),
            V.mean_in_range("x", 6, 8),
            V.mean_in_range("y", 0, 1),
            V.agg_satisfies("spread_ok", (F.max("x") - F.min("x")) < 10),
        ],
    )
    assert got["mean_in_range(x)"].n_violations == 0 and got["mean_in_range(x)"].passed
    assert got["mean_in_range(y)"].n_violations == 1 and not got["mean_in_range(y)"].passed
    assert got["spread_ok"].passed
    # still one aggregate for everything
    rep = V.validate(df, [V.not_null("id"), V.mean_in_range("x", 0, 10)])
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2
    # vacuous truth on empty input
    empty = _report(df.limit(0), [V.mean_in_range("x", 6, 8)])
    assert empty["mean_in_range(x)"].n_violations == 0


def test_in_reference_check(spark):
    """Foreign-key containment: non-NULL orphans violate, NULLs do
    not; report shape matches the other check kinds."""
    from bigdata_commerce_spark.operators import validate as V

    dim = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    fact = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 9), (13, None), (14, 9)],
        "id long, fk long",
    )
    rep = {r.check_name: r for r in V.validate(
        fact,
        [
            V.in_reference("fk", dim, "k"),
            V.not_null("fk"),
        ],
    ).collect()}
    ref = rep["in_reference(fk)"]
    assert ref.kind == "in_reference"
    assert ref.n_rows == 5
    assert ref.n_violations == 2  # the two fk=9 orphans; NULL exempt
    assert not ref.passed
    assert rep["not_null(fk)"].n_violations == 1

    # all contained -> passes
    ok = V.validate(
        fact.where("fk IS NOT NULL AND fk < 3"),
        [V.in_reference("fk", dim, "k")],
    ).collect()[0]
    assert ok.passed and ok.n_violations == 0
