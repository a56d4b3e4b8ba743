"""Hypothesis equivalence sweeps for the sufficient-statistics and
robust operators: generated inputs checked against independent
driver-side references (numpy for corr/OLS, sorted-list medians for
MAD), so the distributed closed forms are pinned to the textbook
definitions — not just to hand-picked fixtures."""

from __future__ import annotations

import math

import pytest

# Suite tiering (VERDICT r10 item 7, extended after measuring the
# round-11 durations): hypothesis sweeps are wall-dominant — the
# full `pytest tests/` run keeps them; `-m "not slow"` gives the
# fast development signal.
pytestmark = pytest.mark.slow

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdata_commerce_spark.operators.robust import robust_flag_anomalies
from bigdata_commerce_spark.operators.stats import corr_matrix, trend_per_key

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# 2-decimal values in a money-ish range: exactly representable in
# decimal(18,6), so the operator's exact-sums path and the float64
# reference agree to well inside the 1e-4 comparison slack
_VAL = st.decimals(
    min_value=-1000, max_value=1000, places=2, allow_nan=False, allow_infinity=False
).map(float)


@_SETTINGS
@given(rows=st.lists(st.tuples(_VAL, _VAL), min_size=3, max_size=40))
def test_corr_matches_numpy(spark, rows):
    df = spark.createDataFrame(rows, "a double, b double")
    got = corr_matrix(df, ["a", "b"]).collect()[0]
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    assert got.n_pairs == len(rows)
    if np.ptp(xs) == 0 or np.ptp(ys) == 0:
        assert got.corr is None
    else:
        want = np.corrcoef(xs, ys)[0, 1]
        if math.isnan(want):  # float64 degenerate (sub-ulp variance)
            assert got.corr is None or abs(got.corr) <= 1.0
        else:
            assert got.corr is not None
            assert abs(got.corr - want) < 1e-4


@_SETTINGS
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 365), _VAL), min_size=2, max_size=40
    ).filter(lambda ps: len({t for t, _ in ps}) > 1)
)
def test_trend_matches_numpy_lstsq(spark, pts):
    df = spark.createDataFrame([(1, t, v) for t, v in pts], "k int, t long, v double")
    got = trend_per_key(df, "k", "t", "v").collect()[0]
    ts = np.array([t for t, _ in pts], dtype=float)
    vs = np.array([v for _, v in pts], dtype=float)
    slope, intercept = np.polyfit(ts, vs, 1)
    assert got.n_points == len(pts)
    assert abs(got.slope - slope) < 1e-4
    assert abs(got.intercept - intercept) < 1e-4
    if got.r2 is not None:
        pred = slope * ts + intercept
        ss_res = float(((vs - pred) ** 2).sum())
        ss_tot = float(((vs - vs.mean()) ** 2).sum())
        assert abs(got.r2 - (1 - ss_res / ss_tot)) < 1e-3


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    m = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return round(m, 6)  # the operator's boundary rounding


@_SETTINGS
@given(vals=st.lists(_VAL, min_size=1, max_size=40), z=st.sampled_from([2.0, 3.5]))
def test_robust_flags_match_reference_mad(spark, vals, z):
    df = spark.createDataFrame([(1, v) for v in vals], "k int, value double")
    got = {
        (r.value, i): (r.rz, r.is_anomaly)
        for i, r in enumerate(
            robust_flag_anomalies(df, "k", z_threshold=z)
            .orderBy("value")
            .collect()
        )
    }
    med = _median(vals)
    mad = _median([abs(v - med) for v in vals])
    for (v, _), (rz, flag) in got.items():
        if mad == 0:
            assert rz is None and flag is False
        else:
            want = round((v - med) / (1.4826 * mad), 4)
            assert rz is not None and abs(rz - want) < 1e-6
            assert flag == (abs(want) > z)
