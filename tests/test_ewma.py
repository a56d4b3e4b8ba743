"""EWMA per key (operators/timeseries.ewma_per_key). The exact
path's unrounded hash-match against the DuckDB RECURSIVE-CTE oracle
lives in test_twin_queries.py (events_ewma_value); here: bit-parity
with pandas, the bucketized path's documented tolerance contract,
null handling, ordering, and input validation."""

from __future__ import annotations

import datetime as dt
import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.timeseries import ewma_per_key


def _frame(spark, series: dict[int, list[float]]):
    rows = []
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((uid, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=7 * i), i, v))
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )


def _collect(df):
    return {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in df.collect()
    }


def test_exact_path_bit_identical_to_pandas(spark):
    rng = random.Random(7)
    series = {u: [rng.uniform(-50, 50) for _ in range(40)] for u in range(5)}
    got = _collect(ewma_per_key(_frame(spark, series), 0.3))
    for u, vals in series.items():
        want = pd.Series(vals).ewm(alpha=0.3, adjust=False).mean()
        for i in range(len(vals)):
            assert got[(u, i)] == want.iloc[i], (u, i)  # BIT identical


def test_bucketized_path_matches_exact_within_tolerance(spark):
    rng = random.Random(11)
    series = {u: [rng.uniform(-1000, 1000) for _ in range(120)] for u in range(4)}
    df = _frame(spark, series)
    exact = _collect(ewma_per_key(df, 0.2))
    buck = _collect(
        ewma_per_key(df, 0.2, bucket_seconds=60)
    )
    assert set(exact) == set(buck)
    for k in exact:
        assert math.isclose(exact[k], buck[k], rel_tol=1e-11, abs_tol=1e-11), k


def test_null_ts_and_value_rows_excluded(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 0, 10.0),
        (1, None, 1, 99.0),
        (1, dt.datetime(2024, 1, 1, 0, 0, 2), 2, None),
        (1, dt.datetime(2024, 1, 1, 0, 0, 3), 3, 20.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = _collect(ewma_per_key(df, 0.5))
    # NULL rows neither appear nor perturb the state.
    assert out == {(1, 0): 10.0, (1, 3): 0.5 * 20.0 + 0.5 * 10.0}


def test_tie_timestamps_break_on_tiebreak_col(spark):
    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t, 2, 30.0), (1, t, 1, 10.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    out = _collect(ewma_per_key(df, 0.5))
    assert out[(1, 1)] == 10.0 and out[(1, 2)] == 20.0


def test_alpha_validated(spark):
    df = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    with pytest.raises(ValueError):
        ewma_per_key(df, 0.0)
    with pytest.raises(ValueError):
        ewma_per_key(df, 1.5)


def test_alpha_one_is_identity(spark):
    series = {1: [3.0, 7.0, -2.0]}
    out = _collect(ewma_per_key(_frame(spark, series), 1.0))
    assert out == {(1, 0): 3.0, (1, 1): 7.0, (1, 2): -2.0}


def test_bucket_boundaries_align_with_exact_first_value(spark):
    # First bucket of a key seeds with v_1 even when later buckets
    # exist; a key living entirely in one bucket equals the exact path.
    series = {1: [5.0, 6.0], 2: [1.0]}
    df = _frame(spark, series)
    exact = _collect(ewma_per_key(df, 0.4))
    buck = _collect(ewma_per_key(df, 0.4, bucket_seconds=5))
    assert exact == buck  # single-element folds: no re-association at all


def test_decayed_sum_per_key_hand_computed(spark):
    """Weights halve per half-life; future events excluded; NULLs
    excluded; partitioning-independent at the rounded precision."""
    import datetime as dt

    from bigdata_commerce_spark.operators.timeseries import decayed_sum_per_key

    t0 = dt.datetime(2024, 1, 10, 0, 0, 0)
    hl = 3600.0
    rows = [
        (1, t0, 8.0),                                    # age 2h -> w=1/4
        (1, t0 + dt.timedelta(hours=1), 8.0),            # age 1h -> w=1/2
        (1, t0 + dt.timedelta(hours=2), 8.0),            # age 0 -> w=1
        (1, t0 + dt.timedelta(hours=3), 999.0),          # future: excluded
        (2, None, 5.0),                                  # NULL ts: excluded
        (2, t0 + dt.timedelta(hours=2), None),           # NULL value: excluded
        (2, t0 + dt.timedelta(hours=1, minutes=30), 4.0),  # w = 2^-0.5
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    asof = t0 + dt.timedelta(hours=2)
    got = {r.user_id: r for r in
           decayed_sum_per_key(df, hl, asof).collect()}
    assert got[1].n_events == 3
    assert got[1].decayed_sum == round(8.0 * (0.25 + 0.5 + 1.0), 6)
    assert got[1].decayed_count == round(0.25 + 0.5 + 1.0, 6)
    assert got[2].n_events == 1
    assert got[2].decayed_sum == round(4.0 * 2 ** -0.5, 6)
    again = {r.user_id: r.decayed_sum for r in
             decayed_sum_per_key(df.repartition(7, "value"), hl, asof).collect()}
    assert again == {k: v.decayed_sum for k, v in got.items()}
