"""Bloom-filter join pruning (operators/bloom.py): the sketch
contract (no false negatives, bounded false positives, mergeability),
exactness of the pruned semi/anti joins vs Spark's own joins, and the
plan shape the 100 TB story depends on (probe lookups are broadcast
joins — the probe side never shuffles)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bigdata_commerce_spark.operators import bloom

SCHEMA = StructType([StructField("k", LongType(), True)])


def _df(spark, values):
    return spark.createDataFrame([(v,) for v in values], SCHEMA)


def test_params_sizing():
    m, k = bloom.bloom_params(1000, 0.01)
    assert m >= 9000  # ~9.6 bits/key at 1% fpp
    assert 1 <= k <= 8
    m2, _ = bloom.bloom_params(1000, 0.001)
    assert m2 > m  # lower fpp -> more bits


def test_no_false_negatives(spark):
    keys = list(range(0, 4000, 7))
    m, k = bloom.bloom_params(len(keys), 0.01)
    filt = bloom.bloom_build(_df(spark, keys), "k", m, k)
    probed = bloom.bloom_might_contain(_df(spark, keys), "k", filt, m, k)
    assert probed.where(~F.col("__maybe")).count() == 0


def test_false_positive_rate_bounded(spark):
    member = list(range(500))
    absent = list(range(10_000, 14_000))
    m, k = bloom.bloom_params(len(member), 0.01)
    filt = bloom.bloom_build(_df(spark, member), "k", m, k)
    fp = (
        bloom.bloom_might_contain(_df(spark, absent), "k", filt, m, k)
        .where(F.col("__maybe"))
        .count()
    )
    # 3x headroom over the configured 1% for sampling noise
    assert fp / len(absent) < 0.03


def test_null_keys_never_stored_and_flag_false(spark):
    m, k = bloom.bloom_params(10, 0.01)
    filt = bloom.bloom_build(_df(spark, [1, 2, None]), "k", m, k)
    flags = {
        r.k: r["__maybe"]
        for r in bloom.bloom_might_contain(
            _df(spark, [1, None]), "k", filt, m, k
        ).collect()
    }
    assert flags[1] is True
    assert flags[None] is False


def test_merge_equals_build_of_union(spark):
    a, b = list(range(300)), list(range(200, 600))
    m, k = bloom.bloom_params(600, 0.01)
    merged = bloom.bloom_merge(
        bloom.bloom_build(_df(spark, a), "k", m, k),
        bloom.bloom_build(_df(spark, b), "k", m, k),
    )
    whole = bloom.bloom_build(_df(spark, sorted(set(a) | set(b))), "k", m, k)
    as_rows = lambda df: sorted((r.word_idx, r.bits) for r in df.collect())
    assert as_rows(merged) == as_rows(whole)


def _join_case(spark):
    big = _df(spark, list(range(2000)) + [None, None])
    keys = _df(spark, list(range(500, 700)) + list(range(5000, 5100)) + [None])
    return big, keys


def test_semi_join_exact(spark):
    big, keys = _join_case(spark)
    got = sorted(
        r.k for r in bloom.bloom_semi_join(big, keys, "k", "k").collect()
    )
    want = sorted(
        r.k for r in big.join(keys, "k", "left_semi").collect()
    )
    assert got == want == list(range(500, 700))


def test_anti_join_exact_keeps_null_probe_rows(spark):
    big, keys = _join_case(spark)
    got = sorted(
        (r.k is None, r.k)
        for r in bloom.bloom_anti_join(big, keys, "k", "k").collect()
    )
    want = sorted(
        (r.k is None, r.k) for r in big.join(keys, "k", "left_anti").collect()
    )
    assert got == want
    assert (True, None) in got  # left_anti keeps NULL-key probe rows


def test_semi_join_distinct_key_cols(spark):
    """big_col and key_col differ (the twin-query shape)."""
    big = _df(spark, list(range(100)))
    keys = spark.createDataFrame(
        [(v,) for v in range(50, 150)],
        StructType([StructField("other", LongType(), True)]),
    )
    got = sorted(
        r.k for r in bloom.bloom_semi_join(big, keys, "k", "other").collect()
    )
    assert got == list(range(50, 100))


def test_probe_side_never_shuffles(spark):
    """The k probe lookups must plan as broadcast hash joins with no
    hash-partitioning exchange — that is the whole point: the 100 TB
    probe side stays map-side."""
    member = list(range(500))
    m, k = bloom.bloom_params(len(member), 0.01)
    filt = bloom.bloom_build(_df(spark, member), "k", m, k)
    probed = bloom.bloom_might_contain(_df(spark, member), "k", filt, m, k)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only hash exchange allowed is the filter BUILD's bit_or
    # aggregate (tiny, word_idx-keyed); the probe key must never be a
    # partitioning key
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "word_idx" in line, line


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )

    @_HYP
    @given(
        big=st.lists(
            st.one_of(st.none(), st.integers(0, 500)), min_size=0, max_size=80
        ),
        keys=st.lists(
            st.one_of(st.none(), st.integers(0, 500)), min_size=0, max_size=40
        ),
        fpp=st.sampled_from([0.5, 0.05, 0.005]),
    )
    def test_hypothesis_pruned_joins_equal_plain(spark, big, keys, fpp):
        """Random multisets with NULLs and extreme fpp values: the
        bloom-pruned semi/anti joins must equal Spark's own joins
        row for row (multiset equality — duplicates preserved)."""
        bdf, kdf = _df(spark, big), _df(spark, keys)
        for how, fn in (
            ("left_semi", bloom.bloom_semi_join),
            ("left_anti", bloom.bloom_anti_join),
        ):
            got = sorted(
                (r.k is None, r.k) for r in fn(bdf, kdf, "k", "k", fpp=fpp).collect()
            )
            want = sorted(
                (r.k is None, r.k) for r in bdf.join(kdf, "k", how).collect()
            )
            assert got == want
except ImportError:  # pragma: no cover
    pass
