"""Cache layers (operators/cache_util): the bounded persist registry —
the release path for operators whose lazy outputs cannot unpersist
their own cached inputs — and ``reset_caches``, which drops every
data-cache layer at once.

The registry is keyed by the plan's semantic hash: two operators
persisting the SAME subtree (the minhash-LSH / n-gram-Jaccard dedup
paths share one shingle frame) hold one cache entry, so a duplicate
registration must refresh recency instead of appending — otherwise
evicting the stale handle unpersists the cache the newer consumer
still rides.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import cache_util
from bigdata_commerce_spark.operators.cache_util import (
    PERSIST_BOUND,
    persist_bounded,
    reset_caches,
)
from bigdata_commerce_spark.plans import catalog_dataops
from tests.conftest import SF_SMOKE


def _drop_registry():
    for df in cache_util._REGISTRY.values():
        try:
            df.unpersist()
        except Exception:
            pass
    cache_util._REGISTRY.clear()


@pytest.fixture(autouse=True)
def _clean_registry():
    prev = dict(cache_util._REGISTRY)
    cache_util._REGISTRY.clear()
    yield
    _drop_registry()
    cache_util._REGISTRY.update(prev)


def test_registry_stays_bounded(spark):
    frames = [
        persist_bounded(spark.range(100 + i).select(F.col("id") + i))
        for i in range(PERSIST_BOUND + 3)
    ]
    assert len(cache_util._REGISTRY) == PERSIST_BOUND
    # evicted frames are no longer cached; survivors are
    assert not frames[0].storageLevel.useMemory
    assert frames[-1].storageLevel.useMemory


def test_plan_identical_registration_refreshes_instead_of_duplicating(spark):
    """The second, plan-identical frame comes from the same session,
    then from ``spark.newSession()``: every session of a SparkContext
    shares one CacheManager, so the new session's frame reads the first
    one's cached relation and must share its registry entry too."""
    for n, second in ((50, spark), (60, spark.newSession())):
        _drop_registry()
        a = persist_bounded(spark.range(n).select((F.col("id") * 2).alias("v")))
        a.count()  # materialize the shared cache
        # a second operator persists the SAME plan: must not append
        b = persist_bounded(second.range(n).select((F.col("id") * 2).alias("v")))
        assert len(cache_util._REGISTRY) == 1
        assert "InMemoryTableScan" in b._jdf.queryExecution().executedPlan().toString()
        # pushing PERSIST_BOUND-1 distinct frames must NOT evict the
        # refreshed shared entry (it is the most recent)
        for i in range(PERSIST_BOUND - 1):
            persist_bounded(spark.range(10 + i).select(F.col("id") - i))
        assert b.storageLevel.useMemory
        assert a.storageLevel.useMemory  # same cache entry


def test_reset_caches_clears_both_layers(spark):
    reg = persist_bounded(spark.range(70).select(F.col("id") + 1))
    reg.count()
    pairs = catalog_dataops._jaccard_pairs_cached(spark, SF_SMOKE)
    pairs.count()
    raw = spark.range(40).select(F.col("id") * 2).persist()
    raw.count()
    spark.range(30).select(F.col("id") * 3).localCheckpoint()
    assert reg.storageLevel.useMemory and raw.storageLevel.useMemory
    assert pairs.storageLevel.useMemory
    reset_caches(spark)
    assert cache_util._REGISTRY == {}
    assert not reg.storageLevel.useMemory
    assert not pairs.storageLevel.useMemory
    assert not raw.storageLevel.useMemory  # catalog clearCache caught it
    # the RDD-level persist behind localCheckpoint is swept last
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
