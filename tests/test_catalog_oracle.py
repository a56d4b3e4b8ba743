"""Every catalog query with an oracle must hash-match DuckDB — the
local twin of the driver's CORRECTNESS gate (run at sf0.001 for
speed; the driver uses sf0.01)."""

from __future__ import annotations

import pytest

from bigdata_commerce_spark.operators import cache_util
from bigdata_commerce_spark.plans import ORACLES, QUERIES
from tests.conftest import SF_SMOKE
from tests.oracle_utils import assert_driver_compatible, compare_to_oracle


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    compare_to_oracle(spark, df, ORACLES[name], SF_SMOKE, driver_slot=True)


def test_all_queries_run(spark):
    """Every driver query runs, and the pass leaks no cache: the only
    persisted RDDs it may add are the persist registry's live entries,
    since every other persist is released by the operator that made
    it."""
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    for name, fn in QUERIES.items():
        n = fn(spark, SF_SMOKE).count()
        assert n >= 0, name
    assert jsc.getPersistentRDDs().size() - base <= len(cache_util._REGISTRY)


def test_driver_catalog_emits_only_scalar_columns(spark):
    """Promotion pre-check (the r6 lesson): the driver's pandas
    canonicalizer cannot hash top-level array/map/struct columns, so
    EVERY driver-slotted query — oracle-paired or rows-only — must
    emit scalar columns. Schema-only: builds each plan, runs nothing."""
    for name, fn in QUERIES.items():
        assert_driver_compatible(fn(spark, SF_SMOKE), name)
