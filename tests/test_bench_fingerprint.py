"""Plan fingerprints (VERDICT r10 item 5): bench.py records a
normalized hash of each headline query's physical plan next to its
time, so "plan unchanged since round N" is a machine-checkable
artifact instead of a hand-read of explain output. These tests pin
the property that makes the artifact meaningful: unchanged code at a
fixed SF produces unchanged fingerprints — across rebuilds, session
cache warmth (a persisted subtree renders differently once another
query materializes it), expression-id drift, and
higher-order-function variable counters.
"""

from __future__ import annotations

import pytest

from bench import ALL_QUERIES, headline_names, plan_fingerprint
from tests.conftest import SF_SMOKE


def test_fingerprint_stable_and_discriminating_smoke(spark):
    """Fast signal: same plan -> same fingerprint, different plan ->
    different fingerprint."""
    from bigdata_commerce_spark.sources.testdata import load_table

    r1 = load_table(spark, "region", SF_SMOKE).select("r_name")
    r2 = load_table(spark, "region", SF_SMOKE).select("r_name")
    assert plan_fingerprint(r1) == plan_fingerprint(r2)
    other = load_table(spark, "region", SF_SMOKE).groupBy("r_name").count()
    assert plan_fingerprint(r1) != plan_fingerprint(other)


@pytest.mark.slow
def test_headline_fingerprints_deterministic(spark):
    """Unchanged code => unchanged fingerprints at fixed SF: two full
    passes over the pinned headline suite must agree
    fingerprint-for-fingerprint — and the 50 fingerprints must be
    pairwise distinct (a normalization that collapsed real plan
    differences would be useless as a drift detector).

    The pass boundary resets ALL data-cache layers via
    ``cache_util.reset_caches`` — the persist registry (which holds the
    pairs frame) AND Spark's cache — the call the bench makes between
    timed shots — so both passes plan in the same cache
    environment, and a difference is a fingerprint instability rather
    than a later query (dedup_minhash_lsh, dedup_simhash) planning
    against a shared subtree an earlier pass left cached."""
    from bigdata_commerce_spark.operators.cache_util import reset_caches

    names = headline_names()

    def one_pass() -> dict[str, str]:
        reset_caches(spark)
        return {n: plan_fingerprint(ALL_QUERIES[n](spark, SF_SMOKE)) for n in names}

    p1, p2 = one_pass(), one_pass()
    unstable = [n for n in names if p1[n] != p2[n]]
    assert not unstable, f"fingerprints changed across identical builds: {unstable}"
    assert len(set(p1.values())) == len(names), "fingerprint collision"


def test_fp_changes_diff_semantics():
    """The plan-drift report compares only names present in both
    archives (rotation adds/drops are not plan changes), and a query
    whose build stopped planning (None) is loud."""
    from bench import fp_changes

    prev = {"a": "f1", "b": "f2", "gone": "f3"}
    cur = {"a": "f1", "b": "XX", "new": "f4", "err": None}
    assert fp_changes(prev, cur) == {"b": {"prev": "f2", "cur": "XX"}}
    assert fp_changes({"err": "f5"}, cur) == {"err": {"prev": "f5", "cur": None}}
