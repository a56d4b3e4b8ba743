"""Build-job ratchet: building a driver query — calling its plan
function, before any action on the DataFrame it returns — submits no
Spark job. Ingest takes every schema from a parquet footer on the
driver, so the only build-time jobs left are the driver-side loops and
collects listed in ``BUILD_JOBS``, each with its reason and a ceiling.

Counts are per build at sf0.01, after ``reset_caches`` (as
``bench.time_query`` does), read through the job group each build runs
in. A new build-time job fails the test; so does a count above its
ceiling, and an entry whose query no longer submits any job."""

from __future__ import annotations

import time

from bigdata_commerce_spark.operators.cache_util import reset_caches
from bigdata_commerce_spark.plans import QUERIES
from tests.conftest import SF_ORACLE, in_job_group

# name -> (most jobs one build may submit, why the build needs them)
BUILD_JOBS: dict[str, tuple[int, str]] = {
    "dedup_canonical_docs": (
        18,
        "connected_components counts and collects the Jaccard pair edges for "
        "its driver-side union-find; adaptive execution runs each shuffle "
        "stage of the pair pipeline as its own job",
    ),
    "dedup_clusters": (18, "the same connected_components edge count and collect"),
    "embedding_ann_ivf": (
        1,
        "the cell assignment collects the md5-picked centroid block once",
    ),
    "embedding_ann_ivf_indexed": (
        10,
        "write_ivf_index checks the quantizer, collects the centroid block and "
        "writes the cell store, its schema anchor and the centroids; search "
        "collects the probes' cell list for partition pruning",
    ),
    "region_top3_parts": (1, "the 25-row nation table is collected to fan out per region"),
}


def build_job_counts(spark, names) -> dict[str, int]:
    """Spark jobs each query's build submits, one job group per query."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    prefix = f"build_jobs_{time.monotonic_ns()}"
    for name in names:
        reset_caches(spark)
        in_job_group(sc, f"{prefix}:{name}", lambda fn=QUERIES[name]: fn(spark, SF_ORACLE))
    # The listener bus delivers in order: once the sentinel's job is
    # visible, every job the builds submitted is too.
    sentinel = f"{prefix}:sentinel"
    in_job_group(sc, sentinel, lambda: spark.range(1).collect())
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(sentinel), "probe sees no jobs at all"
    reset_caches(spark)
    return {name: len(tracker.getJobIdsForGroup(f"{prefix}:{name}")) for name in names}


def ratchet_breaks(counts: dict[str, int], allowed: dict[str, tuple[int, str]]) -> list[str]:
    """Every way ``counts`` breaks the allow-list."""
    breaks = []
    for name, n in sorted(counts.items()):
        ceiling = allowed.get(name, (0, ""))[0]
        if n > ceiling:
            breaks.append(f"{name}: {n} build jobs, allowed {ceiling}")
    for name in sorted(allowed):
        if counts.get(name, 0) == 0:
            breaks.append(f"{name}: stale entry, its build submits no job")
    return breaks


def test_driver_query_builds_submit_only_allowed_jobs(spark):
    counts = build_job_counts(spark, sorted(QUERIES))
    assert ratchet_breaks(counts, BUILD_JOBS) == [], counts


def test_ratchet_catches_new_over_and_stale():
    allowed = {"a": (2, "r"), "b": (1, "r")}
    assert ratchet_breaks({"a": 2, "b": 1, "c": 0}, allowed) == []
    assert ratchet_breaks({"a": 3, "b": 0, "c": 1}, allowed) == [
        "a: 3 build jobs, allowed 2",
        "c: 1 build jobs, allowed 0",
        "b: stale entry, its build submits no job",
    ]
