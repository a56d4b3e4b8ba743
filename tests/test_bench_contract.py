"""Bench harness contract (round-13 hardening, VERDICT r12 items 1+8):

1. Cold-honest timing — every timed shot resets the two data-cache
   layers (the persist registry, which also holds the cross-query
   pairs frame, and the catalog cache), so a cache-bearing query's
   recorded time includes materializing its own caches instead of
   riding a hit from an earlier shot or query.
2. One-line stdout — the driver parses a single JSON line from
   bench.py's stdout; round 11's artifact failed that parse. main()
   diverts fd 1 to stderr for the whole run and prints the line last,
   so a stray JVM/operator write can never corrupt the artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bench import reset_caches
from bigdata_commerce_spark.operators import cache_util
from bigdata_commerce_spark.plans import catalog_dataops
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


def test_release_all_unpersists_and_empties(spark):
    frames = [
        cache_util.persist_bounded(spark.range(60 + i).select(F.col("id") * i))
        for i in range(3)
    ]
    for f in frames:
        f.count()
    cache_util.release_all()
    assert cache_util._PERSISTED_INPUTS == []
    assert all(not f.storageLevel.useMemory for f in frames)


def test_reset_caches_clears_both_layers(spark):
    reg = cache_util.persist_bounded(spark.range(70).select(F.col("id") + 1))
    reg.count()
    pairs = catalog_dataops._jaccard_pairs_cached(spark, SF_SMOKE)
    pairs.count()
    raw = spark.range(40).select(F.col("id") * 2).persist()
    raw.count()
    assert reg.storageLevel.useMemory and raw.storageLevel.useMemory
    assert pairs.storageLevel.useMemory
    reset_caches(spark)
    assert cache_util._PERSISTED_INPUTS == []
    assert not reg.storageLevel.useMemory
    assert not pairs.storageLevel.useMemory
    assert not raw.storageLevel.useMemory  # catalog clearCache caught it


def test_pairs_frame_shared_across_builds(spark):
    """Independent builds of the pairs frame (one per dedup consumer)
    read the first build's cache entry: the second collect adds no
    persisted RDD."""
    reset_caches(spark)
    jsc = spark.sparkContext._jsc
    catalog_dataops._jaccard_pairs_cached(spark, SF_SMOKE).collect()
    n_first = jsc.getPersistentRDDs().size()
    catalog_dataops._jaccard_pairs_cached(spark, SF_SMOKE).collect()
    assert jsc.getPersistentRDDs().size() == n_first
    reset_caches(spark)


@pytest.mark.slow
def test_bench_stdout_is_one_json_line():
    """End-to-end at the smoke SF: stdout must be exactly one line and
    it must parse as the contract JSON (metric/value/unit/queries/sf).
    Everything else — Spark progress bars, JVM warnings, operator
    logging — must have been diverted to stderr."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = SF_SMOKE
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=1800,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"expected 1 stdout line, got {len(lines)}: {lines[:3]}"
    out = json.loads(lines[0])
    assert out["metric"] == "catalog_suite_wall"
    assert out["unit"] == "sec"
    assert isinstance(out["queries"], dict) and len(out["queries"]) == 50
    assert not out.get("errors"), out.get("errors")
