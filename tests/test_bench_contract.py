"""Bench harness contract (round-13 hardening, VERDICT r12 items 1+8):

1. Cold-honest timing — every timed shot calls
   ``cache_util.reset_caches`` (pinned in tests/test_cache_util.py), so
   a cache-bearing query's recorded time includes materializing its
   own caches instead of riding a hit from an earlier shot or query.
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

from bench import _PLAN_NOISE, baseline_comparable
from bigdata_commerce_spark.operators.cache_util import reset_caches
from bigdata_commerce_spark.plans import catalog_dataops
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent


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


def test_baseline_ratios_only_at_the_baseline_cores():
    """baseline_ratio/regressions compare against BENCH_BASELINE.json
    only on a session with the core count its protocol names."""
    doc = json.loads((REPO / "BENCH_BASELINE.json").read_text())
    assert "local[32]" in doc["provenance"]["protocol"]
    assert baseline_comparable(doc, 32)
    assert not baseline_comparable(doc, 4)
    assert not baseline_comparable(doc, 320)
    # a baseline that names no local[N] keeps the ratios
    assert baseline_comparable({"queries": {}}, 4)
    assert baseline_comparable({"provenance": {"protocol": "best of 3"}}, 4)
    # the provenance's cpus field wins over the protocol string
    both = {"provenance": {"protocol": "quiet box, local[32]", "cpus": 4}}
    assert baseline_comparable(both, 4) and not baseline_comparable(both, 32)


def test_rebaseline_only_appends_shots_with_provenance(tmp_path, monkeypatch):
    """``rebaseline(names=...)`` re-times only the named queries: their
    new shots follow the prior ones, each re-time adds a provenance
    entry (head, timestamp, shot count), and the provenance names the
    session's cores. Spark and the timer are stubbed."""
    import bench

    prior = {
        "metric": "catalog_suite_wall", "value": 3.0, "unit": "sec",
        "queries": {"a": 1.0, "b": 2.0}, "sf": 0.1,
        "plan_fp": {"a": "fa", "b": "fb"},
        "shots": {"a": [1.0, 1.0, 1.0], "b": [2.0, 2.0, 2.0]},
        "provenance": {"protocol": "old protocol, local[32]"},
    }
    (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps(prior))

    class _Context:
        defaultParallelism = 4

    class _Spark:
        sparkContext = _Context()

        def stop(self):
            pass

    shots = iter([9.0, 0.5, 0.7, 0.6, 0.8, 0.4])
    monkeypatch.setattr(bench, "REPO", tmp_path)
    monkeypatch.setattr(bench, "ALL_QUERIES", {"a": None, "b": None})
    monkeypatch.setattr(bench, "get_spark", lambda **kw: _Spark())
    monkeypatch.setattr(bench, "warm_session", lambda spark, sf_dir: None)
    monkeypatch.setattr(bench, "time_query", lambda fn, spark, sf_dir: (next(shots), "fa2"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    bench.rebaseline(names=["a"])

    out = json.loads((tmp_path / "BENCH_BASELINE.json").read_text())
    assert out["queries"] == {"a": 0.6, "b": 2.0} and out["value"] == 2.6
    assert out["shots"] == {
        "a": [1.0, 1.0, 1.0, 9.0, 0.5, 0.7, 0.6, 0.8, 0.4], "b": [2.0, 2.0, 2.0]
    }
    assert out["plan_fp"] == {"a": "fa2", "b": "fb"}
    (entry,) = out["provenance"]["entries"]["a"]
    assert entry["shots"] == 6 and entry["head"] and entry["recorded_at"].endswith("Z")
    assert "b" not in out["provenance"]["entries"]
    assert out["provenance"]["cpus"] == 4
    assert baseline_comparable(out, 4) and not baseline_comparable(out, 32)


def test_plan_noise_drops_the_checkout_path():
    line = f"Location: InMemoryFileIndex(1 paths)[file:{REPO}/.scratch/ivf_index/sf0.01]"
    for pat, repl in _PLAN_NOISE:
        line = pat.sub(repl, line)
    assert line == "Location: InMemoryFileIndex(1 paths)[file:<repo>/.scratch/ivf_index/sf0.01]"


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
    assert out["cpus"] == int(env["SPARK_GRAFT_CPUS"])
    assert not out.get("errors"), out.get("errors")


_WARM_PROBE = """
import os, sys
from pathlib import Path
sys.path.insert(0, {repo!r})
import bench
from bigdata_commerce_spark import get_spark

spark = get_spark(shuffle_partitions=2)
bench.warm_session(spark, {sf!r})
parent = {{}}
for proc in Path("/proc").iterdir():
    if not proc.name.isdigit():
        continue
    try:
        stat = (proc / "stat").read_text()
        cmd = (proc / "cmdline").read_bytes().replace(b"\\0", b" ").decode()
    except OSError:
        continue
    parent[int(proc.name)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd)
family, frontier = [], [os.getpid()]
while frontier:
    top = frontier.pop()
    kids = [p for p, (pp, _) in parent.items() if pp == top]
    family += kids
    frontier += kids
print(sum("pyspark.daemon" in parent[p][1] for p in family))
spark.stop()
"""


def test_warm_session_starts_python_workers():
    """warm_session's pandas-UDF step must run, not be pruned: after
    it, a pyspark.daemon process runs under the session. Checked in a
    fresh process, so no earlier test's UDF can have started one."""
    out = subprocess.run(
        [sys.executable, "-c", _WARM_PROBE.format(repo=str(REPO), sf=SF_SMOKE)],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.strip().splitlines()[-1]) >= 1
