"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import checks, harness, inputs, run

ROOT = Path(__file__).resolve().parents[2]


def _spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# -- metrics ---------------------------------------------------------------


def test_every_named_metric_is_reported_with_its_unit():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == ["catalog_suite", "ad_stream"]
    ops = [harness.Op("q", 1.0)]
    for table in (run.END_TO_END, run.PER_LAYER):
        values = {name: 1.5 for name, _ in table}
        out = run.assemble(ops, values, table)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in table}


def test_setup_metric_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


# -- failures and wrong results ---------------------------------------------


def _sleep_then(value=None, exc=None):
    def fn(phases):
        time.sleep(0.05)
        if exc:
            raise exc
        return value

    return fn


def test_failing_operation_raises_error_rate_and_keeps_its_time():
    good, _ = harness.run_op("good", _sleep_then(1))
    bad, _ = harness.run_op("bad", _sleep_then(exc=RuntimeError("boom")))
    assert good.ok and not bad.ok and "boom" in bad.error
    assert bad.seconds >= 0.05
    out = run.assemble([good, bad], {"x": 0.0}, (("x", "s"),))
    assert (out["attempted"], out["failed"], out["correct"]) == (2, 1, False)


def test_warmup_operations_count_in_the_unit_but_not_in_percentiles():
    setup = {"cpu_s": 3.0, "wall_s": 1.0}
    ops = [harness.Op("epoch0", 9.0, cpu_s=30.0, warmup=True),
           harness.Op("epoch1", 8.0, False, "wrong", cpu_s=20.0, warmup=True),
           harness.Op("epoch2", 2.0, cpu_s=10.0),
           harness.Op("epoch3", 3.0, cpu_s=12.0)]
    e2e = run.end_to_end(setup, ops, [22.0], [72.0])
    assert e2e["cpu_s"] == 72.0 and e2e["wall_s"] == 22.0
    assert e2e["op_cpu_p80_s"] == pytest.approx(11.6)
    assert e2e["op_p50_s"] == pytest.approx(2.5)
    out = run.assemble(ops, {"x": 0.0}, (("x", "s"),))
    assert (out["attempted"], out["failed"]) == (4, 1)


def test_perturbed_result_fails_its_check_and_keeps_its_time():
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.25)]
    check = checks.expect_digest(checks.digest(cols, rows))
    ok, _ = harness.run_op("same", _sleep_then((cols, list(reversed(rows)))), check)
    assert ok.ok
    wrong, _ = harness.run_op("wrong", _sleep_then((cols, [(1, 0.5), (2, 1.26)])), check)
    assert not wrong.ok and "digest" in wrong.error and wrong.seconds >= 0.05
    short, _ = harness.run_op("short", _sleep_then((cols, rows[:1])), check)
    assert not short.ok


def test_digest_ignores_order_and_float_noise_only():
    d = checks.digest(["a", "b"], [(1, 0.1 + 0.2), (2, None)])
    assert d == checks.digest(["b", "a"], [(None, 2), (0.3, 1)])
    assert d != checks.digest(["a", "b"], [(1, 0.31), (2, None)])


def _ad_state(src: Path, heavy: list[int]) -> dict[str, list]:
    """The state a correct drain leaves: every event counted."""
    events = pq.read_table(sorted(src.glob("*.parquet"))).to_pylist()
    users: dict = {}
    cum: dict = {}
    for e in events:
        k = (e["event_date"], e["user_id"], e["ad_id"])
        users[k] = users.get(k, 0) + 1
        c = (e["event_date"], e["province"], e["city"], e["ad_id"])
        cum[c] = cum.get(c, 0) + 1
    return {
        "blacklist": [{"user_id": u} for u in heavy],
        "user_counts": [dict(zip(("event_date", "user_id", "ad_id"), k), click_count=n)
                        for k, n in users.items()],
        "cumulative": [dict(zip(("event_date", "province", "city", "ad_id"), k), click_count=n)
                       for k, n in cum.items()],
        "top3": [],
    }


def test_ad_state_check_accepts_a_full_count_and_rejects_perturbations(tmp_path):
    inputs.write_ad_clicks(tmp_path, seed=3, n_files=2, events_per_file=300)
    heavy = inputs.heavy_users()
    state = _ad_state(tmp_path, heavy)
    assert checks.check_ad_state(state, tmp_path, heavy) is None
    short_blacklist = dict(state, blacklist=state["blacklist"][1:])
    assert "blacklist" in checks.check_ad_state(short_blacklist, tmp_path, heavy)
    light = next(r for r in state["user_counts"] if r["user_id"] not in heavy)
    bumped = [dict(r, click_count=r["click_count"] + (r is light)) for r in state["user_counts"]]
    assert checks.check_ad_state(dict(state, user_counts=bumped), tmp_path, heavy)


# -- generators --------------------------------------------------------------


def _tree_bytes(path: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(path.glob("*.parquet"))}


def test_ad_generator_is_byte_identical_per_seed_and_plants_the_blacklist(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        d.mkdir()
        inputs.write_ad_clicks(d, seed, n_files=3, events_per_file=500)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)
    rows = pq.read_table(sorted(a.glob("*.parquet"))).to_pylist()
    per_key: dict = {}
    for r in rows:
        per_key[(r["user_id"], r["ad_id"])] = per_key.get((r["user_id"], r["ad_id"]), 0) + 1
    over = {u for (u, _), n in per_key.items() if n > inputs.AD_THRESHOLD}
    assert over == set(inputs.heavy_users())


# -- provenance and contract -------------------------------------------------


def test_runs_at_different_core_counts_are_not_compared():
    a = {"workload": "ad_stream", "provenance": {"cpus": 4, "master": "local[4]"}}
    b = {"workload": "ad_stream", "provenance": {"cpus": 32, "master": "local[32]"}}
    assert harness.comparable(a, a) is None
    assert "cpus" in harness.comparable(a, b)


def test_spans_are_the_one_timing_and_kept_only_when_tracing():
    for enabled in (False, True):
        tr = harness.Tracer(enabled)
        with tr.span("merge:a", "sinks") as s:
            time.sleep(0.02)
        with tr.span("read_state:a", "sinks"):
            pass
        assert s.end - s.start >= 0.02
        assert len(tr.spans) == (2 if enabled else 0)
        assert tr.total("sinks", "merge:") == ((s.end - s.start) if enabled else 0.0)


def test_span_on_another_thread_is_a_child_of_the_open_span():
    import threading

    tr = harness.Tracer(True)

    def batch():
        with tr.span("merge:a", "sinks"):
            time.sleep(0.03)

    with tr.span("drain", "streaming"):
        t = threading.Thread(target=batch)
        t.start()
        t.join()
    drain, merge = tr.spans
    assert merge.parent == 0
    self_t = tr.self_time_by_layer()
    assert self_t["streaming"] == pytest.approx(
        (drain.end - drain.start) - (merge.end - merge.start))


def test_epoch_cpu_covers_the_whole_drain_up_to_the_last_epoch():
    from perfbench.workloads import epoch_deltas

    ends = {2: 19.0, 0: 12.0, 1: 15.5}
    deltas = epoch_deltas(10.0, ends)
    assert deltas == {0: 2.0, 1: 3.5, 2: 3.5}
    assert sum(deltas.values()) == 19.0 - 10.0


def test_percentile_interpolates():
    assert harness.percentile([3.0], 80) == 3.0
    assert harness.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert harness.percentile([1.0, 2.0, 3.0], 80) == pytest.approx(2.6)


def test_without_the_program_the_benchmark_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ad_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
