"""Benchmark entry point.

    python3 perfbench/run.py --workload <catalog_suite|ad_stream>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One fresh process at local[<cores>]:
seeded inputs are made (and cached per seed) first, then set-up is
measured, then units of work run until ``--seconds`` of measured work
have passed (at least one unit). Outputs are checked outside the timed
regions. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``); ``failed`` over
``attempted`` is the error rate. The full run record (provenance, seed,
input sizes, every operation, set-up split, wall-clock figures, spans
when traced) goes to ``.perfbench_out/``; ``compare.py`` summarises and
compares such records.

Everything the run writes stays inside the checkout: caches in
``.perfbench_cache/``, working files in ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

MAX_UNITS = 8
# Stop starting units once this much of the run has passed, so a run
# ends well inside its time limit.
UNIT_DEADLINE_S = 110.0

# The gated end-to-end metrics are CPU seconds (Python driver + JVM +
# Python workers) of set-up and of one unit of work. On a shared host,
# steal time swung wall-clock spreads across ten runs to 0.23-0.46; CPU
# time does not grow with steal. Per-operation percentiles are not
# gated: a unit holds 12 queries or 4 measured epochs, fewer than the
# 20 (median) or 50 (80th percentile) samples that leave ten beyond the
# percentile, and across six-run sets the median CPU of an ad epoch
# spread 0.12-0.27 where the unit's CPU spread 0.07-0.12. They stay in
# the run record with their sample count (op_samples), as do the
# wall-clock figures (wall_s, op_p50_s, op_p80_s, setup_wall_s).
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
)

PER_LAYER = (
    ("memory.peak_rss_mb", "MB"),
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.load_s", "s"),
    ("sources.load_jobs", "count"),
    ("sources.input_bytes", "bytes"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("exec.collect_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_busy_s", "s"),
    ("exec.core_util", "ratio"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("operators.python_total_s", "s"),
    ("operators.python_boot_s", "s"),
    ("operators.python_bytes_sent", "bytes"),
    ("operators.python_bytes_received", "bytes"),
    ("operators.persisted_rdds", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.epoch_jobs", "count"),
    ("sinks.merge_s", "s"),
    ("sinks.read_state_s", "s"),
    ("sinks.state_bytes", "bytes"),
    ("sinks.write_amp", "ratio"),
    ("trace.wall_s", "s"),
    ("trace.counter_read_s", "s"),
)


def configure_env() -> None:
    """Process environment for Spark, set before pyspark is imported:
    local[<cores>], Python workers that can import the program, and
    every working and temp directory inside the checkout."""
    work = ROOT / ".perfbench_work"
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    # The caller's JVM options are kept; ours only keep the JVM's temp
    # and perf-data files out of /tmp.
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=str(ROOT) + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
    )


def timed_setup(workload) -> tuple[object, dict[str, float]]:
    """get_spark, then the workload's warm-up, with no JVM running
    before: CPU time of each step and of both, and wall time of both.
    The JVM's CPU is read through ``cpu_seconds`` once it exists; before
    get_spark there is none, so the first reading is this process's."""
    from bigdata_commerce_spark import get_spark

    from perfbench.harness import cpu_seconds

    c0 = cpu_seconds()
    with workload.tracer.span("get_spark", "session") as g:
        spark = get_spark(app_name=f"perfbench_{workload.name}")
    c1 = cpu_seconds()
    with workload.tracer.span("warmup", "session") as w:
        workload.warm(spark)
    c2 = cpu_seconds()
    return spark, {"get_spark_cpu_s": c1 - c0, "warmup_cpu_s": c2 - c1, "cpu_s": c2 - c0,
                   "wall_s": w.end - g.start}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    children = descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while children and time.time() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def per_layer_metrics(w, setup: dict, walls: list[float], units: int) -> dict[str, float]:
    from statistics import median

    from perfbench.harness import cpus

    L = w.layers
    tr = w.tracer
    self_t = tr.self_time_by_layer()

    def per_unit(key: str) -> float:
        return L.get(key, 0.0) / units

    m = {
        # CPU seconds: the two parts of setup_s.
        "session.get_spark_s": setup["get_spark_cpu_s"],
        "session.warmup_s": setup["warmup_cpu_s"],
        "sources.load_s": self_t.get("sources", 0.0) / units,
        "plans.build_s": self_t.get("plans", 0.0) / units,
        "catalyst.plan_s": self_t.get("catalyst", 0.0) / units,
        "exec.collect_s": self_t.get("exec", 0.0) / units,
        "sinks.merge_s": tr.total("sinks", "merge:") / units,
        "sinks.read_state_s": tr.total("sinks", "read_state:") / units,
        "operators.persisted_rdds": L.get("operators.persisted_rdds", 0.0),
        "trace.wall_s": median(walls),
        "trace.counter_read_s": w.tracer.overhead_s / units,
    }
    for key in ("sources.load_jobs", "sources.input_bytes", "plans.build_jobs", "exec.jobs",
                "exec.stages", "exec.tasks", "exec.task_busy_s", "exec.gc_s",
                "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
                "operators.python_total_s", "operators.python_boot_s",
                "operators.python_bytes_sent", "operators.python_bytes_received",
                "streaming.add_batch_ms", "streaming.query_planning_ms",
                "streaming.wal_commit_ms", "sinks.state_bytes"):
        m[key] = per_unit(key)
    busy_wall = L.get("exec.wall_s", 0.0)
    m["exec.core_util"] = L.get("exec.task_busy_s", 0.0) / (busy_wall * cpus()) if busy_wall else 0.0
    epochs = L.get("streaming.epochs", 0.0)
    m["streaming.epoch_jobs"] = L.get("streaming.jobs", 0.0) / epochs if epochs else 0.0
    src = L.get("sinks.input_bytes", 0.0)
    m["sinks.write_amp"] = L.get("sinks.bytes_written", 0.0) / src if src else 0.0
    return m


def end_to_end(setup: dict, ops, walls: list[float], cpus_s: list[float]) -> dict[str, float]:
    """The gated metrics (END_TO_END) and the ungated figures of the run
    record: CPU per operation and the wall-clock twins. Per-operation
    percentiles leave out warm-up operations; the unit totals keep them."""
    from statistics import median

    from perfbench.harness import percentile

    sampled = [op for op in ops if not op.warmup]
    op_wall = [op.seconds for op in sampled]
    op_cpu = [op.cpu_s for op in sampled]
    return {
        "setup_s": setup["cpu_s"],
        "cpu_s": median(cpus_s),
        "op_cpu_p50_s": percentile(op_cpu, 50),
        "op_cpu_p80_s": percentile(op_cpu, 80),
        "setup_wall_s": setup["wall_s"],
        "wall_s": median(walls),
        "op_p50_s": percentile(op_wall, 50),
        "op_p80_s": percentile(op_wall, 80),
    }


def assemble(ops, metrics: dict[str, float], spec) -> dict:
    """The result line: every metric of ``spec`` with its unit."""
    failed = sum(1 for op in ops if not op.ok)
    return {
        "correct": failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in spec},
    }


def run(args) -> dict:
    from perfbench.harness import Tracer, peak_rss_mb, provenance
    from perfbench.workloads import WORKLOADS

    started = time.perf_counter()
    tracer = Tracer(enabled=bool(args.trace))
    w = WORKLOADS[args.workload](ROOT, args.seed, tracer)
    sizes = w.prepare_inputs()

    spark = None
    ops, walls, cpus_s = [], [], []
    try:
        # One set-up per run, in this fresh process, so setup_s includes
        # JVM launch and class loading. A second sample would need a new
        # JVM (12-25 s of wall time), which the benchmark's time budget
        # does not hold; steadiness comes from the median over runs.
        spark, setup = timed_setup(w)
        w.spark = spark
        while True:
            w.unit = len(walls)
            unit_ops, wall, cpu = w.run_unit()
            ops += unit_ops
            walls.append(wall)
            cpus_s.append(cpu)
            if (sum(walls) >= args.seconds or len(walls) >= MAX_UNITS
                    or time.perf_counter() - started > UNIT_DEADLINE_S):
                break
        e2e = end_to_end(setup, ops, walls, cpus_s)
        rss_mb = peak_rss_mb()
        prov = provenance(spark)
        if args.trace:
            metrics = per_layer_metrics(w, setup, walls, len(walls))
            metrics["memory.peak_rss_mb"] = rss_mb
        else:
            metrics = e2e
    finally:
        if spark is not None:
            stop_spark(spark)
        w.cleanup()

    result = assemble(ops, metrics, PER_LAYER if args.trace else END_TO_END)
    record = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "provenance": prov,
        "inputs": sizes,
        "setup": setup,
        "units": len(walls),
        "unit_walls_s": walls,
        "unit_cpu_s": cpus_s,
        "op_samples": sum(1 for op in ops if not op.warmup),
        "error_rate": result["failed"] / max(result["attempted"], 1),
        "end_to_end": e2e,
        "peak_rss_mb": rss_mb,
        "per_layer": metrics if args.trace else None,
        "layer_counters": w.layers if args.trace else None,
        "self_time_s": tracer.self_time_by_layer() if args.trace else None,
        "ops": [vars(op) for op in ops],
        "spans": tracer.dump() if args.trace else None,
        "result": result,
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"{w.name}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(record, indent=1, default=str))
    print(f"run record: {path}", file=sys.stderr)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("catalog_suite", "ad_stream"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_env()
    try:
        import bench  # noqa: F401 - the program under test must be present
        import bigdata_commerce_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: program not found in {ROOT}: {exc}", file=sys.stderr)
        return 2

    # Spark and the program may write to fd 1; only the result line may.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        out = run(args)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
