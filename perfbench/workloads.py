"""The benchmark's workloads.

Each workload prepares its seeded inputs (before set-up), warms a fresh
session, then runs units of work. Every operation is timed from
outside, around calls into the program's public functions; the traced
run additionally records spans per layer and reads Spark's counters
for the jobs each phase submitted.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

from perfbench import checks, inputs
from perfbench.harness import (
    Op,
    Tracer,
    cpu_seconds,
    drain_listener,
    group_counters,
    job_counters,
    job_group,
    jobs_after,
    last_job_id,
    persisted_rdds,
    python_plan_metrics,
    run_op,
)

# catalog_suite runs these headline queries, a fixed subset of
# bench.headline_names() small enough that one cold pass fits a run.
# Chosen per layer: relational scan/aggregate/join; two queries that run
# Spark jobs while they are built; an Arrow UDF kernel (embedding) and a
# mapInPandas kernel (multimodal); small text queries; and requirements
# 1 and 6 of the paper on its own commerce schema (plans/commerce.py).
CATALOG_QUERIES = (
    "pricing_summary",
    "top_orders_by_revenue",
    "heavy_hitter_users",
    "region_top3_parts",
    "embedding_neardup",
    "multimodal_features",
    "doc_fingerprints",
    "dedup_exact",
    "pii_scrub",
    "train_test_split",
    "commerce_session_stats",
    "commerce_area_top3",
)


def warm_basic(spark) -> None:
    """First job, codegen for aggregate and join."""
    spark.range(1000).count()
    a = spark.range(2000).selectExpr("id % 50 AS k", "id AS v")
    a.join(spark.range(50).withColumnRenamed("id", "k"), "k").groupBy("k").sum("v").collect()


def warm_python(spark) -> None:
    """One pandas UDF task per core, so every Python worker has started
    and imported numpy before the first kernel runs."""
    from pyspark.sql import functions as F

    def kernel(s):
        import numpy as np

        return s * np.float64(1.0)

    udf = F.pandas_udf(kernel, "double")
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 4, 1, n).select(udf(F.col("id").cast("double"))).count()


class Workload:
    name = ""

    def __init__(self, root: Path, seed: int, tracer: Tracer) -> None:
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.cache = root / ".perfbench_cache"
        self.work = root / ".perfbench_work" / f"{self.name}-{seed}-{id(self):x}"
        self.layers: dict[str, float] = {}
        self.unit = 0
        self.spark = None

    # -- hooks ---------------------------------------------------------
    def prepare_inputs(self) -> dict:
        raise NotImplementedError

    def warm(self, spark) -> None:
        warm_basic(spark)

    def run_unit(self) -> tuple[list[Op], float, float]:
        """Run one unit of work: its operations, wall time and CPU time."""
        raise NotImplementedError

    # -- shared --------------------------------------------------------
    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def group(self, op: str, phase: str) -> str | None:
        return f"pb{self.unit}:{op}:{phase}" if self.tracer.enabled else None

    def df_op(self, name: str, build, check) -> Op:
        """One DataFrame operation, timed as build, then plan, then
        collect; the check sees (columns, rows) outside the timer."""
        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        tr.op = name

        def body(phases):
            with tr.span(f"{name}:build", "plans") as b, job_group(sc, self.group(name, "build")):
                df = build()
            with tr.span(f"{name}:plan", "catalyst") as p, job_group(sc, self.group(name, "plan")):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"{name}:collect", "exec") as c, job_group(sc, self.group(name, "collect")):
                rows = df.collect()
            phases.update(build_s=b.end - b.start, plan_s=p.end - p.start,
                          collect_s=c.end - c.start)
            return df, rows

        op, res = run_op(name, body, lambda r: check((r[0].columns, r[1])))
        if tr.enabled:
            self.account(name, res[0] if res else None, op)
        tr.op = None
        return op

    def account(self, name: str, df, op: Op) -> None:
        """Read the counters of one operation's job groups (traced run)."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        drain_listener(sc)
        for phase in ("sources", "build", "plan", "collect"):
            c = group_counters(sc, self.group(name, phase))
            op.phases[f"{phase}_jobs"] = c["jobs"]
            self.add("sources.input_bytes", c["input_bytes"])
            if phase == "sources":
                self.add("sources.load_jobs", c["jobs"])
            elif phase == "build":
                self.add("plans.build_jobs", c["jobs"])
            else:
                self.add_exec(c)
        self.add("exec.wall_s", op.phases.get("collect_s", 0.0) + op.phases.get("plan_s", 0.0))
        if df is not None:
            py = python_plan_metrics(df)
            op.phases["python_total_s"] = py["pythonTotalTime"]
            self.add("operators.python_total_s", py["pythonTotalTime"])
            self.add("operators.python_boot_s", py["pythonBootTime"])
            self.add("operators.python_bytes_sent", py["pythonDataSent"])
            self.add("operators.python_bytes_received", py["pythonDataReceived"])
        rdds = persisted_rdds(sc)
        self.layers["operators.persisted_rdds"] = max(
            self.layers.get("operators.persisted_rdds", 0.0), float(rdds)
        )
        self.tracer.overhead_s += time.perf_counter() - t0

    def add_exec(self, c: dict) -> None:
        for key in ("jobs", "stages", "tasks", "task_busy_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            self.add(f"exec.{key}", c[key])

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# ---------------------------------------------------------------------------
# catalog_suite
# ---------------------------------------------------------------------------


class CatalogSuite(Workload):
    """Headline queries over the sf0.01 tables in a fixed order, each
    data-cache-cold (``bench.reset_caches``) and timed as build, plan
    and collect. The tables are fixed, so the seed changes nothing here:
    a seeded query order made each query's share of the JVM's first
    compilations depend on its position, which dominated the spread."""

    name = "catalog_suite"

    def prepare_inputs(self) -> dict:
        import bench
        from bigdata_commerce_spark.sources.testdata import TABLES

        headline = set(bench.headline_names())
        missing = [q for q in CATALOG_QUERIES if q not in headline]
        if missing:
            raise KeyError(f"not headline queries: {missing}")
        sf = inputs.CATALOG_SF_DIR
        tables = {t: sf / f"{t}.parquet" for t in TABLES}
        oracles = checks.OracleCache(self.cache)
        self.expected = {
            q: oracles.get(checks.oracle_sql(q), tables) for q in CATALOG_QUERIES
        }
        oracles.save()
        return {"catalog": inputs.sizes_of(sf), "queries": len(CATALOG_QUERIES)}

    def warm(self, spark) -> None:
        warm_basic(spark)
        warm_python(spark)

    def run_unit(self) -> tuple[list[Op], float, float]:
        import bench

        sf = str(inputs.CATALOG_SF_DIR)
        ops = []
        with self.traced_loads():
            for q in CATALOG_QUERIES:
                bench.reset_caches(self.spark)
                fn = bench.ALL_QUERIES[q]
                ops.append(
                    self.df_op(q, lambda fn=fn: fn(self.spark, sf),
                               checks.expect_digest(self.expected[q]))
                )
        return ops, sum(op.seconds for op in ops), sum(op.cpu_s for op in ops)

    def traced_loads(self):
        """In the traced run, wrap ``sources.testdata.load_table`` where
        the plans imported it, so ingest gets its own span and job group."""
        import contextlib
        import sys

        from bigdata_commerce_spark.sources import testdata

        if not self.tracer.enabled:
            return contextlib.nullcontext()
        orig = testdata.load_table
        tr, sc = self.tracer, self.spark.sparkContext

        def load_table(spark, name, sf_dir=testdata.DEFAULT_SF_DIR):
            with tr.span(f"load:{name}", "sources"), job_group(sc, self.group(tr.op, "sources")):
                return orig(spark, name, sf_dir)

        patched = [
            m for m in list(sys.modules.values())
            if getattr(m, "__name__", "").startswith("bigdata_commerce_spark")
            and getattr(m, "load_table", None) is orig
        ]

        @contextlib.contextmanager
        def patch():
            for m in patched:
                m.load_table = load_table
            try:
                yield
            finally:
                for m in patched:
                    m.load_table = orig

        return patch()


# ---------------------------------------------------------------------------
# ad_stream
# ---------------------------------------------------------------------------

AD_STATES = ("user_counts", "blacklist", "cumulative", "top3", "trend")


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class AdStream(Workload):
    """Reqs 7-10 through run_ad_pipeline with the parquet state backend,
    draining a pre-landed backlog of ad-click files closed loop, a fixed
    number of files per trigger. The first ``AD_WARM_EPOCHS`` epochs are
    warm-up operations; an epoch that never ran is not."""

    name = "ad_stream"

    def warm(self, spark) -> None:
        """Nothing: the warm-up epochs of the drain warm the streaming path."""

    def prepare_inputs(self) -> dict:
        self.src = inputs.ad_inputs(self.cache, self.seed)
        self.input_bytes = inputs.sizes_of(self.src)["bytes"]
        return {"ad_clicks": inputs.sizes_of(self.src), "heavy_clickers": inputs.heavy_users()}

    def run_unit(self) -> tuple[list[Op], float, float]:
        from bigdata_commerce_spark.streaming import pipelines as P
        from bigdata_commerce_spark.streaming import sinks

        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        work = self.work / f"unit{self.unit}"
        shutil.rmtree(work, ignore_errors=True)
        expected = math.ceil(inputs.AD_FILES / inputs.AD_FILES_PER_TRIGGER)
        mark = last_job_id(sc) if tr.enabled else -1
        error = None
        progress: list = []
        backend = _MeteredBackend(spark, str(work), self)
        c0, t0 = cpu_seconds(), time.perf_counter()
        with tr.span("drain", "streaming"):
            try:
                with tr.span("source", "sources"):
                    events = P.file_event_source(spark, str(self.src), inputs.AD_FILES_PER_TRIGGER)
                handles = P.run_ad_pipeline(
                    events, str(work), blacklist_threshold=inputs.AD_THRESHOLD,
                    backend=backend,
                )
                try:
                    handles.process_all()
                finally:
                    progress = list(handles.queries[0].recentProgress)
                    handles.stop()
            except Exception as exc:  # noqa: BLE001 - a failed drain is a measurement
                error = f"{type(exc).__name__}: {exc}"[:300]
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0

        epochs = {}
        for p in progress:
            if p.numInputRows > 0:
                epochs[p.batchId] = p
        if error is None:
            reader = sinks.ParquetStateBackend(spark, str(work))
            try:
                state = {n: [r.asDict() for r in reader.read_state(n).collect()] for n in AD_STATES}
                error = checks.check_ad_state(state, self.src, inputs.heavy_users())
            except Exception as exc:  # noqa: BLE001
                error = f"{type(exc).__name__}: {exc}"[:300]
        epoch_cpu = epoch_deltas(c0, backend.epoch_end)
        ops = [
            Op(f"epoch{b}", p.durationMs["triggerExecution"] / 1000.0,
               error is None, error, cpu_s=epoch_cpu.get(b, 0.0),
               warmup=i < inputs.AD_WARM_EPOCHS)
            for i, (b, p) in enumerate(sorted(epochs.items()))
        ]
        # Epochs that never ran count as failed; their time is the rest of the drain.
        missing = max(expected - len(ops), 0)
        rest = max(wall - sum(op.seconds for op in ops), 0.0)
        rest_cpu = max(cpu - sum(op.cpu_s for op in ops), 0.0)
        ops += [Op(f"missing{i}", rest / missing, False, error or "epoch never ran",
                   cpu_s=rest_cpu / missing) for i in range(missing)]

        if tr.enabled:
            self.account_stream(mark, epochs, wall, work)
        shutil.rmtree(work, ignore_errors=True)
        return ops, wall, cpu

    def account_stream(self, mark: int, epochs: dict, wall: float, work: Path) -> None:
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        drain_listener(sc)
        jobs = jobs_after(sc, mark)
        c = job_counters(sc, jobs)
        self.add_exec(c)
        self.add("sources.input_bytes", c["input_bytes"])
        self.add("exec.wall_s", wall)
        for key, metric in (("addBatch", "streaming.add_batch_ms"),
                            ("queryPlanning", "streaming.query_planning_ms"),
                            ("walCommit", "streaming.wal_commit_ms")):
            self.add(metric, float(sum(
                p.durationMs.get(key, 0) for p in epochs.values())))
        self.add("streaming.epochs", float(len(epochs)))
        self.add("sinks.state_bytes", float(sum(
            _dir_bytes(d) for n in AD_STATES
            for d in [_latest_epoch_dir(work / n)] if d is not None)))
        self.add("sinks.input_bytes", float(self.input_bytes))
        self.layers["operators.persisted_rdds"] = max(
            self.layers.get("operators.persisted_rdds", 0.0), float(persisted_rdds(sc)))
        self.add("streaming.jobs", float(len(jobs)))
        self.tracer.overhead_s += time.perf_counter() - t0


def epoch_deltas(start: float, ends: dict[int, float]) -> dict[int, float]:
    """Per epoch, the reading at its end minus the reading at the previous
    epoch's end (``start`` for the first). Applied to CPU readings, each
    epoch also gets the framework work before its batch function (file
    listing, planning, log commits), and the epochs add up to the span
    from ``start`` to the last end."""
    out, prev = {}, start
    for epoch, end in sorted(ends.items()):
        out[epoch], prev = end - prev, end
    return out


def _latest_epoch_dir(state_dir: Path) -> Path | None:
    """The newest committed ``epoch=N`` directory of a state table."""
    done = [d for d in state_dir.glob("epoch=*") if (d / "_SUCCESS").exists()]
    return max(done, key=lambda d: int(d.name.split("=")[1]), default=None)


class _MeteredBackend:
    """The parquet state backend with the CPU reading (``cpu_seconds``)
    taken at the end of each merge, so the last one of an epoch marks the
    epoch's end. In the traced run every merge and state read is a span
    of layer ``sinks`` and the bytes each merge writes are counted."""

    def __init__(self, spark, work_dir: str, workload: AdStream) -> None:
        from bigdata_commerce_spark.streaming import sinks

        self.inner = sinks.ParquetStateBackend(spark, work_dir)
        self.w = workload
        self.epoch_end: dict[int, float] = {}

    def state_location(self, name: str) -> str:
        return self.inner.state_location(name)

    def read_state(self, name: str, before_epoch: int | None = None):
        with self.w.tracer.span(f"read_state:{name}", "sinks"):
            return self.inner.read_state(name, before_epoch)

    def _metered(self, name: str, fn):
        def merge(batch_df, epoch_id):
            with self.w.tracer.span(f"merge:{name}", "sinks"):
                fn(batch_df, epoch_id)
            self.epoch_end[epoch_id] = cpu_seconds()
            if self.w.tracer.enabled:
                written = Path(self.state_location(name)) / f"epoch={epoch_id}"
                self.w.add("sinks.bytes_written", float(_dir_bytes(written)))

        return merge

    def accumulate_sink(self, name, key_cols, value_col):
        return self._metered(name, self.inner.accumulate_sink(name, key_cols, value_col))

    def replace_partition_sink(self, name, partition_cols):
        return self._metered(name, self.inner.replace_partition_sink(name, partition_cols))

    def distinct_append_sink(self, name, key_cols):
        return self._metered(name, self.inner.distinct_append_sink(name, key_cols))


WORKLOADS = {w.name: w for w in (CatalogSuite, AdStream)}
