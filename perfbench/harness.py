"""Measurement plumbing shared by the workloads: spans, Spark counters,
operation records, memory, provenance and the result line.

Everything here observes the program from outside: spans wrap calls
into the program's public functions, and counters come from Spark's own
status tracker, status store, executed-plan SQL metrics and streaming
progress. Nothing here changes what the program does.
"""

from __future__ import annotations

import contextlib
import os
import platform
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One attempted operation (query, requirement or epoch). A failed
    or wrong operation keeps its measured time: it counts in the wall
    time and the latency samples as well as in ``failed``. A warm-up
    operation counts in the unit's time and in ``failed``, but not in
    the latency samples."""

    name: str
    seconds: float
    ok: bool = True
    error: str | None = None
    phases: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0
    warmup: bool = False


def run_op(name: str, fn, check=None) -> tuple[Op, object]:
    """Time ``fn(phases)``, which may record its phase times in the dict
    it is given; then, outside the timed region, ``check(result)``
    returns an error string or None. An exception from either marks
    the operation failed without dropping its time."""
    phases: dict[str, float] = {}
    c0, t0 = cpu_seconds(), time.perf_counter()
    try:
        result = fn(phases)
    except Exception as exc:  # noqa: BLE001 - a failure is a measurement
        t1 = time.perf_counter()
        return Op(name, t1 - t0, False, _short(exc), phases, cpu_seconds() - c0), None
    t1 = time.perf_counter()
    op = Op(name, t1 - t0, phases=phases, cpu_s=cpu_seconds() - c0)
    if check is not None:
        try:
            problem = check(result)
        except Exception as exc:  # noqa: BLE001
            problem = _short(exc)
        if problem:
            op.ok, op.error = False, problem
    return op, result


def _short(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); exact for one sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory spans: name, layer, start, end, parent and the id of the
    operation they belong to. Parents are tracked per thread; a span
    opened on another thread with nothing open there (a streaming batch
    function) is a child of the innermost span open on the thread that
    made the tracer, so self times do not count it twice. ``span``
    yields the span, so its start and end are the one timing of that
    region; disabled, the span is timed but neither kept nor linked."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stacks: dict[int, list[int]] = {}
        self._owner = threading.get_ident()
        self._lock = threading.Lock()
        self.op: str | None = None
        self.overhead_s = 0.0  # time spent reading counters, outside timed regions

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            span = Span(name, layer, time.perf_counter(), 0.0, None, self.op)
            try:
                yield span
            finally:
                span.end = time.perf_counter()
            return
        stack = self._stacks.setdefault(threading.get_ident(), [])
        owner = self._stacks.get(self._owner) or [None]
        parent = stack[-1] if stack else owner[-1]
        span = Span(name, layer, time.perf_counter(), 0.0, parent, self.op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.perf_counter()

    def total(self, layer: str, prefix: str = "") -> float:
        """Summed duration of the kept spans of ``layer`` whose name
        starts with ``prefix``."""
        return sum(s.end - s.start for s in self.spans
                   if s.layer == layer and s.name.startswith(prefix))

    def self_time_by_layer(self) -> dict[str, float]:
        """A span's self time is its duration minus what its children
        cover; summed per layer."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def job_group(sc, group: str | None):
    """Attribute the jobs submitted inside the block to ``group``; the
    enclosing group is restored afterwards. ``None`` is a no-op."""
    if group is None:
        yield
        return
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc.setLocalProperty("spark.job.description", prev_desc)


def drain_listener(sc) -> None:
    """The status store is fed asynchronously; wait until every event
    already posted has been applied before reading it."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


STAGE_FIELDS = (
    "stages",
    "tasks",
    "task_busy_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def last_job_id(sc) -> int:
    """Highest job id the status store has seen (-1 before any job)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((int(jobs.apply(i).jobId()) for i in range(jobs.size())), default=-1)


def jobs_after(sc, mark: int) -> list[int]:
    """Ids of the jobs started after ``last_job_id`` returned ``mark``."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return [j for j in (int(jobs.apply(i).jobId()) for i in range(jobs.size())) if j > mark]


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs of one job group and the summed metrics of their stages."""
    return job_counters(sc, sc.statusTracker().getJobIdsForGroup(group))


def job_counters(sc, jobs: list[int]) -> dict[str, float]:
    """Job count and the summed metrics of the jobs' stages, read from
    ``statusTracker`` and the status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(jobs))
    seen: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage: never ran
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["task_busy_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
    return out


# SQL metrics the Python/Arrow exec nodes carry (PythonSQLMetrics).
PYTHON_METRICS = ("pythonBootTime", "pythonTotalTime", "pythonDataSent", "pythonDataReceived")


def python_plan_metrics(df) -> dict[str, float]:
    """Sum the Python SQL metrics over every node of the executed plan,
    descending through adaptive plans, query stages and cached plans.
    A metric reached twice (a cached plan scanned twice) counts once.
    Timing metrics are milliseconds in the plan; returned as seconds."""
    totals = dict.fromkeys(PYTHON_METRICS, 0.0)
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        metrics = node.metrics()
        for key in PYTHON_METRICS:
            opt = metrics.get(key)
            if opt.isDefined() and opt.get().id() not in seen:
                seen.add(opt.get().id())
                totals[key] += float(opt.get().value())
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    for key in ("pythonBootTime", "pythonTotalTime"):
        totals[key] /= 1000.0
    return totals


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------------------
# Memory and provenance
# ---------------------------------------------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    """Pid of the Spark driver JVM py4j launched (spark-submit execs java)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python driver plus the JVM."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of the process and its reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after "comm)": state ppid ... utime stime cutime cstime at 11..14
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]) / _TICK)
    return out


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, (pp, _) in table.items() if pp == p]
        out += kids
        frontier += kids
    return out


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this Python driver, the
    JVM and the Python workers under it. Unlike wall time it does not
    grow while the host runs other guests (steal time)."""
    table = _proc_table()
    pids = [os.getpid()]
    pid = jvm_pid()
    if pid is not None:
        pids += [pid] + descendants(pid, table)
    return sum(table[p][1] for p in pids if p in table)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def provenance(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cpus": cpus(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def comparable(a: dict, b: dict) -> str | None:
    """Why two run records must not be compared, or None. Runs at
    different core counts measure different machines."""
    pa, pb = a.get("provenance", {}), b.get("provenance", {})
    for key in ("cpus", "master"):
        if pa.get(key) != pb.get(key):
            return f"{key} differs: {pa.get(key)!r} vs {pb.get(key)!r}"
    if a.get("workload") != b.get("workload"):
        return f"workload differs: {a.get('workload')!r} vs {b.get('workload')!r}"
    return None
