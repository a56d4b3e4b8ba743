"""SparkSession factory.

The reference builds ad-hoc local sessions per main
(``session/src/main/scala/SessionStat.scala:35-38``). Here a single
factory pins the settings that matter for correctness (UTC session
timezone so timestamps hash-match a UTC-naive oracle) and for scale
(AQE on, shuffle partitions sized to the cluster, Arrow enabled for
the pandas-UDF slow path).

At 100 TB the same code runs unchanged: ``shuffle.partitions`` is a
starting hint only — AQE coalesces/splits at runtime, and the skew
join handler deals with hot keys without manual salting. The
local-only settings are the driver JVM's JIT/GC profile (see
``_session_conf``) and its class-data-sharing archive (``_cds_plan``),
which a cluster master never gets.

The archive lets a fresh driver JVM map Spark's classes from one file
instead of loading them jar by jar. It lives in ``.jvm_cds/`` at the
top of the checkout, one ``<key>-<bytes>.jsa`` file keyed on the Java
install and the ``$SPARK_HOME/jars`` listing, so a JDK or Spark
upgrade dumps a fresh archive instead of the JVM ignoring a stale one
(``<bytes>`` is its size, so a truncated file is never mapped). The first
session of a key writes it as its JVM exits; later sessions start from
it. Passing your own ``spark.driver.extraJavaOptions`` opts out, and
deleting ``.jvm_cds/`` is always safe: the next session dumps again.
"""

from __future__ import annotations

import atexit
import fcntl
import functools
import hashlib
import logging
import os
import re
import shutil
import subprocess
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

_HEAP_UNITS = {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
_DEFAULT_HEAP_BYTES = 8 * 1024**3


def _heap_bytes(value: str) -> int:
    """Parse a JVM memory string the way Spark does ("8g", "8gb",
    "512mb", bare bytes, any case). An unparseable value falls back
    to the 8g default instead of crashing session construction
    (round-6 advice: "8gb" hit ``int("8gb")``, "" hit ``heap[-1]``)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", value.strip().lower())
    return int(m.group(1)) * _HEAP_UNITS[m.group(2)] if m else _DEFAULT_HEAP_BYTES


# JIT/GC profile for a local[...] session, whose single driver JVM is
# the whole cluster and usually lives for one short run. In that regime
# the JVM's own threads cost more CPU than the queries: in a 4-core
# catalog pass of the repo benchmark, C2 compiler threads used 42.5 of
# the JVM's 90.9 thread-CPU seconds, GC threads 9.8 and executor tasks
# 9.0. Two compiler threads (the minimum with tiered compilation) and
# the single-threaded serial collector, measured as 10 alternating
# parent/profile pairs on a 4-core VM at local[4], every run correct:
#   catalog cpu_s   median 46.82 -> 36.86 s (0.79x, 10/10 pairs won)
#   catalog setup_s median 27.28 -> 22.38 s (0.82x, 10/10)
#   ad      cpu_s   median 61.11 -> 51.35 s (0.84x, 10/10)
#   ad      setup_s median 13.28 -> 11.87 s (0.89x, 8/10)
# Per thread class in that catalog pass: C2 42.5 -> 25.2 s, GC threads
# 9.8 -> 0 (serial collections run in the VM thread, 0.2 -> 2.1 s).
# Jobs and tasks are unchanged; peak RSS halves (2542 -> 1194 MB) and
# GC time inside tasks rises 0.23 -> 1.65 s, because serial young
# pauses stop the task threads. The cost lands on the first heavy query
# of a fresh JVM: at sf0.1 a cold first dedup_simhash takes 6.6 -> 9.8 s
# (~2 s of it from the single C2 thread, ~1 s from serial GC), while
# its later shots are unchanged. Either flag alone moved only one of
# the two workloads in single runs. C1-only (-XX:TieredStopAtLevel=1)
# was rejected: it more than doubles dedup_simhash wall time at sf0.1.
_LOCAL_JVM_PROFILE = ("-XX:CICompilerCount=2", "-XX:+UseSerialGC")
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
# A collector picked in JAVA_TOOL_OPTIONS / JDK_JAVA_OPTIONS: adding a
# second one makes the JVM refuse to start ("Multiple garbage
# collectors selected").
_GC_SELECTOR = re.compile(
    r"-XX:\+Use(?:Serial|Parallel|ParallelOld|G1|Z|Shenandoah|Epsilon|ConcMarkSweep)GC\b"
)


_OPTS = "spark.driver.extraJavaOptions"

# Class-data-sharing (CDS) archive of the local driver JVM, dumped by
# the JVM itself at exit (JDK 13+ dynamic AppCDS). Measured as 10
# alternating pairs of the repo benchmark per workload on a 4-core VM
# at local[4], archive present, every run correct: setup CPU (get_spark
# plus warm-up) 12.40 -> 6.74 s on ad_stream (0.54x, 10/10 pairs) and
# 25.83 -> 16.04 s on catalog_suite (0.62x, 10/10). The run that dumps
# pays for it: recording slows its get_spark by a few CPU-seconds, and
# the dump itself takes about 10 s at JVM exit, once per key.
_CDS_DIR = Path(__file__).resolve().parent.parent / ".jvm_cds"
# Keeps the dump's hundreds of "[warning][cds]" lines and the VM's own
# messages off stdout, which the CLI reserves for its result; CDS
# errors still reach stderr.
_CDS_QUIET = ("-Xlog:cds*=off", "-Xlog:cds*=error:stderr", "-XX:+DisplayVMOutputToStderr")
# How long an exiting Python waits for its JVM to finish the dump.
_DUMP_WAIT_S = 300


@dataclass(frozen=True)
class _Cds:
    """The archive plan of one driver JVM launch. Without ``lock`` the
    JVM starts from the archive at ``path``; with it, the JVM dumps to
    the temp file ``path`` as it exits, and ``lock`` is the open lock
    file that makes this process the key's only dumper."""

    path: Path
    lock: int | None = None

    def flags(self) -> tuple[str, ...]:
        flag = "SharedArchiveFile" if self.lock is None else "ArchiveClassesAtExit"
        return (f"-XX:{flag}={self.path}", *_CDS_QUIET)


def _stat(path: Path) -> tuple[int, int] | None:
    try:
        st = path.stat()
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _cds_key(spark_home: Path) -> str | None:
    """The archive key: the Java install spark-class runs
    (``$JAVA_HOME/bin/java``, else ``java`` on the PATH), named by its
    path and the size and mtime of its ``release`` file and
    ``libjvm.so``, plus every jar of ``$SPARK_HOME/jars`` with its size
    and mtime. No JVM is started to compute it. None when no Java or
    no jar directory is found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = spark_home / "jars"
    if not java or not jars.is_dir():
        return None
    home = Path(java).resolve().parent.parent
    java_id = (str(home), _stat(home / "release"), _stat(home / "lib" / "server" / "libjvm.so"))
    listing = sorted((p.name, _stat(p)) for p in jars.iterdir())
    return hashlib.sha256(repr((java_id, listing)).encode()).hexdigest()[:16]


@functools.cache
def _skip_cds(reason: str) -> None:
    _LOG.warning("driver JVM starts without a class-data-sharing archive: %s", reason)


def _cds_plan() -> _Cds | None:
    """How the next local driver JVM uses the archive, or None for not
    at all.

    JDK 17 refuses to dump while a non-empty directory is on the
    classpath, and Spark puts its conf directory there. So CDS applies
    only when ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf``
    holds nothing but ``*.template`` files; the launch then points
    ``SPARK_CONF_DIR`` at an empty directory, which loses nothing. A
    real ``spark-defaults.conf`` is never hidden: CDS is skipped and
    that is logged once.

    When the archive exists the JVM starts from it. Otherwise the one
    process that takes the key's lock dumps it, to a temp name of its
    own; every other process starts without CDS until the archive
    exists. A directory that cannot be created or written means no CDS."""
    if "SPARK_CONF_DIR" in os.environ:
        _skip_cds("SPARK_CONF_DIR is set")
        return None
    spark_home = Path(os.environ.get("SPARK_HOME") or _find_spark_home())
    conf = spark_home / "conf"
    kept = [p.name for p in conf.glob("*") if not p.name.endswith(".template")]
    if kept:
        _skip_cds(f"{conf} holds {kept[0]}, and CDS would need it off the classpath")
        return None
    key = _cds_key(spark_home)
    if key is None:
        return None
    try:
        (_CDS_DIR / "conf").mkdir(parents=True, exist_ok=True)
        for archive in _CDS_DIR.glob(f"{key}-*.jsa"):
            if archive.name == f"{key}-{archive.stat().st_size}.jsa":
                return _Cds(archive)
            archive.unlink()  # truncated: mapping it would crash the JVM
        lock = os.open(_CDS_DIR / f"{key}.lock", os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return None
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(lock)  # another process is dumping this key
        return None
    return _Cds(_CDS_DIR / f"{key}.{os.getpid()}.tmp", lock)


def _end_at_exit(gateway, cds: _Cds | None) -> None:
    """At interpreter exit, close the py4j ``gateway`` (so a finalizer
    that runs later finds it closed instead of a dead JVM), end the
    driver JVM (EOF on its stdin makes it exit) and wait for it, so it
    does not outlive this process, not even while it dumps. Only after a
    zero exit status is a dump renamed to its final name
    ``<key>-<bytes>.jsa``, atomically, and other keys' archives removed;
    any other outcome deletes the dump."""
    proc: subprocess.Popen = gateway.proc

    def end() -> None:
        gateway.shutdown()
        try:
            proc.stdin.close()
            status = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            status = proc.wait()
        if cds is None or cds.lock is None:
            return
        if status == 0 and cds.path.is_file():
            key = cds.path.name.split(".")[0]
            archive = cds.path.with_name(f"{key}-{cds.path.stat().st_size}.jsa")
            os.replace(cds.path, archive)
            for old in archive.parent.glob("*.jsa"):
                if old != archive:
                    old.unlink(missing_ok=True)
        else:
            cds.path.unlink(missing_ok=True)
        os.close(cds.lock)

    atexit.register(end)


def _session_conf(
    master: str, extra_conf: dict[str, str] | None = None, cds: tuple[str, ...] = ()
) -> dict[str, str]:
    """The caller's ``extra_conf`` plus, for a ``local``/``local[...]``
    master, ``spark.driver.extraJavaOptions`` set to
    ``_LOCAL_JVM_PROFILE`` followed by the archive flags ``cds``.

    A caller's own ``spark.driver.extraJavaOptions`` replaces the
    profile entirely, and a non-local master never gets it (cluster
    JVMs are long-lived and sized by their deployment). Command-line
    flags override ``JAVA_TOOL_OPTIONS``, so the profile wins over an
    environment flag of the same name; the one conflict the JVM
    refuses is a second collector, so ``-XX:+UseSerialGC`` is left out
    when ``JAVA_TOOL_OPTIONS`` or ``JDK_JAVA_OPTIONS`` already selects
    one."""
    conf = dict(extra_conf or {})
    if _LOCAL_MASTER.fullmatch(master):
        env_opts = " ".join(
            os.environ.get(k, "") for k in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
        )
        profile = list(_LOCAL_JVM_PROFILE)
        if _GC_SELECTOR.search(env_opts):
            profile.remove("-XX:+UseSerialGC")
        conf.setdefault(_OPTS, " ".join([*profile, *cds]))
    return conf


def get_spark(
    app_name: str = "bigdata_commerce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults honour the driver environment: ``local[$SPARK_GRAFT_CPUS]``
    when no master is given, 32 shuffle partitions to match cores.
    On a real cluster callers pass master/None via spark-submit and a
    shuffle partition count ~2-3x total executor cores; AQE then owns
    the runtime partition count. A local master also gets the driver
    JVM's JIT/GC profile and class-data-sharing archive unless
    ``extra_conf`` sets ``spark.driver.extraJavaOptions`` itself
    (``_session_conf``, ``_cds_plan``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Broadcast threshold must scale DOWN with executor memory: a
    # fixed 64MB on a capped heap fails the broadcast build outright
    # ("Not enough memory to build and broadcast", measured at 2g in
    # the round-6 memory-pressure probe) — 1/48 of the heap keeps
    # ~3 concurrent 64MB-class broadcasts + execution memory inside
    # the default memory fractions. At the tuned 8g (and on real
    # executors) this stays the 64MB ceiling.
    heap_bytes = _heap_bytes(os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    broadcast_threshold = min(64 * 1024 * 1024, heap_bytes // 48)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM is the whole cluster — the 1g
        # default GC-thrashes under cached/persisted intermediates,
        # while an over-sized heap (48g measured) is 2x slower on this
        # suite's small working sets. 8g is the measured sweet spot.
        # Its compiler/collector flags are _LOCAL_JVM_PROFILE above.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(broadcast_threshold))
        # Columnar parquet IO: bigger scan partitions than the 128MB
        # default hurt nothing locally and keep task counts sane at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Small single-file tables otherwise scan as ONE partition and
        # serialize CPU-heavy per-row work (regex tokenize, md5) onto a
        # single core. A low open-cost lets the scan split small files
        # across cores; at real scale files exceed this anyway.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # Parquet TIMESTAMP(NANOS) columns (pandas-written testdata)
        # otherwise fail the scan; read as long and convert at ingest
        # (sources.testdata normalizes to microsecond timestamps, the
        # same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ObjectHashAggregate (collect_set/collect_list and other
        # TypedImperativeAggregates) falls back to SORT-based
        # aggregation after only 128 in-memory keys by default — any
        # real group-by cardinality (region_top3_parts has ~100k
        # (area, part) groups per map task) degenerates to a per-task
        # sort. 128k keys x a small set buffer is tens of MB per task,
        # safely inside execution memory at the AQE-advised partition
        # sizes; measured 1.35x on region_top3_parts at sf0.1.
        # CAVEAT (ADVICE r12 item 2): the threshold is GLOBAL — it also
        # governs TypedImperativeAggregates with large per-key state
        # (collect_list of structs, percentile buffers), where the old
        # early sort-based fallback acted as a memory-pressure valve.
        # The tens-of-MB sizing assumes small set buffers; 100 TB
        # deployments with heavy collect_list state should LOWER this
        # through ``extra_conf``, which is applied after these defaults
        # (per-task bound ~= threshold x mean per-key state; keep it
        # under a small fraction of executor memory).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", str(128 * 1024)
        )
        # AQE coalesces shuffle reads by BYTE size, floored at this
        # value (default 1m). Compute-dense stages with tiny rows —
        # the candidate-verify streams (two longs per row, a 2*dim
        # cosine per row of work) — then serialize onto a handful of
        # tasks: partitions ~= min(parallelism, total/minSize), and a
        # few MB of candidates is a few tasks. 64k lets such stages
        # keep ~core-count parallelism while leaving large shuffles
        # untouched (the total/parallelism term dominates them at any
        # real scale). Measured (alternating A/B medians, sf0.1):
        # embedding_neardup 1.60->0.74s, session_stats 0.55->0.30s,
        # no query slower. Clusters preferring fewer, larger tasks on
        # busy schedulers can raise it through ``extra_conf``.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    )
    # The archive only helps a JVM this call starts; a live gateway
    # (a stopped session's JVM is reused) already has its classes.
    launches = SparkContext._gateway is None
    local = _LOCAL_MASTER.fullmatch(master) and _OPTS not in (extra_conf or {})
    cds = _cds_plan() if launches and local else None
    for k, v in _session_conf(master, extra_conf, cds.flags() if cds else ()).items():
        builder = builder.config(k, v)
    if cds is not None:
        # the empty conf directory, for this launch only
        os.environ["SPARK_CONF_DIR"] = str(_CDS_DIR / "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if cds is not None:
            del os.environ["SPARK_CONF_DIR"]
    if launches and getattr(SparkContext._gateway, "proc", None) is not None:
        _end_at_exit(SparkContext._gateway, cds)
    spark.sparkContext.setLogLevel("WARN")
    return spark
