"""SparkSession factory.

The reference builds ad-hoc local sessions per main
(``session/src/main/scala/SessionStat.scala:35-38``). Here a single
factory pins the settings that matter for correctness (UTC session
timezone so timestamps hash-match a UTC-naive oracle) and for scale
(AQE on, shuffle partitions sized to the cluster, Arrow enabled for
the pandas-UDF slow path).

At 100 TB the same code runs unchanged: ``shuffle.partitions`` is a
starting hint only — AQE coalesces/splits at runtime, and the skew
join handler deals with hot keys without manual salting. The one
local-only setting is the driver JVM's JIT/GC profile (see
``_session_conf``), which a cluster master never gets.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

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


def _session_conf(
    master: str, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The caller's ``extra_conf`` plus, for a ``local``/``local[...]``
    master, ``spark.driver.extraJavaOptions`` set to
    ``_LOCAL_JVM_PROFILE``.

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
        conf.setdefault("spark.driver.extraJavaOptions", " ".join(profile))
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
    JVM's JIT/GC profile unless ``extra_conf`` sets
    ``spark.driver.extraJavaOptions`` itself (``_session_conf``).
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
        # via the env knob (per-task bound ~= threshold x mean per-key
        # state; keep it under a small fraction of executor memory).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            os.environ.get("SPARK_GRAFT_OBJ_AGG_FALLBACK", str(128 * 1024)),
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
        # busy schedulers can raise it via the env knob.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
    )
    for k, v in _session_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
