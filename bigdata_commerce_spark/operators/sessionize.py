"""Sessionization + session aggregate statistics (reqs 1-2).

The reference pre-assigns session_id in its mock data and computes
per-session aggregates with ``groupByKey`` + a per-session fold into
a ``k=v|k=v`` concat-string (``SessionStat.scala:47-48,618-673``) and
histogram buckets via a custom accumulator mutated inside a filter
(``SessionAccumulator.scala:5-38``). Both patterns are RDD-era: the
groupByKey materializes whole sessions in executor memory, and
accumulator metrics are not retry-safe.

Here:
- gap sessionization is a window ``lag`` + conditional cumulative sum
  (no group materialization; one shuffle on the user key);
- the per-session fold is a hash aggregate (min/max/count/collect_set)
  with map-side partial aggregation;
- the histogram is one conditional aggregation over the session
  aggregate — exact, retry-safe, single pass.

At 100 TB the session aggregate shuffles once on (user_id) and the
histogram reduces to a single row via partial aggregation — no
driver-side state, no accumulators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_commerce_spark.functions import (
    STEP_LENGTH_BUCKETS,
    VISIT_LENGTH_BUCKETS,
    bucket_flag,
    ratio,
)


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the gap
    since the user's previous event exceeds ``gap_minutes``.

    session_id = (user_id, running count of gap-breaks) — stable,
    deterministic, and computable identically in ANSI SQL (lag +
    sum-over) for oracle checking.

    The per-user running sum is the execution shape the round-5 skew
    probe measured super-linear under a planted hot key (a bot user
    owning 30% of events serializes onto one task). ``bucket_seconds``
    selects a skew-bounded path with IDENTICAL output (tested
    row-for-row): gap-breaks run within (user, time-bucket) windows —
    the hot user spreads across its time buckets — and buckets stitch
    through per-(user, bucket) summaries (first/last ts + local break
    count, ONE row per non-empty bucket, so the remaining per-user
    window is bounded by time range / bucket_seconds, not by traffic).
    The stitch costs one extra small shuffle and a join back on
    (user, bucket); keep the default for uniform keys.
    """
    # Exact microsecond arithmetic (unix_timestamp truncates to seconds,
    # which would disagree with an interval-based oracle on sub-second
    # boundary gaps). unix_micros only accepts TIMESTAMP, so cast:
    # TIMESTAMP_NTZ inputs (Spark >=3.5 reads timezone-less parquet
    # timestamp[us] as NTZ) are value-preserving under the pinned UTC
    # session timezone.
    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    if bucket_seconds is None:
        w_user = Window.partitionBy("user_id").orderBy("ts")
        prev_us = F.unix_micros(F.lag("ts").over(w_user).cast("timestamp"))
        gap_break = (
            F.when(
                F.lag("ts").over(w_user).isNull() | (ts_us - prev_us > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        seq = F.sum(gap_break).over(w_user.rowsBetween(Window.unboundedPreceding, 0))
        return df.withColumn(
            "session_id",
            F.concat_ws("_", F.col("user_id").cast("string"), seq.cast("string")),
        )

    # ---- skew-bounded two-phase path ----
    # Phase 1: local breaks within (user, bucket). The bucket's FIRST
    # row gets local_break 0 — whether it starts a new session is the
    # boundary question, answered on the bucket spine. NULL ts maps to
    # a sentinel bucket far below any real one (a real bucket bottoms
    # out around -6e10 at 1-second buckets): it sorts first like the
    # exact path's NULLS FIRST, and unlike a NULL bucket it survives
    # the phase-4 equi-join (NULL = NULL never matches).
    rows = df.withColumn(
        "__sb",
        F.coalesce(
            F.floor(ts_us / F.lit(int(bucket_seconds) * 1_000_000)),
            F.lit(-(2**62)),
        ),
    )
    w_local = Window.partitionBy("user_id", "__sb").orderBy("ts")
    prev_local = F.lag("ts").over(w_local)
    # lag over a literal distinguishes "first row in bucket" from
    # "previous row's ts is NULL" — the exact path breaks on the
    # latter (NULL prev ts means an undefined gap, i.e. a new
    # session), so this path must too
    is_first_local = F.lag(F.lit(1)).over(w_local).isNull()
    local_break = F.when(is_first_local, F.lit(0)).otherwise(
        F.when(
            prev_local.isNull()
            | (ts_us - F.unix_micros(prev_local.cast("timestamp")) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    rows = rows.withColumn(
        "__local_seq",
        F.sum(local_break).over(w_local.rowsBetween(Window.unboundedPreceding, 0)),
    )

    # Phase 2: one summary row per non-empty (user, bucket)
    summary = rows.groupBy("user_id", "__sb").agg(
        F.min("ts").alias("__first_ts"),
        F.max("ts").alias("__last_ts"),
        F.max("__local_seq").alias("__local_breaks"),
    )

    # Phase 3: stitch on the spine. boundary_break = does this
    # bucket's first row start a new session (no previous bucket, a
    # NULL-ts bucket boundary, or the cross-bucket gap exceeds the
    # threshold). The row's global seq = breaks in all earlier buckets
    # + this bucket's boundary break + its local running breaks.
    w_spine = Window.partitionBy("user_id").orderBy("__sb")
    prev_last = F.lag("__last_ts").over(w_spine)
    boundary_break = F.when(
        prev_last.isNull()
        | (
            F.unix_micros(F.col("__first_ts").cast("timestamp"))
            - F.unix_micros(prev_last.cast("timestamp"))
            > gap_us
        )
        | F.col("__first_ts").isNull(),
        F.lit(1),
    ).otherwise(F.lit(0))
    stitched = summary.withColumn("__bb", boundary_break).withColumn(
        "__base",
        F.coalesce(
            F.sum(F.col("__local_breaks") + F.col("__bb")).over(
                w_spine.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        + F.col("__bb"),
    )

    # Phase 4: join the per-bucket base back (shuffle on the composite
    # key — skew-spread; NULL-safe on the user key so anonymous
    # traffic survives, operators/spine.py) and emit the identical
    # session id.
    from bigdata_commerce_spark.operators.spine import null_safe_key_bucket_join

    seq = F.col("__base") + F.col("__local_seq")
    return (
        null_safe_key_bucket_join(
            rows, stitched.select("user_id", "__sb", "__base"), "user_id", "__sb"
        )
        .withColumn(
            "session_id",
            F.concat_ws("_", F.col("user_id").cast("string"), seq.cast("string")),
        )
        .drop("__sb", "__local_seq", "__base")
    )


def session_aggregates(df: DataFrame) -> DataFrame:
    """Per-session aggregate: start/end, visit_length (sec), step_length.

    Mirrors ``getSessionFullInfo`` (``SessionStat.scala:618-673``)
    minus the concat-string encoding — real columns instead.

    Grouping key is (user, session), not session alone (optimization
    round 13, guide §2.4): session_id is functionally dependent on
    user_id (``user_id || '_' || seq``), so the groups are identical —
    but with user_id in the key, the sessionizer's existing
    hashpartitioning(user_id) SATISFIES the aggregation's clustered
    distribution and the groupBy's own Exchange disappears (the
    session stream was being shuffled a second time for nothing).
    ``min(user_id)`` per session equals the key, so output values are
    unchanged; the final select pins the original column order.

    Contract: the output has one row per (user, session). A session id
    assigned outside ``sessionize`` and shared by several users is that
    many sessions, each aggregated over its own user's events only.
    """
    return (
        df.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("start_time"),
            F.max("ts").alias("end_time"),
            F.count(F.lit(1)).alias("step_length"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("visit_length"),
        )
        .select(
            "session_id", "user_id", "start_time", "end_time",
            "step_length", "visit_length",
        )
    )


def visit_step_histogram(session_agg: DataFrame) -> DataFrame:
    """Req 1: one-row histogram of visit-length / step-length buckets as
    ratios of the session count.

    Conditional aggregation replaces the reference's accumulator
    (intended semantics per SURVEY.md §2.12: each ratio from its own
    bucket, counts = occurrences — the reference double-counts the
    first add and wires the 1s_3s ratio to the 1m_3m bucket).
    """
    aggs = [F.count(F.lit(1)).alias("session_count")]
    for label, lo, hi in VISIT_LENGTH_BUCKETS:
        aggs.append(F.sum(bucket_flag(F.col("visit_length"), lo, hi)).alias(f"vl_{label}"))
    for label, lo, hi in STEP_LENGTH_BUCKETS:
        aggs.append(F.sum(bucket_flag(F.col("step_length"), lo, hi)).alias(f"sl_{label}"))
    counts = session_agg.agg(*aggs)

    total = F.col("session_count")
    out_cols = [total.alias("session_count")]
    for label, _, _ in VISIT_LENGTH_BUCKETS:
        out_cols.append(ratio(F.col(f"vl_{label}"), total).alias(f"visit_ratio_{label}"))
    for label, _, _ in STEP_LENGTH_BUCKETS:
        out_cols.append(ratio(F.col(f"sl_{label}"), total).alias(f"step_ratio_{label}"))
    return counts.select(*out_cols)


def stratified_session_sample(session_agg: DataFrame, per_day: int = 100) -> DataFrame:
    """Req 2: proportional per-(day, hour) session extraction.

    The reference does countByKey -> driver-side random index lists ->
    broadcast -> groupByKey position-match
    (``SessionStat.scala:314-454``) — driver state proportional to
    day*hour cardinality and unseeded randomness.

    Here the quota per (day, hour) is computed in-plan
    (hour_count / day_count * per_day, the reference's integer-ratio
    intent) and rows are picked by ranking on a *deterministic*
    pseudo-random key, md5(session_id) — reproducible run-to-run and
    expressible identically in the DuckDB oracle. No driver state:
    scales to any number of days.
    """
    keyed = session_agg.withColumn("s_date", F.to_date("start_time")).withColumn(
        "s_hour", F.hour("start_time")
    )
    w_hour = Window.partitionBy("s_date", "s_hour")
    w_day = Window.partitionBy("s_date")
    w_rank = Window.partitionBy("s_date", "s_hour").orderBy(F.md5(F.col("session_id").cast("string")))
    return (
        keyed.withColumn("hour_count", F.count(F.lit(1)).over(w_hour))
        .withColumn("day_count", F.count(F.lit(1)).over(w_day))
        .withColumn(
            "quota",
            F.greatest(
                F.floor(F.col("hour_count") * per_day / F.col("day_count")),
                F.lit(1),
            ),
        )
        .withColumn("pick", F.row_number().over(w_rank))
        .where(F.col("pick") <= F.col("quota"))
        .drop("hour_count", "day_count", "quota", "pick")
    )
