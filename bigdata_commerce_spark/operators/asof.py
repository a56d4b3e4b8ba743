"""As-of (backward temporal) join — a custom operator Spark lacks.

The reference has only single-key equi-joins (SURVEY.md §2.3); an
as-of join is the canonical "operator Spark doesn't ship" extension,
built as a *composition of built-in ops* (preference (a) from the
build notes) rather than an applyInPandas merge_asof: union the two
sides, sort within each key by (ts, side), and carry the last
right-side payload forward with ``last(..., ignorenulls=True)``.

Scale shape: ONE shuffle of (left ∪ right) on the key, then a
within-partition sort — the same cost as a sort-merge join, no
per-group materialization, no Python. merge_asof-per-group
(applyInPandas) would ship every group through Arrow and bound group
size by executor memory; this doesn't.

Skew: the per-key running-last window is the one execution shape the
skew probe measured as super-linear under a planted hot key (5.7× at
a 30%-hot key, SCALE.md round-5 probe) — ALL of a hot key's rows
sort on one task. ``bucket_seconds`` switches to the skew-bounded
path: rows window within (key, time-bucket) partitions (the hot key
spreads across its time buckets) and buckets stitch through a
per-(key, bucket) carry-forward spine — one row per non-empty bucket,
so the per-key window that remains is over bucket summaries, bounded
by the time range, not by traffic. Output is identical (tested
row-for-row against the exact path); the stitch costs one extra
small shuffle, so keep the default for uniform keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    bucket_seconds: int | None = None,
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    ``right_ts <= left_ts`` within the same ``on`` key (backward
    as-of, inclusive; left-join semantics — unmatched rows keep NULL
    payloads).

    ``payload_cols`` are carried from the right side, renamed with
    the ``asof_`` prefix. Right rows that tie on (key, ts) are deduplicated to
    the one with the lexicographically greatest payload struct so the
    result is deterministic.

    ``bucket_seconds`` selects the skew-bounded path (identical
    output): windows run within (key, time-bucket) instead of (key),
    with a carry-forward spine stitching buckets — use it when one
    key can own a super-heavy share of rows (module docstring).
    """
    payload_struct = F.struct(F.col(right_ts).alias("__ts"), *[F.col(c) for c in payload_cols])
    # NULL-timestamp right rows carry no "as of when" — drop them, as
    # SQL ASOF JOIN does (ascending-nulls-first would otherwise smear
    # their payload over the whole key).
    r = (
        right.where(F.col(right_ts).isNotNull())
        .groupBy(on, right_ts)
        .agg(F.max(payload_struct).alias("__payload"))
        .select(
            F.col(on).alias("__key"),
            F.col(right_ts).alias("__ts"),
            F.lit(0).alias("__side"),
            F.col("__payload"),
        )
    )
    l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    both = r.withColumn("__row", F.lit(None).cast(l.schema["__row"].dataType)).unionByName(l)

    if bucket_seconds is None:
        # right rows sort before probes at equal ts -> inclusive "<="
        w = (
            Window.partitionBy("__key")
            .orderBy("__ts", "__side")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = both.withColumn("__last", F.last("__payload", ignorenulls=True).over(w))
    else:
        filled = _bucketed_fill(both, bucket_seconds)

    out = filled.where(F.col("__side") == 1).select(
        *[F.col(f"__row.{c}").alias(c) for c in left.columns],
        *[F.col(f"__last.{c}").alias(f"asof_{c}") for c in payload_cols],
        F.col("__last.__ts").alias("asof_ts"),
    )
    return out


def _bucketed_fill(both: DataFrame, bucket_seconds: int) -> DataFrame:
    """The skew-bounded running-last: add ``__last`` to the unioned
    (key, ts, side, payload) frame, equal to the exact per-key window
    but never sorting more than one (key, time-bucket) on a task.

    1. rows get ``__b = floor(unix_micros(ts)/B)`` (NULL ts -> NULL
       bucket, which sorts first, matching the exact path's
       nulls-first order);
    2. per-(key, bucket) the right side's CLOSING payload (max ts) is
       one small aggregate;
    3. a per-key window over the bucket SUMMARIES (one row per
       non-empty bucket — bounded by time range / B, not by traffic)
       carries the closing payload forward: ``__carry_in`` of bucket b
       = last closing payload of any earlier bucket. Every carried
       payload's ts is strictly below b's start (it lives in an
       earlier bucket), so seeding it as a sentinel row with
       ``__side = -1`` sorts it before all of b's real rows;
    4. the running-last window then runs within (key, bucket).
    """
    us = F.lit(int(bucket_seconds) * 1_000_000)
    rows = both.withColumn(
        "__b", F.floor(F.unix_micros(F.col("__ts").cast("timestamp")) / us)
    )
    from bigdata_commerce_spark.operators.spine import null_safe_key_bucket_join

    closing = (
        rows.where(F.col("__side") == 0)
        .groupBy("__key", "__b")
        .agg(F.max(F.struct(F.col("__ts"), F.col("__payload"))).alias("__close"))
    )
    # bucket spine: every (key, bucket) either side touches, so a left
    # bucket with no right rows still receives its carry-in. The join
    # is NULL-SAFE on the key (operators/spine.py): the exact path's
    # window groups NULL keys into one partition (NULL-key probes
    # match NULL-key quotes), and a plain equi-join would silently
    # drop their carry.
    spine = null_safe_key_bucket_join(
        rows.select("__key", "__b").distinct(), closing, "__key", "__b", "left"
    )
    w_spine = (
        Window.partitionBy("__key")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = spine.withColumn(
        "__carry_in", F.last("__close", ignorenulls=True).over(w_spine)
    )
    sentinels = carry.where(F.col("__carry_in").isNotNull()).select(
        "__key",
        "__b",
        F.col("__carry_in.__ts").alias("__ts"),
        F.lit(-1).alias("__side"),
        F.col("__carry_in.__payload").alias("__payload"),
        F.lit(None).cast(rows.schema["__row"].dataType).alias("__row"),
    )
    w_bucket = (
        Window.partitionBy("__key", "__b")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rows.unionByName(sentinels)
        .withColumn("__last", F.last("__payload", ignorenulls=True).over(w_bucket))
        .drop("__b")
    )
