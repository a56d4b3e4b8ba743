"""Per-key running (cumulative) sums with a skew-bounded path — the
general form of the bucket-spine technique asof_join and sessionize
use.

A running frame (``SUM(v) OVER (PARTITION BY key ORDER BY ts ROWS
UNBOUNDED PRECEDING)``) is the one execution shape the round-5 skew
probe measured super-linear under a planted hot key (5.7× at a
30%-hot key, SCALE.md): Spark cannot split the partition (every row
needs all predecessors), WindowGroupLimit cannot prune it (every row
is output), so ONE task sorts and scans the hot key's entire history.
It is also a shape real pipelines keep reaching for: running spend
per account, cumulative clicks per ad, lifetime token counts per
source.

The ``bucket_seconds`` path bounds it with two-level prefix sums,
exactly like sequence packing's bucketed offsets (operators/
packing.py) but keyed: local running sums within (key, time-bucket)
partitions, per-bucket totals prefix-summed on a per-key spine (one
row per non-empty bucket — bounded by time range / bucket width, not
by traffic), and the spine offset joined back on the composite key.
No task ever sorts more than one bucket of the hot key.

Sums run in DECIMAL (the money_sum discipline): the two paths add in
different orders, and exact arithmetic is what makes them — and the
DuckDB oracle — bit-identical. Inputs are assumed to carry <= 8
decimal places; per-key running totals must stay below 1e29 (the
bucketized path's decimal(37,8) partials — ANSI mode fails loud
beyond, never silently).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# far below any real floor(unix_micros/bucket) value; lets NULL-ts
# rows survive the spine equi-join while sorting first like the
# exact path's NULLS FIRST (same sentinel scheme as sessionize)
_NULL_BUCKET = -(2**62)


def running_sum_per_key(df: DataFrame, bucket_seconds: int | None = None) -> DataFrame:
    """Add ``__rs`` = cumulative sum of ``value`` per ``user_id`` in
    (ts, event_id) order, NULL until the key's first non-NULL value
    (SQL running-SUM semantics). The unique ``event_id`` makes the
    order total, so sums at tied timestamps are deterministic.
    ``bucket_seconds`` selects the skew-bounded path (module
    docstring); results are identical (tested, and oracle-checked by
    the ``events_running_value`` twin).
    """
    order = [F.col("ts"), F.col("event_id")]
    v = F.col("value").cast("decimal(30,8)")

    if bucket_seconds is None:
        w = (
            Window.partitionBy("user_id")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return df.withColumn("__rs", F.sum(v).over(w))

    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    rows = df.withColumn(
        "__rb",
        F.coalesce(
            F.floor(ts_us / F.lit(int(bucket_seconds) * 1_000_000)),
            F.lit(_NULL_BUCKET),
        ),
    )
    w_local = (
        Window.partitionBy("user_id", "__rb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = rows.withColumn("__local", F.sum(v).over(w_local))
    totals = rows.groupBy("user_id", "__rb").agg(F.sum(v).alias("__tot"))
    # prefix WITHOUT coalesce: it must stay NULL when no earlier
    # bucket holds a non-NULL value, so a leading all-NULL stretch
    # yields NULL exactly like the exact path's running SUM
    w_spine = (
        Window.partitionBy("user_id")
        .orderBy("__rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.withColumn("__prefix", F.sum("__tot").over(w_spine))
    zero = F.lit(0).cast("decimal(30,8)")
    # The operands are narrowed to decimal(37,8) before the add:
    # (38,8)+(38,8) would need precision 39 and Spark demotes that to
    # (38,7), silently rounding away the 8th decimal place the module
    # promises. (37,8)+(37,8) -> precision 38, scale 8 — no demotion —
    # then a cast to the exact path's (38,8) so both paths agree in
    # type and value. Per-key running totals must therefore fit
    # decimal(37,8) (|total| < 1e29) — ANSI mode fails loud beyond.
    p37 = F.coalesce(F.col("__prefix"), zero).cast("decimal(37,8)")
    l37 = F.col("__local").cast("decimal(37,8)")
    from bigdata_commerce_spark.operators.spine import null_safe_key_bucket_join

    return (
        null_safe_key_bucket_join(
            rows, prefix.select("user_id", "__rb", "__prefix"), "user_id", "__rb"
        )
        .withColumn(
            "__rs",
            F.when(F.col("__local").isNotNull(), (p37 + l37).cast("decimal(38,8)"))
            .otherwise(F.col("__prefix").cast("decimal(38,8)")),
        )
        .drop("__rb", "__local", "__prefix")
    )
