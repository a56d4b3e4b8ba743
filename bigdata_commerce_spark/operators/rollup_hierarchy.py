"""Hierarchical time rollups — the hypertable continuous-aggregate
pattern: minute-level aggregates from raw events, hour level from the
minute level, day level from the hour level.

Why derive coarse from fine instead of re-scanning raw: at 100 TB the
raw scan dominates; the minute table is orders of magnitude smaller,
so refreshing hour/day levels costs minutes-table I/O, not raw I/O —
exactly how TimescaleDB/Druid maintain rollup ladders. Correctness
rests on the merge algebra: SUM/COUNT re-aggregate losslessly
(count-of-counts is a sum), MIN/MAX compose; AVG must be carried as
(sum, count), never averaged-of-averages — this module carries the
decomposed form and exposes avg only at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LEVELS = ("minute", "hour", "day")


def rollup_ladder(events: DataFrame) -> dict[str, DataFrame]:
    """Build the minute/hour/day ladder of ``events`` by ``province``.
    Each level carries (bucket, province, event_count, value_sum =
    sum of ``ad_id``) — the mergeable form.
    Only the minute level touches the raw events; each coarser level
    re-aggregates the previous one."""
    minute = (
        events.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("bucket"), "province"
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("ad_id")).alias("value_sum"),
        )
    )
    ladder = {"minute": minute}
    finer = minute
    for level in ("hour", "day"):
        finer = (
            finer.groupBy(
                F.date_trunc(level, F.col("bucket")).alias("bucket"), "province"
            )
            .agg(
                F.sum("event_count").alias("event_count"),
                F.sum("value_sum").alias("value_sum"),
            )
        )
        ladder[level] = finer
    return ladder
