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


def rollup_ladder(
    events: DataFrame,
    ts_col: str = "event_time",
    key_cols: list[str] | None = None,
    value_col: str | None = None,
) -> dict[str, DataFrame]:
    """Build the minute/hour/day ladder. Each level carries
    (bucket, keys, event_count, value_sum) — the mergeable form.
    Only the minute level touches the raw events; each coarser level
    re-aggregates the previous one."""
    key_cols = key_cols or []
    base_val = (
        F.col(value_col) if value_col is not None else F.lit(1).cast("bigint")
    )
    minute = (
        events.groupBy(
            F.date_trunc("minute", F.col(ts_col)).alias("bucket"), *key_cols
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(base_val).alias("value_sum"),
        )
    )
    ladder = {"minute": minute}
    finer = minute
    for level in ("hour", "day"):
        finer = (
            finer.groupBy(
                F.date_trunc(level, F.col("bucket")).alias("bucket"), *key_cols
            )
            .agg(
                F.sum("event_count").alias("event_count"),
                F.sum("value_sum").alias("value_sum"),
            )
        )
        ladder[level] = finer
    return ladder
