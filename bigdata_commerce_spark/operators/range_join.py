"""Range (interval) joins: point-in-interval matching at scale.

A naive ``l.ts BETWEEN r.start AND r.end`` join has no equi-key, so
Spark plans a broadcast-nested-loop — all pairs, O(|L|x|R|), dead at
scale. The standard decomposition: quantize time into fixed-width
buckets, give each point its ONE bucket and each interval EVERY
bucket it overlaps (explode), equi-join on (keys..., bucket), then
apply the exact containment predicate. Each qualifying (point,
interval) pair meets exactly once — in the point's bucket — so no
distinct pass is needed.

Pick ``bucket_seconds`` near the typical interval length: shorter
buckets multiply the interval-side explosion, longer ones widen the
candidate lists per bucket. Same cost envelope as one equi shuffle
join either way, which is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner join of ``points`` to every interval containing its
    timestamp (inclusive bounds) with the same ``ad_id``. Returns the
    point columns plus the interval's start/end (and any interval payload columns)."""
    b = F.lit(bucket_seconds)
    p = points.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(ts_col)) / b)
    )
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b),
                F.floor(F.unix_timestamp(F.col(end_col)) / b),
            )
        ),
    )
    return (
        p.join(i, ["ad_id", "__bucket"])
        .where(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )
