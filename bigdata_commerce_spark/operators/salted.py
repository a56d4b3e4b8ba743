"""Key-skew diagnostic.

AQE's skew-join handling covers joins. An aggregation over a
power-law key (one user with 100M events) needs no salting when its
function combines map-side (count, sum, min, max): each map task
sends the hot key one partial, and a salted two-phase count measured
slower than the plain aggregate at every size tried
(``salted_user_event_counts``' docstring has the numbers).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Measure key skew before choosing a mitigation: per-key counts,
    the top-k hottest keys with their share of all rows, and the
    skew factor (max key count / mean key count — 1.0 means uniform,
    100 means the hottest reducer gets 100x the average and a
    mitigation such as AQE skew-join is worth turning on).

    One hash aggregate on the key (map-side combined), a one-row
    summary broadcast back, and a TakeOrderedAndProject for the
    top-k — nothing driver-side, so it runs at any key cardinality.
    Tie order (count desc, then keys asc) is total, so the report is
    deterministic and engine-portable.
    """
    from pyspark.sql import Window

    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    summary = counts.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    order = [F.desc("cnt")] + [F.asc(c) for c in key_cols]
    top = counts.orderBy(*order).limit(20)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(summary))
        .select(
            "rank",
            *key_cols,
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt") / F.col("total_rows"), 6).alias("share"),
            "total_rows",
            "n_keys",
            # max/(total/keys), all double: the max_cnt * n_keys form
            # overflows int64 at ~1e10 rows x 1e9 keys — exactly the
            # scales this diagnostic exists for
            F.round(
                F.col("max_cnt") / (F.col("total_rows") / F.col("n_keys")), 4
            ).alias("skew_factor"),
        )
    )
