"""Multi-touch marketing attribution: split each conversion's value
across the touchpoints that preceded it.

Last-touch attribution (the as-of join in operators/asof.py) gives
the whole conversion to the final click; position-based ("U-shaped")
attribution instead credits 40% to the first touch, 40% to the last,
and splits the remaining 20% across the middle touches — the
standard multi-touch model marketing analytics runs next to
first/last-touch to see which campaigns open vs close. One touch:
100%. Two touches: 50/50.

Scale shape: touches join conversions on the user key (an equi-join
— the range predicate rides the join as a filter, so no
broadcast-nested-loop; pairs are bounded by touches × conversions
per user inside the lookback, the same per-key regime as the as-of
and sessionize kernels). Position ranks use a window partitioned by
the CONVERSION id — bounded by touches-per-conversion, never by the
stream. The final rollup is one hash aggregate keyed by channel.

Engine-exactness: weights are closed-form doubles from the same
literals in both engines (0.2 / (n - 2), never 1 - 2*0.4 — the two
differ in the last ulp); per-touch credit rounds to 8 dp and sums as
DECIMAL(20,8), so float order cannot drift an oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def multitouch_attribution(touches: DataFrame, conversions: DataFrame) -> DataFrame:
    """Per-channel attribution rollup: ``(channel, n_touches,
    n_first, n_last, n_conversions, attributed_value)``.

    A touch participates in a conversion when it is strictly before
    the conversion and within 7 days of it; every
    qualifying (touch, conversion) pair receives a position weight
    (U-shaped: 0.4 at the ends, 0.2 in total
    split evenly across the middle; 1.0 / 0.5 for singleton/pair
    paths). Ties on the touch timestamp break on the touch id."""
    t = touches.select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__t_ts"),
        F.col("event_id").alias("__touch_id"),
        F.col("channel").alias("channel"),
    )
    c = conversions.select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__c_ts"),
        F.col("event_id").alias("__conv_id"),
        F.col("value").alias("__value"),
    )
    j = t.join(c, "__k").where(
        (F.col("__t_ts") < F.col("__c_ts"))
        & (
            F.col("__t_ts")
            >= F.col("__c_ts") - F.expr("INTERVAL 7 DAYS")
        )
    )
    w_rank = Window.partitionBy("__conv_id").orderBy("__t_ts", "__touch_id")
    w_all = Window.partitionBy("__conv_id")
    ranked = j.withColumn("__rnk", F.row_number().over(w_rank)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    n, rnk = F.col("__n"), F.col("__rnk")
    weight = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((rnk == 1) | (rnk == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - F.lit(2)))
    )
    attr = ranked.withColumn(
        "__credit", F.round(F.col("__value") * weight, 8)
    )
    return attr.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.when(rnk == 1, 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(rnk == n, 1).otherwise(0)).alias("n_last"),
        F.countDistinct("__conv_id").alias("n_conversions"),
        F.sum(F.col("__credit").cast("decimal(20,8)"))
        .cast("string")
        .cast("double")
        .alias("attributed_value"),
    )
