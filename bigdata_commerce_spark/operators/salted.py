"""Skew-mitigation operators: salted two-phase aggregation.

AQE's skew-join handling covers joins; for aggregations over a
power-law key (one user with 100M events), the classic fix is a
two-phase aggregate through a salted key: partial aggregation on
(key, salt) spreads the hot key over ``salt_buckets`` reducers, the
final aggregate combines the partials. Results are identical to the
direct aggregation — the catalog checks that with a plain GROUP BY
oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    key_cols: Sequence[str],
    salt_col: Column,
    salt_buckets: int = 16,
    count_alias: str = "n",
) -> DataFrame:
    """count(*) per key via (key, salt) partial -> final combine.

    ``salt_col`` must be a deterministic expression over the row (a
    hash of a high-cardinality column) so retries reproduce the same
    partials.
    """
    partial = (
        df.withColumn("__salt", F.pmod(salt_col, F.lit(salt_buckets)))
        .groupBy(*key_cols, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("__partial").alias(count_alias))


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Measure key skew before choosing a mitigation: per-key counts,
    the top-k hottest keys with their share of all rows, and the
    skew factor (max key count / mean key count — 1.0 means uniform,
    100 means the hottest reducer gets 100x the average and salting /
    AQE skew-join is worth turning on).

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
    top = counts.orderBy(*order).limit(k)
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
