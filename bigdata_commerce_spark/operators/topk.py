"""Top-k operators.

Replaces the reference's three top-k strategies with the two Spark
shapes that scale:

- global top-k with secondary sort: the reference collects via a
  custom ordered key class + ``sortByKey(false).take(10)``
  (``session/src/main/scala/SortKey.scala:1-16``,
  ``SessionStat.scala:205-214``). Here: multi-column ``orderBy`` +
  ``limit`` — Catalyst plans ``TakeOrderedAndProject`` which keeps
  only k rows per partition and never does a full sort.
- per-group top-k: the reference materializes each group and sorts
  in executor memory (``SessionStat.scala:137-150``) — O(group) heap
  risk at scale. Here: ``row_number`` over a partitioned window,
  which sorts within shuffle partitions and streams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Top-k rows overall — plans as TakeOrderedAndProject, no full sort."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = True,
) -> DataFrame:
    """Top-k rows per group via a ranking window.

    ``order_by`` must be a total order within each partition for a
    deterministic result (add a tiebreak column if needed).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def rank_top_m(
    df: DataFrame,
    order_by: Sequence[Column],
    m: int,
) -> DataFrame:
    """Global top-m + dense 1-based rank: TakeOrderedAndProject does
    the distributed heavy lift (per-partition top-m, merged at the
    driver stage — no full sort, no global window over the input);
    the ranking window then runs over m rows only. ``order_by`` must
    be a total order for a deterministic rank."""
    top = global_top_k(df, order_by, m)
    w = Window.orderBy(*order_by)
    return top.withColumn("rank", F.row_number().over(w))
