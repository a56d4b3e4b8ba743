"""Co-occurrence mining with PMI scoring — "bought/viewed together"
for the commerce domain (pairs of parts sharing an order), and the
same shape as corpus word-association mining (pairs of tokens
sharing a document; PMI is the classic association measure —
Church & Hanks, CL 16(1) 1990).

    pmi(x, y) = ln( p(x,y) / (p(x) p(y)) )
              = ln( n_xy * N / (n_x * n_y) )

with N = number of groups (orders/documents), n_x = groups containing
x, n_xy = groups containing both. Positive → x and y co-occur more
than independence predicts.

Scale shape:
- distinct (group, item) projection first — multiplicity within a
  group is presence, not weight (the standard basket model);
- pair generation is ONE self equi-join on the group key. Quadratic
  in GROUP size, not corpus size — the whale-basket hazard (one bot
  order with 10⁴ items → 10⁸ pairs on one key) is bounded by
  ``cap_per_group``: a deterministic md5-ranked cap (the
  `cap_per_source` discipline) keeps every group under k items
  BEFORE the join, so the join's worst key emits ≤ k² pairs;
- n_x and N ride one aggregate over the (group, item) projection and
  broadcast back onto the (tiny relative to input) pair counts;
- PMI is computed from exact integer counts and rounded once (6 dp)
  — engine-stable modulo the usual 1-ulp ln() caveat, same posture
  as every ratio report in the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_pmi(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pairs: int = 1,
    cap_per_group: int | None = None,
) -> DataFrame:
    """``(item_x, item_y, n_xy, n_x, n_y, pmi)`` for every unordered
    item pair co-occurring in at least ``min_pairs`` groups
    (item_x < item_y). ``cap_per_group`` keeps at most k items per
    group (deterministic md5 rank over the item value — reproducible
    across runs/engines), bounding the self-join's per-key output.
    """
    items = (
        df.where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .select(group_col, item_col)
        .distinct()
    )
    if cap_per_group is not None:
        if cap_per_group < 1:
            raise ValueError("cap_per_group must be >= 1")
        from pyspark.sql import Window

        # hash (group, item) — hashing the item alone would keep the
        # SAME items in every whale group, so pairs among high-hash
        # items would never be observed anywhere; decorrelating the
        # cap across groups keeps it an unbiased per-group sample
        w = Window.partitionBy(group_col).orderBy(
            F.md5(
                F.concat(
                    F.col(group_col).cast("string"),
                    F.lit(":"),
                    F.col(item_col).cast("string"),
                    F.lit(":cooc"),
                )
            ),
            item_col,
        )
        items = (
            items.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= cap_per_group)
            .drop("__r")
        )
    # `items` feeds four subplans (group count, item counts, both
    # self-join sides). No persist and no eager action: the distinct
    # is one Exchange and Spark's ReusedExchange dedupes identical
    # subplans within the one job, so the shuffle runs once and
    # nothing leaks cache across calls. The group count joins in as
    # a broadcast one-row aggregate (the drift.py pattern).
    n_groups_row = items.select(
        F.count_distinct(group_col).alias("__n_groups")
    )
    item_counts = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("n"))

    a = items.select(group_col, F.col(item_col).alias("item_x"))
    b = items.select(group_col, F.col(item_col).alias("item_y"))
    pairs = (
        a.join(b, group_col)
        .where(F.col("item_x") < F.col("item_y"))
        .groupBy("item_x", "item_y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .where(F.col("n_xy") >= min_pairs)
    )
    cx = item_counts.select(
        F.col(item_col).alias("item_x"), F.col("n").alias("n_x")
    )
    cy = item_counts.select(
        F.col(item_col).alias("item_y"), F.col("n").alias("n_y")
    )
    return (
        pairs.join(F.broadcast(cx), "item_x")
        .join(F.broadcast(cy), "item_y")
        .crossJoin(F.broadcast(n_groups_row))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("n_xy").cast("double")
                    * F.col("__n_groups").cast("double")
                    / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
                ),
                6,
            ),
        )
        .select("item_x", "item_y", "n_xy", "n_x", "n_y", "pmi")
    )
