"""Dense, order-defined row indexes for training-data export.

Trainers address examples by a contiguous index (fixed-size shards,
cheap resume points), not by whatever ids the last shuffle left. The
indexes here are computed as a two-level bucketed prefix sum over
COUNTS (operators/packing.py discipline) — never a global
single-partition row_number over the data. The per-bucket count table
is tiny (one row per bucket), so at 100 TB the cost is one count
aggregate (map-side partials), one broadcast of the bucket offsets and
one bucket-local window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_global_index(df: DataFrame) -> DataFrame:
    """Add a contiguous 0-based global index (``idx``) by ``doc_id`` order
    WITHOUT a global single-partition window — the distributed
    replacement for zipWithIndex / monotonically_increasing_id when
    ids must be dense and order-defined (training-example numbering,
    stable row addressing).

    ``doc_id`` must be unique (it defines the total order). Bucket
    prefix sums: rows bucket by doc_id // 2^20; per-bucket
    counts (tiny) get an exclusive running total on the driver-sized
    frame; each row's global index = bucket offset + rank within
    bucket. The within-bucket window partitions by bucket — bounded
    memory, no single-reducer stage."""
    # integer `div`, not float `/`+cast: double rounding would misplace
    # ids above 2^53 and ids exactly at bucket boundaries
    bucket = F.expr(f"`doc_id` div {1 << 20}")
    rows = df.withColumn("__bucket", bucket)
    counts = rows.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.partitionBy().orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__bucket", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset")
    )
    w_in = Window.partitionBy("__bucket").orderBy("doc_id")
    return (
        rows.join(F.broadcast(offsets), "__bucket")
        .withColumn("idx", F.col("__offset") + F.row_number().over(w_in) - 1)
        .drop("__bucket", "__n", "__offset")
    )


def with_group_shuffled_index(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Dense 0-based SHUFFLED position within each group — the keyed
    sibling of ``with_global_index``, with the deterministic md5
    order standing in for a random permutation (the
    documents_shuffled_index discipline: same salt, same hash, so
    re-runs and engines agree row for row).

    Never a single reducer per group: positions come from a two-level
    prefix sum over the hash's 2-hex-char PREFIX (256 sub-buckets per
    group). Because the sub-bucket is a prefix of the fixed-width hex
    hash, (sub asc, hash asc within sub) IS hash order within the
    group — so per-(group, sub) counts (tiny: groups x 256 rows) take
    an exclusive running offset within the group, and each row's
    position is that offset + its rank within its (group, sub) cell.
    The heavy window partitions by (group, sub): bounded memory at
    any group size, exactly the ``with_global_index`` posture with a
    key. ``doc_id`` must be unique — it is both the hash input and
    the total-order tiebreak.
    """
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuf"))), 1, 16
    )
    rows = df.withColumn("__h", h).withColumn("__sub", F.substring("__h", 1, 2))
    counts = rows.groupBy(*group_cols, "__sub").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols,
        "__sub",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_in = Window.partitionBy(*group_cols, "__sub").orderBy("__h", "doc_id")
    return (
        rows.join(F.broadcast(offsets), [*group_cols, "__sub"])
        .withColumn("pos", F.col("__offset") + F.row_number().over(w_in) - 1)
        .drop("__h", "__sub", "__n", "__offset")
    )


def with_shuffled_index(df: DataFrame, salt: str = "shuf") -> DataFrame:
    """Deterministic global SHUFFLE order: a dense 0-based index over
    a seeded pseudo-random permutation of the rows — the
    shuffle-before-sharding step of training-data prep, reproducible
    across runs/engines (no rand(), no partitioning dependence).

    ``doc_id`` must be unique (same contract as with_global_index —
    duplicate ids share both the hash key and the tiebreak, making
    their relative order partitioning-dependent). Order key = the
    first 15 hex chars of md5(id:salt) as a 60-bit integer (ties
    broken by id, so the order is total even on hash collisions); the index comes from the same two-level bucketed
    prefix sum as with_global_index — key-space buckets of
    2^44 give ~2^16 count rows for the driver-sized
    exclusive running total, and the within-bucket window stays
    bounded. Changing ``salt`` draws a fresh permutation.
    """
    from bigdata_commerce_spark.functions import md5_uniform60

    key = md5_uniform60("doc_id", salt)
    rows = df.withColumn("__k", key).withColumn(
        "__bucket", F.expr(f"__k div {1 << 44}")
    )
    counts = rows.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.partitionBy().orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__bucket", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset")
    )
    w_in = Window.partitionBy("__bucket").orderBy("__k", "doc_id")
    return (
        rows.join(F.broadcast(offsets), "__bucket")
        .withColumn("idx", F.col("__offset") + F.row_number().over(w_in) - 1)
        .drop("__bucket", "__n", "__offset", "__k")
    )
