"""Token-budget sequence packing for pretraining pipelines.

A training job consumes fixed-size token windows; feeding it raw
documents wastes budget on padding. Contiguous-fill packing lays the
corpus out in a deterministic order (doc_id) and cuts pack boundaries
every ``budget`` tokens: pack k holds the documents whose running
token offset starts in [k*budget, (k+1)*budget).

The classic formulation is a global running sum — a single ORDER BY
window, which Spark executes in ONE partition: the canonical scale
killer. Here the prefix sum is two-level:

1. documents fold into fixed-width doc_id buckets (``bucket = doc_id
   div bucket_width``) — a deterministic, data-independent mapping,
   unlike ``spark_partition_id()``;
2. per-bucket token totals (one small aggregate, #buckets rows) get a
   running-sum window — the only global window, over #buckets rows
   instead of #documents;
3. each document's global offset = its bucket's prefix + its within-
   bucket running sum (window partitioned BY bucket — fully parallel).

At 100 TB pick bucket_width so #buckets stays ~1e6 (the step-2 window
is then trivially small); the same construction nests another level
if a corpus ever outgrows that. The whole operator is two shuffles
(the per-bucket agg + the bucket window) and is exactly expressible
in ANSI SQL for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    bucket_width: int = 1024,
) -> DataFrame:
    """Assign each document a pack id and its token offset inside the
    pack. Deterministic in (doc_id, n_tokens) alone — independent of
    partitioning, parallelism, or input order.

    Documents longer than ``budget`` keep a pack to themselves (their
    start offset defines their pack; real pipelines then split them —
    that split is a per-row explode, deliberately out of scope here).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if bucket_width <= 0:
        # div 0 would NULL every bucket, silently collapsing the
        # two-level prefix sum into one global single-partition window
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.col("n_tokens").cast("bigint").alias("n"),
        # integer div, not float-divide-then-cast: exact at any id
        F.expr(f"`doc_id` div {int(bucket_width)}").alias("bucket"),
    )

    w_in_bucket = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_bucket = toks.withColumn(
        "local_start", F.coalesce(F.sum("n").over(w_in_bucket), F.lit(0))
    )

    bucket_totals = toks.groupBy("bucket").agg(F.sum("n").alias("bucket_n"))
    w_buckets = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_prefix = bucket_totals.withColumn(
        "bucket_start", F.coalesce(F.sum("bucket_n").over(w_buckets), F.lit(0))
    ).select("bucket", "bucket_start")

    # #buckets rows — broadcast; the corpus is never reshuffled for
    # the join.
    packed = in_bucket.join(F.broadcast(bucket_prefix), "bucket").select(
        F.col("id").alias("doc_id"),
        F.col("n").alias("n_tokens"),
        (F.col("bucket_start") + F.col("local_start")).alias("token_start"),
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "token_start",
        F.expr(f"token_start div {int(budget)}").alias("pack_id"),
        (F.col("token_start") % budget).alias("pack_offset"),
    )


def length_bucketed_index(df: DataFrame) -> DataFrame:
    """Length-bucketed batching index: assign each document to one of
    4 token-length buckets (exact interpolated quantile
    boundaries), then a dense 0-based SHUFFLED position within its
    bucket — the data-loader prep that minimizes padding waste: a
    trainer drawing batch k of bucket b as positions
    [k*batch, (k+1)*batch) gets length-homogeneous batches in a
    deterministic pseudo-random order, with no cross-bucket length
    mixing and no in-loader sort.

    Bucketing: boundaries are the i/4 interpolated percentiles
    of ``n_tokens`` (Spark `percentile` == DuckDB `quantile_cont`,
    the exact_price_percentiles parity), ROUNDED TO 6dp on both
    engines so the integer-vs-boundary comparisons below cannot flip
    on a 1-ULP interpolation difference; bucket = 1 + count of
    boundaries strictly below the value (ties go DOWN, NULL token
    counts land deterministically in bucket 1 — every comparison is
    null, every CASE arm 0). The one-row boundary frame rides a
    broadcast cross join, never a driver round-trip.

    Positions: ``sources/shards.with_group_shuffled_index`` — the
    two-level hash-prefix prefix sum, so no single-reducer-per-bucket
    stage even though there are only 4 buckets (the naive window would
    put a QUARTER of a 100 TB corpus on one reducer).
    Shuffle inventory: one tiny percentile agg (map-side partials),
    one count agg + broadcast (buckets x 256 rows), one shuffle keyed
    by (bucket, hash-prefix) for the ranking window.
    """
    bounds = df.agg(
        *[
            F.round(
                F.expr(f"percentile(`n_tokens`, {i / 4!r})"), 6
            ).alias(f"__b{i}")
            for i in range(1, 4)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, 4):
        bucket = bucket + F.when(F.col("n_tokens") > F.col(f"__b{i}"), 1).otherwise(0)
    bucketed = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket.cast("int"))
        .drop(*[f"__b{i}" for i in range(1, 4)])
    )
    from bigdata_commerce_spark.sources.shards import with_group_shuffled_index

    return with_group_shuffled_index(
        bucketed, ["bucket"]
    )
