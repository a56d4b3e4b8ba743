"""Incremental exact dedup against a persisted fingerprint store.

The batch dedup operators (operators/dedup.py) answer "which rows
inside THIS corpus duplicate each other". A production ingest loop
needs the other question: "which of today's documents are new
relative to EVERYTHING ingested before" — without rescanning or
reshuffling the historical corpus. The reference has no such notion
(its pipelines recompute from scratch every run); this is the
north-star extension shape.

Store layout: one parquet directory of fingerprints, partitioned by
the first ``PREFIX_LEN`` hex chars of the md5 fingerprint
(``fp_prefix``). That gives two scale properties:

- **Bounded reads**: the novelty anti-join only reads store
  partitions whose prefix occurs in the incoming batch. A small or
  skewed batch (one crawl slice, one tenant) touches a fraction of
  the store's files; Spark's partition pruning does the skipping
  (PartitionFilters, asserted in tests).
- **Append-only growth**: committing a batch's novel fingerprints is
  a partition-wise append — no rewrite of existing files, no
  compaction required for correctness.

The md5 prefix is uniform by construction, so the partitioning never
skews no matter how skewed the document keys are.

Within-batch duplicates are also collapsed (keep the min id per
fingerprint) so one run is idempotent end to end: running the same
batch twice yields zero novel documents the second time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.text import fingerprint

PREFIX_LEN = 2  # 16^2 = 256 store partitions


# Explicit store schema (a freshly-initialized store has zero data
# files, so inference would fail; the declaration also keeps reads
# stable as partitions appear). The id is pinned to BIGINT: a drifting
# id type would commit fine and then crash every later read, so the
# contract is enforced at the write boundary instead (see
# _fingerprints).
STORE_SCHEMA = "doc_id long, fp string, fp_prefix string"


def _fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from bigdata_commerce_spark.functions import require_integer_id

    require_integer_id(df, id_col, context="store id column")
    fp = fingerprint(text_col)
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        fp.alias("fp"),
        F.substring(fp, 1, PREFIX_LEN).alias("fp_prefix"),
    )


def init_store(spark: SparkSession, path: str) -> None:
    """Create an empty fingerprint store (schema only). Safe to call
    at every job start: an EXISTING store is left untouched — an
    overwrite would wipe the durable dedup history and re-admit every
    known duplicate, the exact failure the store exists to prevent."""
    from bigdata_commerce_spark.sources.hadoopfs import fs_and_path

    fs, hpath, _ = fs_and_path(spark, path)
    if fs.exists(hpath):
        return
    empty = spark.createDataFrame([], STORE_SCHEMA)
    empty.write.partitionBy("fp_prefix").mode("overwrite").parquet(path)


def novel_documents(df: DataFrame, store_path: str) -> DataFrame:
    """Documents in ``df`` whose normalized-text fingerprint is absent
    from the store, de-duplicated within the batch (min id per
    fingerprint wins). Returns (doc_id, fp, fp_prefix).

    Plan shape: one hash aggregate on fp for the within-batch
    collapse; the store side is a partition-pruned scan (only
    prefixes present in the batch) anti-joined on fp. The batch is
    the small side at steady state — the store never shuffles more
    than the pruned slice, and AQE broadcasts the batch when it
    fits."""
    spark = df.sparkSession
    batch = (
        _fingerprints(df, "text", "doc_id")
        .groupBy("fp", "fp_prefix")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    # Materialize the batch aggregate ONCE (eager checkpoint): the
    # prefix collect and the anti-join both consume it, and without
    # this the fingerprint projection + groupBy shuffle runs per
    # consumer. (Checkpoint rather than persist: the caller may append
    # to the store and re-execute — see commit_batch's lineage note.)
    batch = batch.localCheckpoint(eager=True)
    # Prefix pruning: the distinct prefixes of the batch are <= 256
    # rows by construction — a bounded driver-side collect that turns
    # the store read into a partition-pruned scan.
    prefixes = [r.fp_prefix for r in batch.select("fp_prefix").distinct().collect()]
    store = spark.read.schema(STORE_SCHEMA).parquet(store_path).where(
        F.col("fp_prefix").isin(prefixes)
    )
    return batch.join(store, "fp", "left_anti").select("doc_id", "fp", "fp_prefix")


def commit_batch(df: DataFrame, store_path: str) -> DataFrame:
    """One ingest step: compute the batch's novel documents, append
    their fingerprints to the store, and return them. The append is
    partition-wise (partitionBy fp_prefix, mode append): existing
    store files are never rewritten."""
    novel = novel_documents(df, store_path)
    # Read-then-append-to-the-same-path footgun: the anti-join plan
    # embeds a scan of the store as it looked BEFORE this commit
    # (including partitionSchema=[] on the very first commit, when no
    # partition dirs exist yet). persist() is NOT enough — the append
    # below refreshes the path's file index, and any later
    # re-execution of the plan (cache rebuild, a second action) sees
    # the newly-appended partition dirs under the frozen relation and
    # dies in the parquet reader's partition-values assertion
    # (measured; ParquetFileFormat partitionValues assert). An EAGER
    # localCheckpoint materializes the result and TRUNCATES the
    # lineage, so neither the append nor the caller can ever re-scan
    # the mutated path. (A multi-session production loop would
    # checkpoint to reliable storage; same idea.)
    novel = novel.localCheckpoint(eager=True)
    (
        novel.write.partitionBy("fp_prefix")
        .mode("append")
        .parquet(store_path)
    )
    return novel
