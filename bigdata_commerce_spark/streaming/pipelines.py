"""Wired streaming pipelines: source -> transforms -> epoch sinks.

``run_ad_pipeline`` is the full topology of reference reqs 7-10 over
any streaming DataFrame of parsed ad events. Tests drive it with a
file source (maxFilesPerTrigger=1 -> one micro-batch per file);
production points the same function at a Kafka source.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import adstats
from bigdata_commerce_spark.streaming import ad_stream, sinks


@dataclass
class AdPipelineHandles:
    """Running queries + the state backend (read state via
    ``backend.read_state(name)``, locate it via
    ``backend.state_location(name)``)."""

    queries: list
    backend: object

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def process_all(self) -> None:
        for q in self.queries:
            q.processAllAvailable()


def run_ad_pipeline(
    events: DataFrame,
    work_dir: str,
    blacklist_threshold: int = 100,
    backend=None,
) -> AdPipelineHandles:
    """Start the reqs 7-10 topology as ONE streaming query whose batch
    function fans out to the four state tables.

    Matches the reference's shape (``AdverStat.scala:54-69``): every
    micro-batch is first anti-joined against the *current* blacklist
    state, and all four branches consume the filtered batch — the
    feedback loop the reference gets by re-reading MySQL per batch. A
    user blacklisted in batch N is excluded from batch N+1 onward (the
    blacklist is read strictly *before* the current epoch, so replays
    re-derive identical content).

    One query instead of three also means the source is scanned once
    per batch and all sink epochs share the batch's epoch id — at
    cluster scale that's one Kafka read instead of three and a single
    checkpoint lineage. ``events`` must match AD_EVENT_SCHEMA (use
    parse_ad_log for raw text lines). No watermark parameter: the
    foreachBatch topology keeps ALL state sink-side (additive epoch
    merges), so late rows fold in exactly and there is no streaming
    aggregation state for a watermark to bound — an earlier signature
    accepted one and silently ignored it.

    ``backend`` selects the state store: default is the parquet epoch
    store under ``work_dir``; pass a ``jdbc_state.JdbcStateBackend``
    to land the same topology in a MERGE-capable database (the
    reference's MySQL shape) — the merge algebra is identical.

    Trigger sizing (measured on a 4-core VM at local[4] with 4 shuffle
    partitions, over a backlog of 6 files x 1500 events): a steady
    micro-batch runs 15 Spark jobs (the five sink writes and their
    shuffle stages; the state reads submit none) and compiles no new
    code. Its cost is still almost all fixed per batch. In one warm
    process, draining the backlog one file per trigger took 20-26 s of
    CPU and 12-14 s of wall time for the 6 epochs; the same backlog as
    one trigger took 2.4-4.3 s of CPU and 1.2-2.8 s of wall time.
    Per-event work is small next to the per-batch cost, so the
    operating point is set by the freshness SLO alone. Recommendation:
    size the trigger to the largest batch the SLO allows — for a file
    source, ``file_event_source(..., max_files_per_trigger=N)`` with
    N = (SLO seconds / landing cadence); for Kafka, a processing-time
    trigger of about the SLO (e.g. ``trigger(processingTime='1
    minute')``) rather than the default as-fast-as-possible cadence,
    which burns the fixed cost on near-empty batches. Blacklist
    feedback granularity coarsens with the batch (a user crossing the
    threshold is dropped from the NEXT batch), which is the same
    trade the reference makes with its 5s Kafka cadence.
    """
    if backend is None:
        backend = sinks.ParquetStateBackend(events.sparkSession, work_dir)

    # Per-branch merge algebra (sink-side accumulation — the
    # reference's MySQL DAO semantics). Additive sinks take this
    # batch's clicks only; running totals would double-count.
    user_counts_sink = backend.accumulate_sink(
        "user_counts", ["event_date", "user_id", "ad_id"], "click_count"
    )
    blacklist_sink = backend.distinct_append_sink("blacklist", ["user_id"])
    cumulative_sink = backend.accumulate_sink(
        "cumulative", ["event_date", "province", "city", "ad_id"], "click_count"
    )
    top3_sink = backend.replace_partition_sink("top3", ["event_date", "province"])
    trend_sink = backend.accumulate_sink(
        "trend", ["window_start", "window_end", "ad_id"], "click_count"
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Blacklist feedback filter, before every branch. Read the
        # state strictly before this epoch: a replayed batch then sees
        # the same blacklist it saw the first time (idempotent), and a
        # user blacklisted by batch N starts being dropped at N+1 —
        # exactly the reference's read-MySQL-then-process ordering.
        bl = backend.read_state("blacklist", before_epoch=epoch_id)
        filtered = (
            batch_df if bl is None else ad_stream.without_blacklisted(batch_df, bl)
        ).persist()
        try:
            # The three additive sinks take per-event rows (one click
            # each) and sum them into their state in one aggregation.
            clicks = filtered.withColumn("click_count", F.lit(1).cast("long"))

            # Req 7: additive (date, user, ad) counts -> threshold ->
            # distinct blacklist, derived from the state at this epoch
            # so blacklist epochs align with count epochs.
            user_counts_sink(
                clicks.select("event_date", "user_id", "ad_id", "click_count"),
                epoch_id,
            )
            counts_state = backend.read_state("user_counts")
            blacklist_sink(
                adstats.blacklist_head(counts_state, blacklist_threshold),
                epoch_id,
            )

            # Req 8 + 9: additive (date, province, city, ad) totals;
            # province top3 recomputed from the merged state.
            cumulative_sink(
                clicks.select("event_date", "province", "city", "ad_id", "click_count"),
                epoch_id,
            )
            cum_state = backend.read_state("cumulative")
            per_province = cum_state.groupBy("event_date", "province", "ad_id").agg(
                F.sum("click_count").alias("click_count")
            )
            top3_sink(adstats.province_top3_head(per_province), epoch_id)

            # Req 10: sliding 60min/1min windows, additive per batch.
            trend = ad_stream.sliding_windows(clicks).select(
                "window_start", "window_end", "ad_id", "click_count"
            )
            trend_sink(trend, epoch_id)
        finally:
            filtered.unpersist()

    q = (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(work_dir, "ckpt", "topology"))
        .foreachBatch(process_batch)
        .start()
    )

    return AdPipelineHandles(queries=[q], backend=backend)


def file_event_source(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Test/file source producing AD_EVENT_SCHEMA batches — one
    micro-batch per file, mimicking the 5s Kafka cadence."""
    return (
        spark.readStream.schema(ad_stream.AD_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def kafka_event_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source wired to the ad-log parser — the production twin
    of file_event_source (reference ``AdverStat.scala:34-52``):
    ``kafka_event_source(spark, brokers, topic)`` is drop-in wherever
    the file source feeds run_ad_pipeline.

    Requires the spark-sql-kafka connector on the classpath (it is a
    separate artifact, not bundled with Spark):
    ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>``.
    """
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # AnalysisException: Failed to find data source
        if "kafka" in str(e).lower():
            raise RuntimeError(
                "Kafka connector not on the classpath; launch with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
                f"{spark.version}"
            ) from e
        raise
    return ad_stream.parse_ad_log(raw)
