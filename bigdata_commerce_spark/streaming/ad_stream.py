"""Real-time ad-click analytics on Structured Streaming (reqs 7-10).

The reference runs these on 5-second DStream micro-batches over Kafka
(``adversStat/src/main/scala/AdverStat.scala``) with MySQL point
reads/writes scattered across driver and executors. Here the whole
topology is declarative:

    source -> parse -> foreachBatch:
        anti-join against the blacklist state (read before this epoch)
        -> four sinks (blacklist gen / cumulative / top-3 / trend)

Semantic upgrades over the reference (SURVEY.md §2.9): event-time
sliding windows assigned per batch instead of processing-time
``reduceByKeyAndWindow``; retry-safe idempotent epoch sinks instead of
read-modify-write JDBC. The blacklist is one lazy state read per
batch, joined into the batch, not a DB point lookup per record.
There is no watermark: all state is sink-side, so late rows
fold in exactly.

Sources are pluggable: Kafka in production
(``spark.readStream.format('kafka')`` — same parse function), file /
rate sources in tests (Kafka brokers aren't available here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference wire format: space-delimited text lines
# "timestamp province city userid adid" (``MockRealTimeData.scala:29-39``).
AD_LOG_FIELDS = ("ts_ms", "province", "city", "user_id", "ad_id")

AD_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("event_date", T.DateType(), True),
        T.StructField("province", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("ad_id", T.LongType(), True),
    ]
)


def parse_ad_log(lines: DataFrame) -> DataFrame:
    """Parse the reference's positional text lines into typed columns
    (replaces ``AdverStat.scala:97-103``'s split-at-every-use; fixes
    SURVEY.md §2.12/6 — epoch millis parsed as a number, not
    ``new Date(String)``). Positions come from AD_LOG_FIELDS so a
    wire-format change edits ONE constant, not hardcoded indices.

    Total over garbage wire data: fields come out of the split via
    get() (NULL past the end — getItem ANSI-aborts on a SHORT line)
    and numerics via try_cast, never cast (a plain cast ANSI-aborts
    on a non-numeric token). Either abort is fatal for a stream in a
    way it isn't for batch: the restarted query re-reads the SAME
    poisoned offset and dies again, wedging the pipeline permanently.
    Garbage parses to NULL fields (NULL event_time/keys), which
    downstream groupings keep as an observable 'unattributed'
    bucket."""
    parts = F.split(F.col("value").cast("string"), " ")
    pos = {name: F.get(parts, i) for i, name in enumerate(AD_LOG_FIELDS)}
    ts = F.timestamp_millis(pos["ts_ms"].try_cast("bigint"))
    return lines.select(
        ts.alias("event_time"),
        F.to_date(ts).alias("event_date"),
        pos["province"].alias("province"),
        pos["city"].alias("city"),
        pos["user_id"].try_cast("bigint").alias("user_id"),
        pos["ad_id"].try_cast("bigint").alias("ad_id"),
    )


def without_blacklisted(stream: DataFrame, blacklist: DataFrame) -> DataFrame:
    """Left-anti join of one micro-batch against the blacklist state
    that ``run_ad_pipeline`` reads inside ``foreachBatch`` before the
    batch's epoch: the reference's per-batch blacklist re-read
    (``AdverStat.scala:54-69``)."""
    return stream.join(blacklist.select("user_id"), "user_id", "left_anti")


def sliding_windows(events: DataFrame) -> DataFrame:
    """Req 10's window assignment: each row with a non-NULL
    ``event_time`` once per 60-minute window, sliding by 1 minute, that
    contains it, with ``window_start``/``window_end`` columns — what
    ``F.window("event_time", "60 minutes", "1 minute")`` assigns. The
    starts are the time floored to the minute (epoch-aligned, as
    F.window's are) minus k minutes for k in 0..59, generated by
    ``explode(sequence(...))``. F.window plans the same assignment as a
    60-way ``Expand``; in the ad topology every steady micro-batch then
    recompiled 26 generated classes that Spark's 100-entry codegen
    cache had evicted; with this form, at local[4], it recompiles none."""
    minute_us = 60_000_000
    t = F.unix_micros(F.col("event_time"))
    last = t - F.pmod(t, F.lit(minute_us))
    start = F.col("window_start")
    return (
        events.where(F.col("event_time").isNotNull())
        .withColumn(
            "window_start",
            F.explode(F.sequence(last - F.lit(59 * minute_us), last, F.lit(minute_us))),
        )
        .withColumn("window_end", F.timestamp_micros(start + F.lit(60 * minute_us)))
        .withColumn("window_start", F.timestamp_micros(start))
    )
