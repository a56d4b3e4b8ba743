"""Ad-click analytics operators (reqs 7-10), batch form.

The reference implements these over a 5s Kafka DStream with MySQL as
mutable state (``adversStat/src/main/scala/AdverStat.scala``):
per-batch driver-side blacklist reads, per-record DB point lookups
inside filters, and ``updateStateByKey`` running totals. The batch
operators here are the exact aggregation semantics on a bounded
table. The heads of reqs 7 and 9 are stated once: batch applies them
to counts, and the ad topology (``streaming/pipelines.py``) to its
summed state tables. Keys that the reference encodes as ``"date_user_ad"``
concat-strings are real grouping columns.

On the shared testdata the stream is the ``events`` table
(ts, user_id, event_type, value, props) — ``props.k`` plays the ad-id
role, ``event_type`` the province role where a second dimension is
needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.topk import top_k_per_group


def user_key_counts(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_date", "user_id", "ad_id"),
) -> DataFrame:
    """Click counts per (date, user, ad) — the blacklist base
    (``AdverStat.scala:250-268``)."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("click_count"))


def blacklist_head(counts: DataFrame, threshold: int) -> DataFrame:
    """Req 7 head: the distinct users of the ``click_count`` rows over
    ``threshold`` (``AdverStat.scala:287-309`` — there a per-key MySQL
    point lookup inside a filter). Batch applies it to ``count``s, the
    ad topology to its summed state."""
    return counts.where(F.col("click_count") > threshold).select("user_id").distinct()


def province_top3_head(counts: DataFrame) -> DataFrame:
    """Req 9 head: top-3 ads per (date, province) over
    (event_date, province, ad_id, click_count), with the ad id as
    deterministic tiebreak (the reference's broken SQL intends exactly
    this — ``AdverStat.scala:164-167``, SURVEY.md §2.12/5)."""
    return top_k_per_group(
        counts,
        ["event_date", "province"],
        [F.desc("click_count"), F.asc("ad_id")],
        k=3,
    )


def blacklist(
    df: DataFrame,
    threshold: int = 100,
    key_cols: tuple[str, ...] = ("event_date", "user_id", "ad_id"),
) -> DataFrame:
    """Req 7 in batch: users whose per-(date, ad) count exceeds
    ``threshold``."""
    return blacklist_head(user_key_counts(df, key_cols), threshold)


def cumulative_stats(df: DataFrame) -> DataFrame:
    """Req 8: total clicks per (date, province, city, ad). Batch = one
    aggregate; streaming = stateful agg in update mode
    (``AdverStat.scala:193-247``'s updateStateByKey)."""
    return df.groupBy("event_date", "province", "city", "ad_id").agg(
        F.count(F.lit(1)).alias("click_count")
    )


def province_top3(df: DataFrame) -> DataFrame:
    """Req 9 in batch: the top-3 head over per-(date, province, ad)
    click counts."""
    return province_top3_head(
        df.groupBy("event_date", "province", "ad_id").agg(
            F.count(F.lit(1)).alias("click_count")
        )
    )


def minute_counts(df: DataFrame) -> DataFrame:
    """Tumbling per-minute counts — the oracle-checkable core of the
    trend (sliding windows are per-minute counts summed over the
    trailing 60; DuckDB checks the per-minute base)."""
    return df.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute"), F.col("ad_id")
    ).agg(F.count(F.lit(1)).alias("click_count"))
