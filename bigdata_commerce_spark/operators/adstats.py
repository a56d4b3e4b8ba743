"""Ad-click analytics operators (reqs 7-10), batch form.

The reference implements these over a 5s Kafka DStream with MySQL as
mutable state (``adversStat/src/main/scala/AdverStat.scala``):
per-batch driver-side blacklist reads, per-record DB point lookups
inside filters, and ``updateStateByKey`` running totals. The batch
operators here are the exact aggregation semantics on a bounded
table; ``streaming/ad_stream.py`` wires the same logic to Structured
Streaming. Keys that the reference encodes as ``"date_user_ad"``
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


def blacklist(
    df: DataFrame,
    threshold: int = 100,
    key_cols: tuple[str, ...] = ("event_date", "user_id", "ad_id"),
    user_col: str = "user_id",
) -> DataFrame:
    """Req 7: users whose per-(date, ad) count exceeds ``threshold``
    (``AdverStat.scala:287-309`` — there a per-key MySQL point lookup
    inside a filter; here a plain aggregate + distinct)."""
    return (
        user_key_counts(df, key_cols)
        .where(F.col("click_count") > threshold)
        .select(user_col)
        .distinct()
    )


def cumulative_stats(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_date", "province", "city", "ad_id"),
) -> DataFrame:
    """Req 8: total clicks per (date, province, city, ad). Batch = one
    aggregate; streaming = stateful agg in update mode
    (``AdverStat.scala:193-247``'s updateStateByKey)."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("click_count"))


def province_top3(
    df: DataFrame,
    date_col: str = "event_date",
    province_col: str = "province",
    ad_col: str = "ad_id",
) -> DataFrame:
    """Req 9: top-3 ads per (date, province) by click count, with the
    ad id as deterministic tiebreak (the reference's broken SQL
    intends exactly this — ``AdverStat.scala:164-167``,
    SURVEY.md §2.12/5)."""
    counts = df.groupBy(date_col, province_col, ad_col).agg(
        F.count(F.lit(1)).alias("click_count")
    )
    return top_k_per_group(
        counts,
        [date_col, province_col],
        [F.desc("click_count"), F.asc(ad_col)],
        k=3,
    )


def minute_counts(
    df: DataFrame,
    ts_col: str = "ts",
    ad_col: str = "ad_id",
) -> DataFrame:
    """Tumbling per-minute counts — the oracle-checkable core of the
    trend (sliding windows are per-minute counts summed over the
    trailing 60; DuckDB checks the per-minute base)."""
    return df.groupBy(
        F.date_trunc("minute", F.col(ts_col)).alias("minute"), F.col(ad_col)
    ).agg(F.count(F.lit(1)).alias("click_count"))
