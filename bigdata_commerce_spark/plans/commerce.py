"""The reference's ten requirements as a library API over the
commerce schema — what a user of hmProgramer/bigdata_commerce would
call after switching engines.

Entry shapes mirror the reference's three pipelines (SURVEY.md §3):
session batch (reqs 1-4, ``SessionStat.scala:23-92``), funnel (req 5),
area top-3 (req 6); reqs 7-10 live in streaming/. Each function is
DataFrame -> DataFrame, composable, and stays inside Catalyst
end-to-end — no RDD hops, no concat-string records, no accumulators.

Task parameters (``commons.properties:23-32``, JSON task params) are a
plain dataclass; the dynamic multi-predicate session filter
(``SessionStat.scala:519-578`` + ``ValidUtils``) composes Column
predicates and computes its histogram metrics as a separate
aggregation instead of accumulator side effects inside a filter
(retry-unsafe, SURVEY.md §2.12/1).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.funnel import funnel_counts
from bigdata_commerce_spark.operators.sessionize import (
    stratified_session_sample,
    visit_step_histogram,
)
from bigdata_commerce_spark.operators.topk import global_top_k, top_k_per_group


@dataclass
class TaskParams:
    """JSON task params of the reference (``Constants.scala:72-82``)."""

    start_date: str | None = None
    end_date: str | None = None
    start_age: int | None = None
    end_age: int | None = None
    professionals: list[str] = field(default_factory=list)
    cities: list[str] = field(default_factory=list)
    sex: str | None = None
    keywords: list[str] = field(default_factory=list)
    category_ids: list[int] = field(default_factory=list)
    target_page_flow: list[int] = field(default_factory=list)
    task_id: str = field(default_factory=lambda: str(uuid.uuid4()))


def with_task_id(df: DataFrame, params: TaskParams) -> DataFrame:
    """Every output row stamped with the run's task UUID
    (``SessionStat.scala:32`` et al.)."""
    return df.withColumn("task_id", F.lit(params.task_id))


def filter_actions_by_date(actions: DataFrame, params: TaskParams) -> DataFrame:
    """Date-range scan predicate (``SessionStat.scala:701-710``) —
    expressed on the typed column so it pushes down to parquet and
    prunes date partitions."""
    out = actions
    if params.start_date:
        out = out.where(F.col("action_date") >= F.lit(params.start_date).cast("date"))
    if params.end_date:
        out = out.where(F.col("action_date") <= F.lit(params.end_date).cast("date"))
    return out


def session_full_info(actions: DataFrame, user_info: DataFrame) -> DataFrame:
    """Per-session aggregate joined with user attributes — the
    ``k=v|k=v`` concat-string record of the reference
    (``SessionStat.scala:618-697``) as real columns. One hash
    aggregate + one broadcast-able dimension join."""
    agg = actions.groupBy("session_id").agg(
        F.min("user_id").alias("user_id"),
        F.min("action_time").alias("start_time"),
        F.max("action_time").alias("end_time"),
        F.count(F.lit(1)).alias("step_length"),
        (
            F.unix_timestamp(F.max("action_time")) - F.unix_timestamp(F.min("action_time"))
        ).alias("visit_length"),
        F.array_sort(F.collect_set("search_keyword")).alias("search_keywords"),
        F.array_sort(F.collect_set("click_category_id")).alias("click_category_ids"),
    )
    return agg.join(F.broadcast(user_info), "user_id", "inner")


def filter_sessions(sessions: DataFrame, params: TaskParams) -> DataFrame:
    """Dynamic multi-predicate filter (``ValidUtils.between/in/equal``,
    ``Utils.scala:308-382``): age range, professional/city membership,
    sex equality, keyword and category overlap — composed Column
    predicates Catalyst can reorder and push."""
    out = sessions
    if params.start_age is not None:
        out = out.where(F.col("age") >= params.start_age)
    if params.end_age is not None:
        out = out.where(F.col("age") <= params.end_age)
    if params.professionals:
        out = out.where(F.col("professional").isin(params.professionals))
    if params.cities:
        out = out.where(F.col("city").isin(params.cities))
    if params.sex:
        out = out.where(F.col("sex") == params.sex)
    if params.keywords:
        kw = F.array(*[F.lit(k) for k in params.keywords])
        out = out.where(F.arrays_overlap("search_keywords", kw))
    if params.category_ids:
        cid = F.array(*[F.lit(int(c)).cast("bigint") for c in params.category_ids])
        out = out.where(F.arrays_overlap("click_category_ids", cid))
    return out


# --------------------------------------------------------------------------
# Req 1 + 2 (SessionStat reqs)
# --------------------------------------------------------------------------


def session_aggr_stats(filtered_sessions: DataFrame, params: TaskParams) -> DataFrame:
    """Req 1: one-row visit/step histogram over the filtered sessions
    (conditional aggregation; intended semantics per SURVEY.md §2.12)."""
    return with_task_id(visit_step_histogram(filtered_sessions), params)


def session_random_extract(
    filtered_sessions: DataFrame, params: TaskParams
) -> DataFrame:
    """Req 2: deterministic proportional per-(day, hour) extraction."""
    return with_task_id(
        stratified_session_sample(filtered_sessions), params
    )


# --------------------------------------------------------------------------
# Req 3 + 4
# --------------------------------------------------------------------------


def actions_of_sessions(actions: DataFrame, filtered_sessions: DataFrame) -> DataFrame:
    """Restrict actions to surviving sessions — left-semi join
    (the reference inner-joins and rebuilds the tuple,
    ``SessionStat.scala:79-82``)."""
    return actions.join(
        filtered_sessions.select("session_id"), "session_id", "left_semi"
    )


def top10_categories(actions: DataFrame, params: TaskParams) -> DataFrame:
    """Req 3: top-10 categories by (click, order, pay) counts with
    lexicographic tiebreak. One union + one aggregate replaces three
    reduceByKey pipelines + three leftOuterJoins
    (``SessionStat.scala:241-312``); CSV id lists explode in-plan."""
    clicks = actions.where(F.col("click_category_id").isNotNull()).select(
        F.col("click_category_id").alias("category_id"), F.lit("click").alias("kind")
    )
    orders = actions.where(F.col("order_category_ids").isNotNull()).select(
        F.explode("order_category_ids").alias("category_id"), F.lit("order").alias("kind")
    )
    pays = actions.where(F.col("pay_category_ids").isNotNull()).select(
        F.explode("pay_category_ids").alias("category_id"), F.lit("pay").alias("kind")
    )
    counts = (
        clicks.unionByName(orders)
        .unionByName(pays)
        .groupBy("category_id")
        .agg(
            F.sum(F.when(F.col("kind") == "click", 1).otherwise(0)).alias("click_count"),
            F.sum(F.when(F.col("kind") == "order", 1).otherwise(0)).alias("order_count"),
            F.sum(F.when(F.col("kind") == "pay", 1).otherwise(0)).alias("pay_count"),
        )
    )
    top = global_top_k(
        counts,
        [
            F.desc("click_count"),
            F.desc("order_count"),
            F.desc("pay_count"),
            F.asc("category_id"),
        ],
        10,
    )
    return with_task_id(top, params)


def top10_sessions_per_category(
    actions: DataFrame, top_categories: DataFrame, params: TaskParams
) -> DataFrame:
    """Req 4: per top-10 category, the 10 sessions with the most
    clicks (ranking window replaces groupByKey + in-memory sort,
    ``SessionStat.scala:95-161``)."""
    per_session = (
        actions.where(F.col("click_category_id").isNotNull())
        .join(
            F.broadcast(top_categories.select(F.col("category_id"))),
            F.col("click_category_id") == F.col("category_id"),
            "left_semi",
        )
        .groupBy(F.col("click_category_id").alias("category_id"), "session_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    top = top_k_per_group(
        per_session,
        ["category_id"],
        [F.desc("click_count"), F.asc("session_id")],
        k=10,
    )
    return with_task_id(top, params)


# --------------------------------------------------------------------------
# Req 5
# --------------------------------------------------------------------------


def page_convert_rate(
    spark: SparkSession, actions: DataFrame, params: TaskParams
) -> DataFrame:
    """Req 5: single-step conversion along params.target_page_flow
    (lead window; missing transitions are 0 — fixes §2.12/9).

    tiebreak on page_id: user_visit_action has second-granularity
    timestamps and no unique action id, so same-second actions in one
    session are real; without a tiebreak the lead() ordering — and
    therefore the transition counts — would be partition-order
    nondeterministic (the catalog's page_funnel passes event_id for
    the same reason)."""
    flow = [str(p) for p in params.target_page_flow]
    out = funnel_counts(
        spark,
        actions,
        flow,
        session_col="session_id",
        ts_col="action_time",
        page_col="page_id",
        tiebreak_col="page_id",
    )
    return with_task_id(out, params)


# --------------------------------------------------------------------------
# Req 6
# --------------------------------------------------------------------------


def area_top3_products(
    actions: DataFrame,
    product_info: DataFrame,
    city_info: DataFrame,
    params: TaskParams,
) -> DataFrame:
    """Req 6 (``AreaTop3Stat.scala:15-123``): top-3 clicked products
    per area with the distinct city list, JSON-decoded product status
    and area banding. get_json_object / collect_set+array_join /
    when-otherwise replace the reference's three bespoke UDFs (whose
    UDAF forgot cross-partition dedup — §2.12/7); dims broadcast."""
    clicks = actions.where(F.col("click_product_id").isNotNull()).select(
        "city_id", F.col("click_product_id").alias("product_id")
    )
    basic = clicks.join(F.broadcast(city_info), "city_id")
    counts = basic.groupBy("area", "product_id").agg(
        F.count(F.lit(1)).alias("click_count"),
        F.array_join(
            F.array_sort(
                F.collect_set(F.concat_ws(":", F.col("city_id"), F.col("city_name")))
            ),
            ",",
        ).alias("city_infos"),
    )
    ranked = top_k_per_group(
        counts, ["area"], [F.desc("click_count"), F.asc("product_id")], k=3
    )
    enriched = ranked.join(F.broadcast(product_info), "product_id").select(
        "area",
        F.when(F.col("area").isin("North", "East"), "A")
        .when(F.col("area").isin("South", "Center"), "B")
        .otherwise("C")
        .alias("area_level"),
        "product_id",
        "product_name",
        F.when(
            F.get_json_object("extend_info", "$.product_status") == "0", "Self"
        )
        .otherwise("Third Party")
        .alias("product_status"),
        "click_count",
        "city_infos",
        "rank",
    )
    return with_task_id(enriched, params)
