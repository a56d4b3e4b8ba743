"""Query catalog: every implemented operator as a named query over the
shared testdata, paired with its ANSI-SQL (DuckDB) oracle.

Keeping the Spark implementation and the oracle SQL adjacent is the
engine's test strategy (SURVEY.md §5): the oracle encodes *intended*
semantics (including where the reference is buggy — SURVEY.md §2.12),
and the driver hash-compares results at sf0.01.

Mapping of the reference's commerce schema onto the testdata:
- ``events`` (ts, user_id, event_type, value, props) plays the
  user-action/ad-click stream; ``props.k`` is the ad/category id;
  ``p<user_id%10>`` a derived province dimension.
- TPC-H tables exercise the relational surface (the reference's
  area/product analysis maps to region/nation/part).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.functions import money_avg, money_sum, ratio
from bigdata_commerce_spark.operators import adstats
from bigdata_commerce_spark.operators.funnel import funnel_counts
from bigdata_commerce_spark.operators.sessionize import (
    session_aggregates,
    sessionize,
    stratified_session_sample,
    visit_step_histogram,
)
from bigdata_commerce_spark.operators.topk import global_top_k, top_k_per_group
from bigdata_commerce_spark.plans.registry import query, twin_query
from bigdata_commerce_spark.sources.testdata import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized event stream: ad_id from the JSON props, derived
    province/city dims, event_date (reference parses positional text
    lines — ``AdverStat.scala:97-103``; here typed columns)."""
    return (
        load_table(spark, "events", sf_dir)
        # try_cast, not cast: a 100 TB event feed WILL contain
        # {"k": "garbage"} rows, and under ANSI mode a plain cast
        # aborts the whole job for one bad payload. Non-numeric and
        # missing k become NULL ad_id (dropped by the notNull filters
        # downstream) — total, like the rest of the ingest layer.
        .withColumn("ad_id", F.get_json_object("props", "$.k").try_cast("int"))
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("province", F.concat(F.lit("p"), (F.col("user_id") % 10).cast("string")))
        .withColumn("city", F.concat(F.lit("c"), (F.col("user_id") % 100).cast("string")))
    )


_EVENTS_ORACLE_CTE = """
events_n AS (
    SELECT *,
           TRY_CAST(CASE WHEN json_valid(props)
                         THEN json_extract_string(props, '$.k') END AS INT) AS ad_id,
           CAST(ts AS DATE) AS event_date,
           'p' || CAST(user_id % 10 AS VARCHAR) AS province,
           'c' || CAST(user_id % 100 AS VARCHAR) AS city
    FROM events
)
"""

# ---------------------------------------------------------------------------
# Relational suite (scan/filter/agg/join/sort — SURVEY.md §2.1-2.6)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(l_quantity), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(l_extendedprice), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan + filter + hash aggregate. The filter and
    the two-column grouping push to the parquet scan; decimal-exact
    sums keep the result hash-stable (see functions.money_sum).

    The double->decimal addend casts are BOUND once per row in a
    projection below the aggregate (functions.money_dec): sum and avg
    of the same column otherwise each carry their own
    cast(x as decimal(30,8)) input expression and codegen CSE only
    partially dedups the Double.toString+BigDecimal parse — the
    expensive step of the whole query (the decimal tax decomposition
    in OPTIMIZATION_r12.md). Addends, counts and rounding are the
    byte-identical money_sum/money_avg expressions over bound inputs."""
    from bigdata_commerce_spark.functions import money_avg_dec, money_dec, money_sum_dec

    li = load_table(spark, "lineitem", sf_dir)
    bound = li.where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        money_dec(F.col("l_quantity")).alias("__qty_dec"),
        money_dec(F.col("l_extendedprice")).alias("__price_dec"),
        money_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "__disc_price_dec"
        ),
        money_dec(F.col("l_discount")).alias("__disc_dec"),
    )
    return bound.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum_dec(F.col("__qty_dec")).alias("sum_qty"),
        money_sum_dec(F.col("__price_dec")).alias("sum_base_price"),
        money_sum_dec(F.col("__disc_price_dec")).alias("sum_disc_price"),
        money_avg_dec(F.col("__qty_dec"), F.col("l_quantity")).alias("avg_qty"),
        money_avg_dec(F.col("__price_dec"), F.col("l_extendedprice")).alias("avg_price"),
        money_avg_dec(F.col("__disc_dec"), F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@twin_query(
    "top_orders_by_revenue",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped multi-join + agg + global top-k with secondary
    sort (replaces SortKey + sortByKey().take(10),
    ``SessionStat.scala:205-214``): plans as TakeOrderedAndProject;
    customer dim broadcasts."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, "customer", sf_dir).where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_shipdate") > cutoff)
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "inner"
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return global_top_k(
        agg.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
        [F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")],
        10,
    )


# The DataFrame form and the SQL-surface form (region_top3_parts_sql)
# must give byte-identical results: one oracle for both.
_REGION_TOP3_ORACLE = """
    WITH basic AS (
        SELECT r_name AS area, n_name AS nation, l_partkey
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    ), counts AS (
        SELECT area, l_partkey,
               COUNT(*) AS order_count,
               STRING_AGG(DISTINCT nation, ',' ORDER BY nation) AS nation_list
        FROM basic GROUP BY area, l_partkey
    ), ranked AS (
        SELECT area, l_partkey, order_count, nation_list,
               ROW_NUMBER() OVER (PARTITION BY area ORDER BY order_count DESC, l_partkey ASC) AS rank
        FROM counts
    )
    SELECT ranked.area,
           CASE WHEN ranked.area IN ('ASIA', 'EUROPE') THEN 'A'
                WHEN ranked.area = 'AMERICA' THEN 'B'
                ELSE 'C' END AS area_level,
           ranked.l_partkey, p_name, order_count, nation_list, rank
    FROM ranked JOIN part ON ranked.l_partkey = p_partkey
    WHERE rank <= 3
    """


@query("region_top3_parts", oracle=_REGION_TOP3_ORACLE)
def region_top3_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req-6 analog (AreaTop3Stat — ``AreaTop3Stat.scala:15-123``):
    top-3 parts per region with the distinct nation list and a CASE
    area band. collect_set+sort+array_join replaces the reference's
    GroupConcatDistinct UDAF (whose cross-partition merge forgot to
    dedupe — SURVEY.md §2.12/7); dims broadcast-join."""
    li = load_table(spark, "lineitem", sf_dir).select("l_suppkey", "l_partkey")
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nat = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    reg = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_name")

    # Nation-list as a BITMASK aggregate (optimization round 13, guide
    # §2.3 "shuffle keys and metadata instead of payloads"): nation is
    # a config-scale dimension (25 rows), so the distinct-nation set
    # per (area, part) fits one int64 of bits. bit_or over
    # 1<<n_nationkey keeps the aggregate a pure HashAggregate with an
    # 8-byte buffer — collect_set shuffled partial STRING SETS through
    # an ObjectHashAggregate — and the name list is decoded after the
    # aggregate from a name-sorted literal table (the funnel-spec /
    # centroid bounded-collect pattern; 25 rows, build-time).
    # Identical output: the literal table holds one entry per distinct
    # non-NULL name (the OR of its keys' bits), and filter() preserves
    # its name-ascending order, so the joined string equals
    # array_join(array_sort(collect_set(nation)), ",").
    nat_rows = nat.select("n_nationkey", "n_name").collect()
    mask_safe = bool(nat_rows) and all(
        r[0] is not None and 0 <= int(r[0]) < 63 for r in nat_rows
    )
    name_masks: dict[str, int] = {}
    if mask_safe:
        for key, name in nat_rows:
            if name is not None:
                name_masks[name] = name_masks.get(name, 0) | (1 << int(key))
    if name_masks:
        name_table = F.array(
            *[
                F.struct(F.lit(m).cast("long").alias("m"), F.lit(nm).alias("nm"))
                for nm, m in sorted(name_masks.items())
            ]
        )
        basic = (
            li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .select(
                F.col("r_name").alias("area"),
                F.expr("shiftleft(CAST(1 AS BIGINT), n_nationkey)").alias("__nbit"),
                "l_partkey",
            )
        )
        counts = (
            basic.groupBy("area", "l_partkey")
            .agg(
                F.count(F.lit(1)).alias("order_count"),
                F.bit_or("__nbit").alias("__nmask"),
            )
            .select(
                "area",
                "l_partkey",
                "order_count",
                F.array_join(
                    F.transform(
                        F.filter(
                            name_table,
                            lambda s: F.col("__nmask").bitwiseAND(s["m"]) != 0,
                        ),
                        lambda s: s["nm"],
                    ),
                    ",",
                ).alias("nation_list"),
            )
        )
    else:  # nation keys outside [0, 63) or no names — the set form
        basic = (
            li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .select(
                F.col("r_name").alias("area"), F.col("n_name").alias("nation"), "l_partkey"
            )
        )
        counts = basic.groupBy("area", "l_partkey").agg(
            F.count(F.lit(1)).alias("order_count"),
            F.array_join(F.array_sort(F.collect_set("nation")), ",").alias("nation_list"),
        )
    ranked = top_k_per_group(
        counts, ["area"], [F.desc("order_count"), F.asc("l_partkey")], k=3
    )
    return ranked.join(F.broadcast(part), ranked.l_partkey == part.p_partkey).select(
        "area",
        F.when(F.col("area").isin("ASIA", "EUROPE"), "A")
        .when(F.col("area") == "AMERICA", "B")
        .otherwise("C")
        .alias("area_level"),
        "l_partkey",
        "p_name",
        "order_count",
        "nation_list",
        "rank",
    )


# ---------------------------------------------------------------------------
# Session suite (reqs 1-2 — SessionStat)
# ---------------------------------------------------------------------------

_SESSION_CTE = """
ordered AS (
    SELECT user_id, ts,
           epoch_us(ts) AS tus,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_tus
    FROM events
), flagged AS (
    SELECT user_id, ts, tus,
           CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END AS brk
    FROM ordered
), sess AS (
    SELECT user_id, ts,
           CAST(user_id AS VARCHAR) || '_' ||
           CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS session_id
    FROM flagged
), session_agg AS (
    SELECT session_id,
           MIN(user_id) AS user_id,
           MIN(ts) AS start_time,
           MAX(ts) AS end_time,
           COUNT(*) AS step_length,
           CAST(FLOOR(epoch_us(MAX(ts)) / 1000000) - FLOOR(epoch_us(MIN(ts)) / 1000000) AS BIGINT) AS visit_length
    FROM sess GROUP BY session_id
)
"""


def _session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    return session_aggregates(sessionize(ev))


# generated: every band shares the functions.ratio contract (zero
# sessions -> 0.0 ratios, reference Utils.formatDouble), which a bare
# x/COUNT(*) would violate on an empty corpus (NULL in DuckDB)
_HISTOGRAM_BANDS = [
    ("visit_ratio_1s_3s", "visit_length BETWEEN 1 AND 3"),
    ("visit_ratio_4s_6s", "visit_length BETWEEN 4 AND 6"),
    ("visit_ratio_7s_9s", "visit_length BETWEEN 7 AND 9"),
    ("visit_ratio_10s_30s", "visit_length BETWEEN 10 AND 30"),
    ("visit_ratio_30s_60s", "visit_length BETWEEN 31 AND 60"),
    ("visit_ratio_1m_3m", "visit_length BETWEEN 61 AND 180"),
    ("visit_ratio_3m_10m", "visit_length BETWEEN 181 AND 600"),
    ("visit_ratio_10m_30m", "visit_length BETWEEN 601 AND 1800"),
    ("visit_ratio_30m", "visit_length >= 1801"),
    ("step_ratio_1_3", "step_length BETWEEN 1 AND 3"),
    ("step_ratio_4_6", "step_length BETWEEN 4 AND 6"),
    ("step_ratio_7_9", "step_length BETWEEN 7 AND 9"),
    ("step_ratio_10_30", "step_length BETWEEN 10 AND 30"),
    ("step_ratio_30_60", "step_length BETWEEN 31 AND 60"),
    ("step_ratio_60", "step_length >= 61"),
]

_HISTOGRAM_SELECT = "SELECT COUNT(*) AS session_count,\n" + ",\n".join(
    f"       CASE WHEN COUNT(*) = 0 THEN 0.0 ELSE "
    f"ROUND(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 2) "
    f"END AS {name}"
    for name, cond in _HISTOGRAM_BANDS
) + "\nFROM session_agg"


@twin_query(
    "sessionize_skew_bounded",
    oracle=f"WITH {_SESSION_CTE} SELECT user_id, ts, session_id FROM sess",
)
def sessionize_skew_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-bucketized (skew-bounded) sessionizer against the SAME
    lag+running-sum oracle the exact path answers to — the operator's
    bucket_seconds path must emit identical session ids (round-5 skew
    probe: exact 5.8x under a 30%-hot key, bucketized 0.9x)."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    return sessionize(ev, bucket_seconds=3600)


@query("session_stats", oracle=f"WITH {_SESSION_CTE} {_HISTOGRAM_SELECT}")
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 1: gap-sessionize the event stream, then the one-row
    visit/step histogram as a single conditional aggregation
    (replaces the SessionAccumulator — intended semantics per
    SURVEY.md §2.12/1-2)."""
    return visit_step_histogram(_session_agg(spark, sf_dir))


@twin_query(
    "session_extract",
    oracle=f"""
    WITH {_SESSION_CTE},
    keyed AS (
        SELECT *, CAST(start_time AS DATE) AS s_date, EXTRACT(hour FROM start_time) AS s_hour
        FROM session_agg
    ), quotas AS (
        SELECT *,
               COUNT(*) OVER (PARTITION BY s_date, s_hour) AS hour_count,
               COUNT(*) OVER (PARTITION BY s_date) AS day_count,
               ROW_NUMBER() OVER (PARTITION BY s_date, s_hour ORDER BY md5(session_id)) AS pick
        FROM keyed
    )
    SELECT session_id, user_id, start_time, end_time, step_length, visit_length,
           s_date, CAST(s_hour AS INT) AS s_hour
    FROM quotas
    WHERE pick <= GREATEST(FLOOR(hour_count * 100.0 / day_count), 1)
    """,
)
def session_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 2: proportional per-(day, hour) session sample, 100/day,
    deterministic via md5 ranking (replaces driver-side random index
    lists + broadcast + groupByKey — ``SessionStat.scala:314-454``)."""
    out = stratified_session_sample(_session_agg(spark, sf_dir))
    return out.select(
        "session_id",
        "user_id",
        "start_time",
        "end_time",
        "step_length",
        "visit_length",
        "s_date",
        F.col("s_hour").cast("int").alias("s_hour"),
    )


# ---------------------------------------------------------------------------
# Category suite (reqs 3-4 — SessionStat top10)
# ---------------------------------------------------------------------------


@twin_query(
    "top_categories",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT ad_id AS category_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS order_count,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count
    FROM events_n
    GROUP BY ad_id
    ORDER BY click_count DESC, order_count DESC, view_count DESC, category_id ASC
    LIMIT 10
    """,
)
def top_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 3: top-10 categories by (click, order, view) counts with
    lexicographic secondary sort. One conditional aggregate replaces
    the reference's three reduceByKey pipelines + three leftOuterJoins
    (``SessionStat.scala:241-312``); JSON category id decoded in-plan
    via get_json_object."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy(F.col("ad_id").alias("category_id")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click_count"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("order_count"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view_count"),
    )
    return global_top_k(
        agg,
        [
            F.desc("click_count"),
            F.desc("order_count"),
            F.desc("view_count"),
            F.asc("category_id"),
        ],
        10,
    )


@twin_query(
    "top_users_per_category",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE},
    top_cats AS (
        SELECT ad_id AS category_id,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click_count,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS order_count,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view_count
        FROM events_n GROUP BY ad_id
        ORDER BY click_count DESC, order_count DESC, view_count DESC, category_id ASC
        LIMIT 10
    ), user_counts AS (
        SELECT ad_id AS category_id, user_id, COUNT(*) AS click_count
        FROM events_n
        WHERE event_type = 'click'
          AND ad_id IN (SELECT category_id FROM top_cats)
        GROUP BY ad_id, user_id
    )
    SELECT category_id, user_id, click_count, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY category_id
                    ORDER BY click_count DESC, user_id ASC) AS rank
        FROM user_counts
    ) WHERE rank <= 10
    """,
)
def top_users_per_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 4: per top-10 category, the top-10 most active users
    (sessions in the reference). Left-semi join against the top-10
    set + ranking window replaces groupByKey + in-memory sort
    (``SessionStat.scala:95-161``)."""
    ev = _events(spark, sf_dir)
    top_cats = top_categories(spark, sf_dir).select(F.col("category_id"))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("ad_id").alias("category_id"), "user_id")
        .join(F.broadcast(top_cats), "category_id", "left_semi")
        .groupBy("category_id", "user_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    return top_k_per_group(
        clicks, ["category_id"], [F.desc("click_count"), F.asc("user_id")], k=10
    )


# ---------------------------------------------------------------------------
# Funnel (req 5 — PageOneStepConvertRate)
# ---------------------------------------------------------------------------

_FLOW = ("view", "click", "purchase")


@twin_query(
    "page_funnel",
    oracle="""
    WITH trans AS (
        SELECT event_type AS from_page,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_page
        FROM events
    ), counts AS (
        SELECT from_page, to_page, COUNT(*) AS split_count
        FROM trans WHERE to_page IS NOT NULL GROUP BY 1, 2
    ), spec(from_page, to_page, step) AS (
        VALUES ('view', 'click', 1), ('click', 'purchase', 2)
    ), start AS (
        SELECT COUNT(*) AS start_count FROM events WHERE event_type = 'view'
    )
    SELECT spec.step,
           spec.from_page || '_' || spec.to_page AS split,
           COALESCE(counts.split_count, 0) AS split_count,
           -- functions.ratio contract (reference Utils.formatDouble):
           -- zero denominator -> 0.0 rate, not NULL
           CASE WHEN start_count = 0 THEN 0.0
                ELSE ROUND(COALESCE(counts.split_count, 0) * 1.0 / start_count, 2)
           END AS rate_vs_start
    FROM spec LEFT JOIN counts USING (from_page, to_page) CROSS JOIN start
    """,
)
def page_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 5: single-step conversion along view->click->purchase.
    lead() window replaces per-session sort+zip
    (``PageOneStepConvertRate.scala:44-99``); missing transitions are
    0 (fixes SURVEY.md §2.12/9)."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id", "event_type")
    return funnel_counts(
        spark,
        ev,
        _FLOW,
        session_col="user_id",
        ts_col="ts",
        page_col="event_type",
        tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# Ad-click suite, batch twins (reqs 7-10 — AdverStat)
# ---------------------------------------------------------------------------


@twin_query(
    "ad_blacklist",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT DISTINCT user_id FROM (
        SELECT event_date, user_id, COUNT(*) AS click_count
        FROM events_n WHERE event_type = 'click'
        GROUP BY event_date, user_id
    ) WHERE click_count > 3
    """,
)
def ad_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 7: users above the per-day click threshold (reference: >100
    with per-key MySQL lookups inside a filter —
    ``AdverStat.scala:287-309``; threshold 3 here to be meaningful at
    test scale)."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    # click counts per (date, user): the blacklist base
    # (``AdverStat.scala:250-268``)
    counts = ev.groupBy("event_date", "user_id").agg(F.count(F.lit(1)).alias("click_count"))
    return adstats.blacklist_head(counts, 3)


@query(
    "ad_cumulative_stats",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT event_date, province, city, ad_id, COUNT(*) AS click_count
    FROM events_n WHERE event_type = 'click'
    GROUP BY event_date, province, city, ad_id
    """,
)
def ad_cumulative_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 8: cumulative clicks per (date, province, city, ad) —
    updateStateByKey's final state as one batch aggregate
    (``AdverStat.scala:193-247``); streaming form in
    streaming/ad_stream.py."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    return adstats.cumulative_stats(ev)


@twin_query(
    "ad_province_top3",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE},
    counts AS (
        -- ad_id IS NOT NULL: a click whose ad_id failed to parse is
        -- not attributable to an ad; count reports keep the NULL
        -- bucket as telemetry, but a top-ads RANKING only ranks real
        -- ads (and NULL tie-break order differs across engines)
        SELECT event_date, province, ad_id, COUNT(*) AS click_count
        FROM events_n WHERE event_type = 'click' AND ad_id IS NOT NULL
        GROUP BY event_date, province, ad_id
    )
    SELECT event_date, province, ad_id, click_count, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_date, province
                    ORDER BY click_count DESC, ad_id ASC) AS rank
        FROM counts
    ) WHERE rank <= 3
    """,
)
def ad_province_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 9: daily top-3 ads per province (the reference's SQL is
    syntactically invalid — SURVEY.md §2.12/5; this is the intent).
    Unparseable ad_id clicks are excluded: rankings only rank real
    ads (count reports keep the NULL bucket as parse telemetry)."""
    ev = _events(spark, sf_dir).where(
        (F.col("event_type") == "click") & F.col("ad_id").isNotNull()
    )
    return adstats.province_top3(ev)


@twin_query(
    "ad_minute_counts",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT date_trunc('minute', ts) AS minute, ad_id, COUNT(*) AS click_count
    FROM events_n WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
)
def ad_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 10 core: per-minute click counts per ad — the tumbling base
    of the 60min/1min sliding trend (``AdverStat.scala:93-130``); the
    sliding window itself is ad_click_trend below + the streaming
    pipeline."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    return adstats.minute_counts(ev)


@twin_query(
    "ad_click_trend",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE},
    per_minute AS (
        SELECT date_trunc('minute', ts) AS minute, ad_id, COUNT(*) AS click_count
        FROM events_n WHERE event_type = 'click'
        GROUP BY 1, 2
    ), bounds AS (
        SELECT date_trunc('minute', MAX(ts)) AS last_minute FROM events
    )
    SELECT minute, ad_id, click_count
    FROM per_minute CROSS JOIN bounds
    WHERE minute > last_minute - INTERVAL 60 MINUTE
    """,
)
def ad_click_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Req 10: last-hour per-minute trend relative to the newest event
    (batch twin of the sliding-window stream)."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    per_minute = adstats.minute_counts(ev)
    bounds = load_table(spark, "events", sf_dir).agg(
        F.date_trunc("minute", F.max("ts")).alias("last_minute")
    )
    return (
        per_minute.crossJoin(F.broadcast(bounds))
        .where(F.col("minute") > F.col("last_minute") - F.expr("INTERVAL 60 MINUTES"))
        .select("minute", "ad_id", "click_count")
    )


@twin_query(
    "local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey AND c_nationkey = s_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped five-way join with a same-nation co-location
    predicate: the two big sides (orders x lineitem) sort-merge, all
    dims broadcast, the customer-supplier nation equality prunes
    before the aggregate."""
    year0 = F.lit("1996-01-01 00:00:00").cast("timestamp")
    year1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= year0) & (F.col("o_orderdate") < year1)
    )
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    reg = load_table(spark, "region", sf_dir).where(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@twin_query(
    "returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
           n_name, c_acctbal
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue per customer, top-20 —
    join + agg + global top-k with a deterministic tiebreak."""
    d0 = F.lit("1996-01-01 00:00:00").cast("timestamp")
    d1 = F.lit("1996-07-01 00:00:00").cast("timestamp")
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= d0) & (F.col("o_orderdate") < d1)
    )
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_returnflag") == "R")
    nat = load_table(spark, "nation", sf_dir)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name", "c_acctbal").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return global_top_k(
        agg.select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal"),
        [F.desc("revenue"), F.asc("c_custkey")],
        20,
    )
