"""Catalog: relational surface beyond the reference (SURVEY.md §2.4
"not present in the reference" + §2.7): rollup, pivot, set
operations, approximate aggregates, and the custom as-of join.
Catalyst provides these natively; the catalog entries prove the
engine exposes them with oracle-checked semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.functions import money_sum
from bigdata_commerce_spark.operators.asof import asof_join
from bigdata_commerce_spark.plans.catalog import (
    _EVENTS_ORACLE_CTE,
    _REGION_TOP3_ORACLE,
    _events,
)
from bigdata_commerce_spark.plans.registry import query, twin_query
from bigdata_commerce_spark.sources.testdata import load_table


@twin_query(
    "asof_click_attribution",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE},
    clicks AS (
        SELECT user_id, ts, MAX(ad_id) AS ad_id
        FROM events_n WHERE event_type = 'click'
        GROUP BY user_id, ts
    ), purch AS (
        SELECT event_id, user_id, ts FROM events_n WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           c.ad_id AS attributed_ad, c.ts AS click_ts
    FROM purch p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase->click attribution: for every purchase, the user's
    most recent click at-or-before it (backward as-of join — an
    operator Spark lacks, composed from union+sort+last_value in
    operators/asof.py; the oracle is DuckDB's native ASOF JOIN)."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "ad_id")
    purch = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    out = asof_join(
        purch, clicks, on="user_id", left_ts="ts", right_ts="ts", payload_cols=["ad_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ad_id").alias("attributed_ad"),
        F.col("asof_ts").alias("click_ts"),
    )


@twin_query(
    "asof_skew_bounded",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE},
    clicks AS (
        SELECT user_id, ts, MAX(ad_id) AS ad_id
        FROM events_n WHERE event_type = 'click'
        GROUP BY user_id, ts
    ), purch AS (
        SELECT event_id, user_id, ts FROM events_n WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           c.ad_id AS attributed_ad, c.ts AS click_ts
    FROM purch p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_skew_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_click_attribution through the time-bucketized
    (skew-bounded) as-of path, against the same native ASOF JOIN
    oracle — the bucket-spine stitch must be invisible in the result
    (round-5 skew probe: exact 3.2x under a 30%-hot key, bucketized
    0.9x)."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "ad_id")
    purch = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    out = asof_join(
        purch, clicks, on="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["ad_id"], bucket_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ad_id").alias("attributed_ad"),
        F.col("asof_ts").alias("click_ts"),
    )


@twin_query(
    "events_running_value",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT event_id, user_id, ts,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS DOUBLE) AS running_value
    FROM events_n
    """,
)
def events_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative value (running spend) through the
    SKEW-BOUNDED two-level prefix-sum path (operators/running.py,
    bucket_seconds=3600) against the plain running-SUM-window oracle —
    the bucket-spine arithmetic must be invisible in the result.
    Exact DECIMAL internals make the two addition orders (and DuckDB)
    bit-identical."""
    from bigdata_commerce_spark.operators.running import running_sum_per_key

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = running_sum_per_key(
        ev,
        bucket_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("__rs", 4).cast("double").alias("running_value"),
    )


@query(
    "lineitem_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (flag -> flag+status -> grand total) —
    grouping sets the reference cannot express (SURVEY.md §2.4).
    Decimal addend bound below the rollup's Expand (3 copies/row) —
    see lineitem_cube; byte-identical result."""
    from bigdata_commerce_spark.functions import money_dec, money_sum_dec

    li = load_table(spark, "lineitem", sf_dir)
    bound = li.select(
        "l_returnflag", "l_linestatus", money_dec(F.col("l_quantity")).alias("__qty_dec")
    )
    return bound.rollup("l_returnflag", "l_linestatus").agg(
        money_sum_dec(F.col("__qty_dec")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "events_pivot",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT event_date,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events_n GROUP BY event_date
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide daily event-type matrix via pivot."""
    kinds = ["click", "view", "purchase", "signup", "error"]
    ev = _events(spark, sf_dir)
    wide = ev.groupBy("event_date").pivot("event_type", kinds).count()
    return wide.select(
        "event_date", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@twin_query(
    "users_click_no_purchase",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def users_click_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT) — absent from the reference (§2.7)."""
    ev = load_table(spark, "events", sf_dir)
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clickers.subtract(buyers)


@query(
    "users_click_and_purchase",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def users_click_and_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (INTERSECT)."""
    ev = load_table(spark, "events", sf_dir)
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(buyers)


@twin_query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count surface (§2.4 'absent in reference'). The
    catalog projection keeps the exact countDistinct (cross-engine
    deterministic, hence oracle-checked); the HyperLogLog++
    approx_count_distinct sketch produces engine-specific estimates
    by construction, so its 5% error bound is asserted in pytest
    (test_dataops.py::test_approx_distinct_bound) instead."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
    )


@twin_query(
    "supplier_window_suite",
    oracle="""
    WITH per_supplier AS (
        SELECT l_suppkey,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_suppkey
    ), nations AS (
        SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
    )
    SELECT l_suppkey, n_name, revenue,
           CAST(ROW_NUMBER() OVER w AS INT) AS rn,
           CAST(RANK() OVER w AS INT) AS rnk,
           CAST(DENSE_RANK() OVER w AS INT) AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           LAG(revenue) OVER w AS prev_revenue,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,8))) OVER (
               PARTITION BY n_name ORDER BY revenue DESC, l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_revenue
    FROM per_supplier JOIN nations ON l_suppkey = s_suppkey
    WINDOW w AS (PARTITION BY n_name ORDER BY revenue DESC, l_suppkey)
    """,
)
def supplier_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window coverage the reference never uses (§2.5: only
    row_number exists there): rank / dense_rank / ntile / lag and a
    running-sum frame, all over one per-nation window."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    per_supplier = li.groupBy("l_suppkey").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    nations = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    joined = per_supplier.join(
        F.broadcast(nations), per_supplier.l_suppkey == nations.s_suppkey
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("l_suppkey"))
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return joined.select(
        "l_suppkey",
        "n_name",
        "revenue",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("revenue").over(w).alias("prev_revenue"),
        F.round(F.sum(F.col("revenue").cast("decimal(30,8)")).over(frame), 2)
        .cast("double")
        .alias("running_revenue"),
    )


@query("region_top3_parts_sql", oracle=_REGION_TOP3_ORACLE)
def region_top3_parts_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity (SURVEY.md §3.2): the area/top-3 pipeline as
    the reference writes it — a chain of temp views consumed by
    spark.sql — proving the engine's full SQL surface produces the
    same plan/result as the DataFrame form (views are logical plans;
    the chain fuses into one physical plan)."""
    from bigdata_commerce_spark.sources.testdata import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        SELECT r_name AS area, n_name AS nation, l_partkey
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        """
    ).createOrReplaceTempView("tmp_area_basic_info")
    spark.sql(
        """
        SELECT area, l_partkey,
               COUNT(*) AS order_count,
               array_join(array_sort(collect_set(nation)), ',') AS nation_list
        FROM tmp_area_basic_info GROUP BY area, l_partkey
        """
    ).createOrReplaceTempView("tmp_area_click_count")
    return spark.sql(
        """
        SELECT t.area,
               CASE WHEN t.area IN ('ASIA', 'EUROPE') THEN 'A'
                    WHEN t.area = 'AMERICA' THEN 'B'
                    ELSE 'C' END AS area_level,
               t.l_partkey, p.p_name, t.order_count, t.nation_list, t.rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY area
                        ORDER BY order_count DESC, l_partkey ASC) AS rank
            FROM tmp_area_click_count
        ) t JOIN part p ON t.l_partkey = p.p_partkey
        WHERE t.rank <= 3
        """
    )


@twin_query(
    "group_concat_distinct_udaf",
    oracle="""
    SELECT r_name AS area, l_partkey,
           COUNT(*) AS order_count,
           array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nation_list
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)
def group_concat_distinct_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one custom UDAF (GroupConcatDistinct —
    ``areaStat/src/main/scala/GroupConcatDistinct.scala``) computed
    through Spark's Python UDAF surface: a pandas grouped-aggregate
    UDF (Arrow-batched, one Python call per group — never
    row-at-a-time). The production path remains
    collect_set+array_sort+array_join (pure JVM, used by
    region_top3_parts); this twin completes SURVEY §2.10's UDF-surface
    story the way chunk_documents_udtf does for UDTFs — and unlike the
    reference's UDAF, the merge step cannot forget cross-partition
    dedup (SURVEY §2.12/7): the set is built per assembled group."""
    li = load_table(spark, "lineitem", sf_dir).select("l_suppkey", "l_partkey")
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nat = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name", "n_regionkey")
    reg = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")

    # Signature-typed form (pd.Series -> scalar infers GROUPED_AGG):
    # the legacy PandasUDFType enum is deprecated. get_type_hints
    # resolves the stringified annotations (future-annotations mode)
    # against module globals, where pd is imported.
    @F.pandas_udf("string")
    def concat_distinct(s: pd.Series) -> str:
        return ",".join(sorted(set(s.dropna())))

    @F.pandas_udf("long")
    def count_rows(s: pd.Series) -> int:
        return len(s)

    basic = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("r_name").alias("area"), F.col("n_name").alias("nation"), "l_partkey")
    )
    # both aggregates through the pandas UDAF path: Spark disallows
    # mixing builtin and group-aggregate pandas UDFs in one agg
    return basic.groupBy("area", "l_partkey").agg(
        count_rows("nation").alias("order_count"),
        concat_distinct("nation").alias("nation_list"),
    )


@query(
    "lineitem_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set lattice (CUBE).

    The decimal addend is BOUND below the cube (functions.money_dec):
    grouping sets run aggregate input expressions per Expand copy, so
    the inline cast(l_quantity as decimal(30,8)) — the expensive
    Double.toString+BigDecimal step — ran 4x per source row (verified
    in plans/r13/lineitem_cube_before.txt: the Expand emits the raw
    double and the partial HashAggregate carries the cast). Same
    addends, same sums — byte-identical result (oracle-pinned)."""
    from bigdata_commerce_spark.functions import money_dec, money_sum_dec

    li = load_table(spark, "lineitem", sf_dir)
    bound = li.select(
        "l_returnflag", "l_linestatus", money_dec(F.col("l_quantity")).alias("__qty_dec")
    )
    return bound.cube("l_returnflag", "l_linestatus").agg(
        money_sum_dec(F.col("__qty_dec")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@twin_query(
    "price_quantiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.5) AS p50_price,
           quantile_disc(o_totalprice, 0.9) AS p90_price,
           quantile_disc(o_totalprice, 0.99) AS p99_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch) over order totals
    per priority. The GK summary is *exact* while a group's row count
    stays under the compression threshold, so with accuracy=1e6 the
    sketch returns the exact discrete quantile at every test SF and
    the DuckDB quantile_disc oracle hash-matches (verified sf0.001 /
    0.01 / 0.1); past that size it degrades gracefully to the
    eps=1/accuracy rank guarantee — which is the operator's point at
    100 TB. Scalar p50/p90/p99 columns: the driver's value hash
    cannot digest array cells."""
    orders = load_table(spark, "orders", sf_dir)
    q = F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 1_000_000)
    return orders.groupBy("o_orderpriority").agg(
        q[0].alias("p50_price"),
        q[1].alias("p90_price"),
        q[2].alias("p99_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@twin_query(
    "latest_user_events",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT user_id, event_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def latest_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read current-state view: each user's latest event from
    the append-only log (operators/upsert_view.py — max_by aggregate,
    no per-key sort; the oracle is the equivalent row_number spec)."""
    from bigdata_commerce_spark.operators.upsert_view import latest_by_key

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_by_key(ev, ["user_id"], "ts")


@query(
    "cohort_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id AS u, date_trunc('month', CAST(ts AS DATE)) AS m
        FROM events
    ), cohorts AS (
        SELECT u, MIN(m) AS cohort_month FROM activity GROUP BY u
    ), joined AS (
        SELECT a.u, c.cohort_month,
               (EXTRACT(year FROM a.m) - EXTRACT(year FROM c.cohort_month)) * 12
               + (EXTRACT(month FROM a.m) - EXTRACT(month FROM c.cohort_month)) AS period
        FROM activity a JOIN cohorts c USING (u)
    ), per_period AS (
        SELECT cohort_month, CAST(period AS INT) AS period,
               COUNT(DISTINCT u) AS active_users
        FROM joined GROUP BY 1, 2
    ), sizes AS (
        SELECT cohort_month, COUNT(DISTINCT u) AS cohort_size
        FROM cohorts GROUP BY 1
    )
    SELECT CAST(p.cohort_month AS DATE) AS cohort_month, p.period,
           s.cohort_size, p.active_users,
           ROUND(p.active_users * 1.0 / s.cohort_size, 4) AS retention_rate
    FROM per_period p JOIN sizes s USING (cohort_month)
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix over the events table
    (operators/cohort.py)."""
    from bigdata_commerce_spark.operators.cohort import cohort_retention as _cr

    ev = load_table(spark, "events", sf_dir)
    return _cr(ev)


@query(
    "exact_price_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def exact_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont` linear interpolation) — the exact
    counterpart of the approx sketch in price_quantiles.

    Scale contract (VERDICT r12 item 7): exact `percentile` buffers
    each group's values on ONE reducer. The guarded operator bounds
    that exposure — a group past ``max_group_rows`` fails loudly with
    a message naming the knob instead of an opaque executor OOM; the
    count rides the same aggregate (no extra pass) and the guard
    column is dropped, so results are byte-identical to the bare
    aggregate (pinned by test_sketch's parity test). At 100 TB use
    ``price_quantiles`` (percentile_approx) — the designed pair."""
    from bigdata_commerce_spark.operators.sketch import exact_group_percentiles

    orders = load_table(spark, "orders", sf_dir)
    return exact_group_percentiles(
        orders,
        "o_totalprice",
        {"median_price": 0.5, "p90_price": 0.9},
        ["o_orderpriority"],
    )


@twin_query(
    "data_quality_report",
    oracle="""
    WITH base AS (
        -- COALESCE/COUNT=0 guards restate validate.py's vacuous-pass
        -- contract: an EMPTY partition has zero violations and passes
        -- every check (SUM/AVG over zero rows is NULL in raw SQL)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT) AS v0,
               CAST(COALESCE(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v1,
               CAST(COALESCE(SUM(CASE WHEN l_discount BETWEEN 0 AND 0.06 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v2,
               CAST(COALESCE(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END), 0) AS BIGINT) AS v3,
               CAST(COALESCE(SUM(CASE WHEN l_extendedprice * (1 - l_discount) >= 0 THEN 0 ELSE 1 END), 0) AS BIGINT) AS v4,
               CAST(CASE WHEN COUNT(*) = 0 THEN 0
                         WHEN AVG(l_quantity) BETWEEN 20 AND 30 THEN 0 ELSE 1 END AS BIGINT) AS v5
        FROM lineitem
    ), uniq AS (
        SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS v
        FROM (SELECT COUNT(*) AS cnt FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
    )
    SELECT 'not_null(l_orderkey)' AS check_name, 'not_null' AS kind,
           n_rows, v0 AS n_violations, v0 = 0 AS passed FROM base
    UNION ALL SELECT 'in_range(l_quantity)', 'in_range', n_rows, v1, v1 = 0 FROM base
    UNION ALL SELECT 'in_range(l_discount)', 'in_range', n_rows, v2, v2 = 0 FROM base
    UNION ALL SELECT 'in_set(l_returnflag)', 'in_set', n_rows, v3, v3 = 0 FROM base
    UNION ALL SELECT 'net_price_nonnegative', 'satisfies', n_rows, v4, v4 = 0 FROM base
    UNION ALL SELECT 'mean_in_range(l_quantity)', 'mean_in_range', n_rows, v5, v5 = 0 FROM base
    UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', 'unique', n_rows, v, v = 0 FROM uniq
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem
    (operators/validate.py): five row-level constraints compiled into
    ONE scan + ONE hash aggregate, plus a uniqueness constraint as one
    grouped count on its key — the Deequ-style contract check a 100 TB
    ingest boundary runs before publishing a partition. The discount
    range is deliberately tighter than the data (and the synthetic
    (l_orderkey, l_linenumber) key is deliberately non-unique), so the
    report exercises both passing and failing constraints."""
    from bigdata_commerce_spark.operators import validate as V

    li = load_table(spark, "lineitem", sf_dir)
    return V.validate(
        li,
        [
            V.not_null("l_orderkey"),
            V.in_range("l_quantity", 1, 50),
            V.in_range("l_discount", 0, 0.06),
            V.in_set("l_returnflag", ["A", "N", "R"]),
            V.satisfies(
                "net_price_nonnegative",
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))) >= 0,
            ),
            V.mean_in_range("l_quantity", 20, 30),
            V.unique("l_orderkey", "l_linenumber"),
        ],
    )


@twin_query(
    "customer_kanonymity",
    oracle="""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM customer
        GROUP BY 1, 2, 3
    ), g AS (
        SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
               CAST(COALESCE(SUM(CASE WHEN class_size < 5 THEN 1 END), 0)
                    AS BIGINT) AS n_risky_classes,
               CAST(COALESCE(SUM(CASE WHEN class_size < 5
                                      THEN class_size END), 0)
                    AS BIGINT) AS n_risky_rows
        FROM classes
    ), smallest AS (
        -- NULLS FIRST restates Spark's ascending default (DuckDB
        -- defaults NULLS LAST): a NULL quasi-identifier class must
        -- pick the same side of the top-20 cut in both engines
        SELECT * FROM classes
        ORDER BY class_size, c_nationkey NULLS FIRST,
                 c_mktsegment NULLS FIRST, bal_band NULLS FIRST
        LIMIT 20
    )
    SELECT s.c_nationkey, s.c_mktsegment, s.bal_band, s.class_size,
           CAST(ROW_NUMBER() OVER (
               ORDER BY s.class_size, s.c_nationkey NULLS FIRST,
                        s.c_mktsegment NULLS FIRST,
                        s.bal_band NULLS FIRST) AS INT) AS class_rank,
           g.n_rows, g.n_classes, g.k_anonymity, g.n_risky_classes,
           g.n_risky_rows
    FROM smallest s CROSS JOIN g
    """,
)
def customer_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table
    (operators/privacy.py; Sweeney 2002) over the quasi-identifier
    combination (nation, market segment, account-balance band): the
    achieved k (smallest equivalence class), how many classes/rows
    fall below k=5, and the 20 smallest classes — the combinations a
    release reviewer must generalize or suppress before the table
    ships as training data. ONE hash aggregate keyed by the
    quasi-identifiers, a tiny aggregate over the class frame, and a
    global top-k (TakeOrderedAndProject, never a full sort); pure
    integer outputs, nothing to drift."""
    from bigdata_commerce_spark.operators.privacy import kanonymity_report

    cust = load_table(spark, "customer", sf_dir).withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000)
    )
    return kanonymity_report(
        cust,
        qi_cols=["c_nationkey", "c_mktsegment", "bal_band"],
        show_n=20,
    )


def _attribution_sql() -> str:
    from bigdata_commerce_spark.plans.catalog_dataops import _r8

    credit = _r8(
        "value * CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5"
        " WHEN rnk = 1 OR rnk = n THEN 0.4"
        " ELSE 0.2 / (n - 2) END"
    )
    return f"""
WITH {_EVENTS_ORACLE_CTE},
t AS (
    SELECT user_id, ts, event_id, ad_id % 10 AS campaign
    FROM events_n WHERE event_type = 'click' AND ad_id IS NOT NULL
), c AS (
    SELECT user_id, ts AS c_ts, event_id AS conv_id, value
    FROM events_n WHERE event_type = 'purchase'
), j AS (
    SELECT t.campaign, t.event_id AS touch_id, t.ts, c.conv_id,
           c.value, c.c_ts
    FROM t JOIN c ON t.user_id = c.user_id
     AND t.ts < c.c_ts AND t.ts >= c.c_ts - INTERVAL 7 DAY
), r AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY conv_id
                              ORDER BY ts, touch_id) AS rnk,
           COUNT(*) OVER (PARTITION BY conv_id) AS n
    FROM j
), a AS (
    SELECT campaign, conv_id, rnk, n, {credit} AS credit FROM r
)
SELECT CAST(campaign AS INT) AS campaign,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_first,
       CAST(SUM(CASE WHEN rnk = n THEN 1 ELSE 0 END) AS BIGINT)
           AS n_last,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(CAST(SUM(CAST(credit AS DECIMAL(20,8))) AS VARCHAR)
            AS DOUBLE) AS attributed_value
FROM a GROUP BY campaign
"""


@twin_query("multitouch_attribution", oracle=_attribution_sql())
def multitouch_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution over the ad stream
    (operators/attribution.py): each purchase's value splits 40/20/40
    across the user's clicks in the preceding 7 days (100% / 50-50
    for one- and two-touch paths), rolled up per campaign — the
    which-campaigns-open-vs-close view that complements the
    last-touch as-of join (asof_click_attribution). Touches join
    conversions on the user equi-key (range predicate rides as a
    filter — no nested-loop), position ranks window per CONVERSION
    (bounded by touches-per-conversion), one final hash aggregate per
    campaign. Per-touch credit rounds to 8 dp and sums as
    DECIMAL(20,8)."""
    from bigdata_commerce_spark.operators.attribution import (
        multitouch_attribution,
    )

    ev = _events(spark, sf_dir)
    touches = ev.where(
        (F.col("event_type") == "click") & F.col("ad_id").isNotNull()
    ).withColumn("channel", F.col("ad_id") % 10)
    conversions = ev.where(F.col("event_type") == "purchase")
    out = multitouch_attribution(touches, conversions)
    return out.withColumn("campaign", F.col("channel").cast("int")).select(
        "campaign",
        "n_touches",
        "n_first",
        "n_last",
        "n_conversions",
        "attributed_value",
    )


def _chi2_sql() -> str:
    from bigdata_commerce_spark.plans.catalog_dataops import _r8

    return f"""
WITH {_EVENTS_ORACLE_CTE},
users AS (SELECT DISTINCT user_id FROM events_n),
conv_u AS (
    SELECT DISTINCT user_id FROM events_n WHERE event_type = 'purchase'
), flags AS (
    SELECT u.user_id,
           CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS conv
    FROM users u LEFT JOIN conv_u c USING (user_id)
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(conv) AS BIGINT) AS n_converted
    FROM flags
), exp_u AS (
    SELECT DISTINCT ad_id % 10 AS campaign, user_id
    FROM events_n WHERE event_type = 'click' AND ad_id IS NOT NULL
), per AS (
    SELECT e.campaign,
           CAST(COUNT(*) AS BIGINT) AS exposed,
           CAST(SUM(f.conv) AS BIGINT) AS converted_exposed
    FROM exp_u e JOIN flags f USING (user_id)
    GROUP BY e.campaign
), z AS (
    SELECT per.*, tot.n_users, tot.n_converted,
           CAST(converted_exposed * n_users - exposed * n_converted
                AS DOUBLE) AS x,
           CAST(exposed AS DOUBLE)
             * (CAST(n_users AS DOUBLE) - CAST(exposed AS DOUBLE))
             * CAST(n_converted AS DOUBLE)
             * (CAST(n_users AS DOUBLE) - CAST(n_converted AS DOUBLE))
               AS den
    FROM per CROSS JOIN tot
)
SELECT CAST(campaign AS INT) AS campaign, exposed, converted_exposed,
       {_r8('CAST(converted_exposed AS DOUBLE) * 1.0'
            ' / CAST(exposed AS DOUBLE)')} AS rate_exposed,
       CASE WHEN n_users - exposed > 0 THEN
           {_r8('(CAST(n_converted AS DOUBLE)'
                ' - CAST(converted_exposed AS DOUBLE)) * 1.0'
                ' / (CAST(n_users AS DOUBLE) - CAST(exposed AS DOUBLE))')}
       END AS rate_rest,
       CASE WHEN den > 0 THEN
           {_r8('CAST(n_users AS DOUBLE) * x * x / den')}
       END AS chi2,
       CASE WHEN den > 0 THEN
           {_r8('CAST(n_users AS DOUBLE) * x * x / den')} > 3.841459
       END AS significant,
       n_users, n_converted
FROM z
"""


@twin_query("campaign_conversion_chi2", oracle=_chi2_sql())
def campaign_conversion_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-campaign conversion significance (operators/abtest.py):
    the one-vs-rest 2x2 chi-square over USERS — exposed (clicked the
    campaign) vs not, converted (purchased) vs not — with exposed/
    rest rates and the 95% df=1 verdict, the column that stops a
    lift dashboard from reporting noise as signal. Cells are exact
    int64 via a*N - E*C; the statistic is a fixed left-associative
    IEEE double chain rounded once at 8 dp (the token-economics
    discipline), so the verdict boolean cannot drift. Two
    user-keyed hash-distincts + one user equi-join + one per-campaign
    aggregate; population totals broadcast as one row."""
    from bigdata_commerce_spark.operators.abtest import conversion_chi2

    ev = _events(spark, sf_dir)
    exposures = ev.where(
        (F.col("event_type") == "click") & F.col("ad_id").isNotNull()
    ).select((F.col("ad_id") % 10).alias("campaign"), "user_id")
    conversions = ev.where(F.col("event_type") == "purchase").select(
        "user_id"
    )
    out = conversion_chi2(ev.select("user_id"), exposures, conversions)
    return out.withColumn("campaign", F.col("campaign").cast("int"))


def _bootstrap_sql() -> str:
    from bigdata_commerce_spark.operators.bootstrap import (
        _weight_case_sql,
    )
    from bigdata_commerce_spark.plans.catalog_dataops import _r8

    u = (
        "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)"
        " || ':boot:' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    return f"""
WITH rows_b AS (
    SELECT event_type, value, {_weight_case_sql(u)} AS w, b
    FROM events CROSS JOIN (SELECT unnest(range(0, 40)) AS b)
    WHERE value IS NOT NULL
), per AS (
    SELECT event_type, b,
           CAST(SUM(w) AS BIGINT) AS wsum,
           SUM(CAST(value AS DECIMAL(30,8)) * CAST(w AS DECIMAL(2,0)))
               AS wxsum
    FROM rows_b GROUP BY 1, 2
), means AS (
    SELECT event_type, b,
           {_r8('CAST(CAST(wxsum AS VARCHAR) AS DOUBLE) / wsum')}
               AS mean_b
    FROM per WHERE wsum > 0
), ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY mean_b, b) AS rnk,
           COUNT(*) OVER (PARTITION BY event_type) AS nb
    FROM means
), ci AS (
    -- integer ceil: (num + den - 1) // den — the engine-portable
    -- form (binary-double CEIL(0.025*40) reads 2, decimal reads 1)
    SELECT event_type,
           MAX(CASE WHEN rnk = GREATEST((nb * 50 + 1999) // 2000, 1)
               THEN mean_b END) AS ci_lo,
           MAX(CASE WHEN rnk = (nb * 1950 + 1999) // 2000
               THEN mean_b END) AS ci_hi
    FROM ranked GROUP BY 1
), base AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_r8('CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))'
                ' AS VARCHAR) AS DOUBLE) / COUNT(*)')} AS mean_value
    FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT base.event_type, base.n_rows, base.mean_value,
       ci.ci_lo, ci.ci_hi
FROM base JOIN ci USING (event_type)
"""


@twin_query("events_value_bootstrap_ci", oracle=_bootstrap_sql())
def events_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean event
    value per event type (operators/bootstrap.py; Chamandy 2012 —
    the distributed bootstrap: per-row Poisson(1) weights instead of
    a multinomial resample, so every row decides its 40 resample
    weights locally from the md5 integer grid). The resample fan-out
    happens in the map stage feeding ONE hash aggregate keyed
    (event_type, resample) — with partial combine the shuffle
    carries groups x 40 rows, never 40 copies of the corpus; CI
    endpoints are exact order statistics of the resample means
    (rank-picked, not interpolated). Weighted sums ride DECIMAL(30,8)
    and each mean is one correctly-rounded division — nothing
    floats free of the oracle."""
    from bigdata_commerce_spark.operators.bootstrap import (
        poisson_bootstrap_ci,
    )

    ev = load_table(spark, "events", sf_dir)
    return poisson_bootstrap_ci(
        ev,
        value_col="value",
        id_col="event_id",
    )


@twin_query(
    "events_agg_refresh",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS value_sum,
           MIN(value) AS value_min, MAX(value) AS value_max
    FROM events GROUP BY 1, 2
    """,
)
def events_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental_agg.py):
    a per-(day, type) rollup materialized over history, refreshed with
    a delta slice — the result must equal the full-history aggregate
    (the oracle), which is exactly the self-maintainability property.
    Refresh cost is delta-sized, never history-sized. Sums are kept in
    exact decimal partial state (functions.money_sum discipline) so
    merge order can never drift the value hash."""
    from bigdata_commerce_spark.operators import incremental_agg as ia

    keys = ["event_date", "event_type"]
    measures: ia.MeasureSpec = {
        "n_events": ("count", None),
        "value_sum": ("sum", "value_dec"),
        "value_min": ("min", "value"),
        "value_max": ("max", "value"),
    }
    base = (
        load_table(spark, "events", sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("value_dec", F.col("value").cast("decimal(30,8)"))
    )
    cutoff = F.lit("2024-01-20").cast("date")
    existing = ia.partial_agg(base.where(F.col("event_date") < cutoff), keys, measures)
    refreshed = ia.refresh_with_delta(
        existing, base.where(F.col("event_date") >= cutoff), keys, measures
    )
    return refreshed.select(
        "event_date",
        "event_type",
        "n_events",
        F.round("value_sum", 2).cast("double").alias("value_sum"),
        "value_min",
        "value_max",
    )


@twin_query(
    "events_key_skew",
    oracle="""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1
    ), summ AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM counts
    )
    SELECT CAST(rnk AS INT) AS rank, user_id, CAST(cnt AS BIGINT) AS cnt,
           ROUND(cnt * 1.0 / total_rows, 6) AS share, total_rows, n_keys,
           ROUND(max_cnt / (total_rows * 1.0 / n_keys), 4) AS skew_factor
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk
        FROM counts
    ) CROSS JOIN summ
    WHERE rnk <= 20
    """,
)
def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (operators/salted.key_skew_report): per-key
    counts, hottest-20 keys with row share, and the max/mean skew
    factor — the measurement that decides whether a key needs salting
    or AQE skew handling before the expensive job runs. One hash agg +
    one-row broadcast summary + TakeOrderedAndProject."""
    from bigdata_commerce_spark.operators.salted import key_skew_report

    ev = load_table(spark, "events", sf_dir)
    return key_skew_report(ev, ["user_id"])


@twin_query(
    "lineitem_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long reshaping (DataFrame.unpivot / melt, the inverse
    of events_pivot): the four lineitem measures as (measure, value)
    rows. Map-side only — Catalyst expands unpivot to a generator
    projection, no shuffle; the oracle is the portable UNION ALL
    form."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@twin_query(
    "user_daily_value_locf",
    oracle="""
    WITH obs AS (
        SELECT user_id AS key, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
               ts, value
        FROM events WHERE user_id < 200
    ), per_bucket AS (
        SELECT key, bucket, value FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY key, bucket ORDER BY ts DESC, value DESC
            ) AS rn FROM obs
        ) WHERE rn = 1
    ), bounds AS (
        SELECT key, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM per_bucket GROUP BY 1
    ), grid AS (
        SELECT key, unnest(range(b0, b1 + 1)) AS bucket FROM bounds
    )
    SELECT g.key AS user_id, g.bucket,
           TIMESTAMP '1970-01-01 00:00:00' + g.bucket * INTERVAL 86400 SECOND
               AS bucket_ts,
           last_value(p.value IGNORE NULLS) OVER (
               PARTITION BY g.key ORDER BY g.bucket ROWS UNBOUNDED PRECEDING
           ) AS value,
           p.value IS NOT NULL AS is_observed
    FROM grid g LEFT JOIN per_bucket p USING (key, bucket)
    """,
)
def user_daily_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (operators/timeseries.fill_gaps_locf):
    each user's sparse daily value observations densified onto every
    day between their first and last event, gaps carrying the last
    observation forward — the regularization step before window
    features or the similarity grid. One aggregate for per-bucket
    last-obs, a map-side sequence explode for the grid, one key
    shuffle shared by the join and the carry-forward window."""
    from bigdata_commerce_spark.operators.timeseries import fill_gaps_locf

    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") < 200)
    return fill_gaps_locf(
        ev, bucket_seconds=86400
    )


@twin_query(
    "events_grouping_sets",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(GROUPING(event_type) AS TINYINT) AS g_type,
           CAST(GROUPING(CAST(ts AS DATE)) AS TINYINT) AS g_date
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
    """,
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind the rollup /
    cube twins (lineitem_rollup/lineitem_cube): per-type totals,
    per-day totals and the grand total in ONE aggregate pass
    (Catalyst expands the sets map-side; one shuffle), with
    GROUPING() flags disambiguating real NULLs from subtotal rows.
    SQL surface on the Spark side too — the temp-view path the
    reference used for its area pipeline."""
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events_gs")
    return spark.sql("""
        SELECT event_type, CAST(ts AS DATE) AS event_date,
               COUNT(*) AS n_events,
               CAST(grouping(event_type) AS TINYINT) AS g_type,
               CAST(grouping(CAST(ts AS DATE)) AS TINYINT) AS g_date
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
    """)


@twin_query(
    "user_value_anomalies",
    oracle="""
    WITH series AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS value
        FROM events WHERE user_id < 300 GROUP BY 1, 2
    ), sums AS (
        SELECT user_id, COUNT(value) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s,
               -- one operand widened to (20,6): DuckDB runs
               -- (18,6)x(18,6) in int64 and overflows on 1e9-scale
               -- daily sums (squares ~1e18); Spark's (37,12) result
               -- type needs no change, values stay exact/identical.
               -- decimal->double goes THROUGH VARCHAR: DuckDB's direct
               -- cast double-rounds (hugeint->double, then /10^scale)
               -- and lands 1 ULP off Spark's single-rounded
               -- BigDecimal.doubleValue on wide scale-12 sums
               CAST(CAST(SUM(CAST(value AS DECIMAL(20,6)) * CAST(value AS DECIMAL(18,6)))
                    AS VARCHAR) AS DOUBLE) AS s2
        FROM series GROUP BY 1
    ), stats AS (
        SELECT user_id, s / n AS m,
               CASE WHEN n > 1
                    THEN sqrt(greatest((s2 - s * s / n) / (n - 1), 0.0)) END AS sd
        FROM sums
    )
    SELECT s.user_id, s.bucket, s.value,
           CASE WHEN sd > 0 THEN ROUND((s.value - m) / sd, 4) END AS z,
           COALESCE(CASE WHEN sd > 0 THEN abs(ROUND((s.value - m) / sd, 4)) > 2.5 END,
                    FALSE) AS is_anomaly
    FROM series s JOIN stats USING (user_id)
    """,
)
def user_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score anomaly detection
    (operators/timeseries.flag_anomalies) over each user's daily value
    totals: two hash aggregates, stats broadcast back, no self-scan.
    Daily totals use the decimal-exact money_sum discipline AND the
    per-key mean/stddev come from exact decimal sums, so every float
    in the z computation is bit-identical across engines and
    partitionings — no order-dependent avg/stddev in an
    exact-equality oracle."""
    from bigdata_commerce_spark.functions import money_sum
    from bigdata_commerce_spark.operators.timeseries import flag_anomalies

    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") < 300)
    series = (
        ev.withColumn("bucket", F.floor(F.unix_timestamp("ts") / 86400).cast("bigint"))
        .groupBy("user_id", "bucket")
        .agg(money_sum(F.col("value")).alias("value"))
    )
    return flag_anomalies(series, z_threshold=2.5)


# Drift twin config: bins + the fraction list and epsilon are generated
# from the operator module's own constants so oracle and engine cannot
# drift (the point of the module, after all).
_PSI_BINS = 8


def _psi_oracle() -> str:
    from bigdata_commerce_spark.operators.drift import PSI_EPS

    fracs = ", ".join(str(i / _PSI_BINS) for i in range(1, _PSI_BINS))
    return f"""
    WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0),
    cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 1),
    b AS (SELECT quantile_cont(v, [{fracs}]) AS bounds FROM ref),
    ref_bins AS (
        SELECT len(list_filter(b.bounds, x -> ref.v > x)) AS bin FROM ref, b
    ),
    cur_bins AS (
        SELECT len(list_filter(b.bounds, x -> cur.v > x)) AS bin FROM cur, b
    ),
    bins AS (SELECT unnest(range({_PSI_BINS})) AS bin),
    ref_sh AS (
        SELECT bins.bin,
               COALESCE(cnt, 0) * 1.0 / (SELECT COUNT(*) FROM ref) AS ref_share
        FROM bins LEFT JOIN (SELECT bin, COUNT(*) AS cnt FROM ref_bins GROUP BY 1)
             USING (bin)
    ),
    cur_sh AS (
        SELECT bins.bin,
               COALESCE(cnt, 0) * 1.0 / (SELECT COUNT(*) FROM cur) AS cur_share
        FROM bins LEFT JOIN (SELECT bin, COUNT(*) AS cnt FROM cur_bins GROUP BY 1)
             USING (bin)
    ),
    terms AS (
        SELECT CAST(bin AS INT) AS bin,
               ROUND(ref_share, 6) AS ref_share,
               ROUND(cur_share, 6) AS cur_share,
               ROUND((greatest(cur_share, {PSI_EPS}) - greatest(ref_share, {PSI_EPS}))
                     * ln(greatest(cur_share, {PSI_EPS}) / greatest(ref_share, {PSI_EPS})),
                     6) AS psi_term
        FROM ref_sh JOIN cur_sh USING (bin)
    )
    SELECT *, ROUND(SUM(psi_term) OVER (), 6) AS psi_total FROM terms
    """


@twin_query("price_distribution_psi", oracle=_psi_oracle())
def price_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift report (operators/drift.py): PSI of
    o_totalprice between the even-orderkey half (reference) and the
    odd half (current), over equi-depth bins of the reference — the
    standard ML-ops shape-shift metric next to validate.py's contract
    checks. Exact-percentile boundaries (engine-portable), broadcast
    literal fold for assignment, two tiny share aggregates. The two
    halves are drawn from one distribution, so the PSI also
    demonstrates the stable (< 0.1) verdict."""
    from bigdata_commerce_spark.operators.drift import psi_report

    orders = load_table(spark, "orders", sf_dir)
    ref = orders.where(F.col("o_orderkey") % 2 == 0)
    cur = orders.where(F.col("o_orderkey") % 2 == 1)
    return psi_report(ref, cur, "o_totalprice", n_bins=_PSI_BINS)


@twin_query(
    "events_value_ks",
    oracle="""
    WITH base AS (
        SELECT value AS v, event_type FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ), counts AS (
        SELECT v,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
        FROM base GROUP BY v
    ), cum AS (
        SELECT v,
               CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS f1,
               CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS f2
        FROM counts
    ), tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n_a,
               CAST(SUM(c2) AS BIGINT) AS n_b
        FROM counts
    )
    SELECT ROUND(ABS(f1 * n_b - f2 * n_a) * 1.0 / (n_a * n_b), 4) AS ks_stat,
           v AS at_value, n_a, n_b
    FROM cum CROSS JOIN tot
    ORDER BY ABS(f1 * n_b - f2 * n_a) DESC, v ASC
    LIMIT 1
    """,
)
def events_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    click and view value distributions (operators/drift.ks_report) —
    PSI's sharper sibling: the largest empirical-CDF gap plus the
    value where it peaks, no binning choice to defend. The gap is
    compared as the cross-multiplied INTEGER |F_a*n_b - F_b*n_a| (one
    final division, 4dp), so both engines agree to the bit; the
    cumulative sums run as a two-level ordered prefix sum keyed by
    equi-depth value ranges — never the classic single-reducer global
    window the textbook formulation implies (the oracle's plain
    OVER (ORDER BY v) proves the two-level construction)."""
    from bigdata_commerce_spark.operators.drift import ks_report

    ev = load_table(spark, "events", sf_dir)
    return ks_report(ev, "value", "event_type", "click", "view")


@twin_query(
    "user_hourly_ohlc",
    oracle="""
    WITH obs AS (
        SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket, ts, value
        -- value IS NOT NULL restates the operator contract: NULL
        -- values are not observations (no bar from NULL-only buckets,
        -- n_obs counts real points)
        FROM events WHERE user_id < 100 AND value IS NOT NULL
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts ASC, value ASC) AS rf,
               ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts DESC, value DESC) AS rl
        FROM obs
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM ranked GROUP BY 1, 2
    """,
)
def user_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (operators/timeseries.ohlc_resample): each
    user's hourly open/high/low/close value bars in ONE hash
    aggregate — min_by/max_by on the (ts, value) total order replaces
    the two ranking windows the naive form needs (the oracle spells
    out that naive form)."""
    from bigdata_commerce_spark.operators.timeseries import ohlc_resample

    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") < 100)
    return ohlc_resample(ev, 3600)


@twin_query(
    "rate_capped_events",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM (
        SELECT e.*,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT)
                   ORDER BY ts ASC, (event_id, ts, user_id, event_type, value, props) ASC
               ) AS rn
        FROM events e
    ) WHERE rn <= 3
    """,
)
def rate_capped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest burst limiting (operators/mixing.rate_cap_per_key_bucket):
    at most 3 events per user per hour, earliest kept — one shuffle on
    (user, hour) + a ranking window with a total tie order, so reruns
    and engines agree exactly."""
    from bigdata_commerce_spark.operators.mixing import rate_cap_per_key_bucket

    ev = load_table(spark, "events", sf_dir)
    return rate_cap_per_key_bucket(ev, max_rows=3, bucket_seconds=3600).select(
        "event_id", "user_id", "event_type"
    )


@twin_query(
    "events_ewma_value",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT user_id, event_id, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ), walk AS (
        SELECT user_id, event_id, ts, value, rn, value AS ewma
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.ts, b.value, b.rn,
               CAST(0.1 AS DOUBLE) * b.value
                 + CAST(0.9 AS DOUBLE) * w.ewma AS ewma
        FROM base b JOIN walk w
          ON b.user_id = w.user_id AND b.rn = w.rn + 1
    )
    SELECT user_id, event_id, ts, value, ewma FROM walk
    """,
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of `value` (alpha=0.1, adjust=False recurrence)
    through the exact fold path (operators/timeseries.ewma_per_key):
    one shuffle, one sequential Catalyst fold per key applying
    ``a*v + b*y`` in the same IEEE op order as the oracle's RECURSIVE
    CTE — doubles hash-match UNROUNDED, the determinism claim the
    docstring makes, proven. (The skew-bounded bucketized path is
    tolerance-tested in tests/test_timeseries_ext.py: float
    re-association is ~1e-12, deliberately not hash-stable.)"""
    from bigdata_commerce_spark.operators.timeseries import ewma_per_key

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    out = ewma_per_key(ev, alpha=0.1)
    return out.select("user_id", "event_id", "ts", "value", "ewma")


@twin_query(
    "customer_negative_parts",
    oracle="""
    WITH pos AS (
        SELECT DISTINCT o_custkey AS user_id, CAST(l_partkey AS BIGINT) AS item_id
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM part
    ), slots AS (
        SELECT u.user_id, j,
               CAST(concat('0x', substr(md5(u.user_id || ':neg:' || j), 1, 15))
                    AS BIGINT) % n_items AS item_id
        FROM (SELECT DISTINCT user_id FROM pos) u
        CROSS JOIN n
        CROSS JOIN (SELECT unnest(range(10)) AS j)
    ), cand AS (
        SELECT user_id, item_id, MIN(j) AS j FROM slots GROUP BY 1, 2
    ), surv AS (
        SELECT c.user_id, c.item_id, c.j
        FROM cand c
        LEFT JOIN pos p ON p.user_id = c.user_id AND p.item_id = c.item_id
        WHERE p.item_id IS NULL
    )
    SELECT user_id, item_id, CAST(rn AS INT) AS neg_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY j, item_id) AS rn
        FROM surv
    ) WHERE rn <= 5
    """,
)
def customer_negative_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training (operators/mixing.negative_samples): for every customer,
    5 pseudo-random parts they never bought — rejection sampling over
    deterministic hash slots (md5(user||':neg:'||slot) mod n_items on
    the dense 0-based partkey space), duplicates keep their smallest
    slot, positives removed by anti-join, survivors ranked by slot.
    Linear in users (never users x items); one anti-join shuffle
    against the interaction set; <= k*oversample rows per user at the
    ranking window."""
    from bigdata_commerce_spark.operators.mixing import negative_samples

    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    positives = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").cast("bigint").alias("item_id"),
        )
        .distinct()
    )
    n_items = part.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    return negative_samples(positives, n_items)


@twin_query(
    "parts_bought_together",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_groups FROM items
    ), counts AS (
        SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS item_x, b.l_partkey AS item_y,
               COUNT(*) AS n_xy
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT item_x, item_y, n_xy, cx.n AS n_x, cy.n AS n_y,
           ROUND(ln(CAST(n_xy AS DOUBLE) * CAST(n_groups AS DOUBLE)
                    / (CAST(cx.n AS DOUBLE) * CAST(cy.n AS DOUBLE))), 6) AS pmi
    FROM pairs
    JOIN counts cx ON cx.l_partkey = item_x
    JOIN counts cy ON cy.l_partkey = item_y
    CROSS JOIN n
    WHERE n_xy >= 2
    """,
)
def parts_bought_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with PMI scoring
    (operators/cooccur.py): part pairs sharing >= 2 orders, scored by
    pointwise mutual information from exact basket counts — ONE
    group-key self-join (whale baskets boundable via cap_per_group)
    plus broadcast count joins."""
    from bigdata_commerce_spark.operators.cooccur import cooccurrence_pmi

    li = load_table(spark, "lineitem", sf_dir)
    return cooccurrence_pmi(li, "l_orderkey", "l_partkey", min_pairs=2)


@twin_query(
    "user_window_funnel",
    oracle="""
    WITH RECURSIVE ev AS (
        SELECT user_id, epoch_us(ts) AS t, event_type AS ty,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_type
               ) AS rn
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
          AND ts IS NOT NULL
    ), walk AS (
        SELECT user_id, rn,
               CASE WHEN ty = 'view' THEN t ELSE CAST(-1 AS BIGINT) END AS s0,
               CAST(-1 AS BIGINT) AS s1,
               CAST(-1 AS BIGINT) AS s2
        FROM ev WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               CASE WHEN e.ty = 'view'
                    THEN greatest(w.s0, e.t) ELSE w.s0 END,
               CASE WHEN e.ty = 'click' AND w.s0 >= 0
                         AND e.t - w.s0 <= 86400000000
                    THEN greatest(w.s1, w.s0) ELSE w.s1 END,
               CASE WHEN e.ty = 'purchase' AND w.s1 >= 0
                         AND e.t - w.s1 <= 86400000000
                    THEN greatest(w.s2, w.s1) ELSE w.s2 END
        FROM ev e JOIN walk w
          ON e.user_id = w.user_id AND e.rn = w.rn + 1
    ), final AS (
        SELECT user_id, s0, s1, s2,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY rn DESC
               ) AS rr
        FROM walk
    )
    SELECT user_id,
           CAST((CASE WHEN s0 >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN s1 >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN s2 >= 0 THEN 1 ELSE 0 END) AS INT) AS funnel_level
    FROM final WHERE rr = 1 AND s0 >= 0
    """,
)
def user_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window funnel depth per user — view -> click ->
    purchase within 24h (operators/funnel.window_funnel, ClickHouse
    windowFunnel family): a sequential latest-chain-start DP folded
    per key in ONE pass, integer-microsecond exact; the oracle
    replays the identical DP as a RECURSIVE CTE, so every level
    hash-matches."""
    from bigdata_commerce_spark.operators.funnel import window_funnel

    ev = load_table(spark, "events", sf_dir)
    return window_funnel(
        ev, ["view", "click", "purchase"], window_seconds=86400
    )


@twin_query(
    "events_value_winsorized",
    oracle="""
    WITH b AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.05), 6) AS lo,
               ROUND(quantile_cont(value, 0.95), 6) AS hi
        FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value < lo THEN lo
                WHEN e.value > hi THEN hi
                ELSE e.value END AS value_w
    -- LEFT JOIN restates the operator's totality: a NULL event_type
    -- row keeps its output row, bounds NULL -> value unclipped
    FROM events e LEFT JOIN b USING (event_type)
    """,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type percentile winsorization of the raw event
    value (operators/robust.winsorize): exact interpolated
    percentile bounds (the quantile_cont-proven pairing), rounded
    before the clip so interpolation noise cannot flip a boundary
    row, then a pure CASE projection — one aggregate, one join, no
    window."""
    from bigdata_commerce_spark.operators.robust import winsorize

    ev = load_table(spark, "events", sf_dir)
    return winsorize(
        ev, ["value"], lower=0.05, upper=0.95
    ).select("event_id", "event_type", "value", "value_w")


@twin_query(
    "user_value_robust_anomalies",
    oracle="""
    WITH series AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS value
        FROM events WHERE user_id < 300 GROUP BY 1, 2
    ), med AS (
        SELECT user_id, ROUND(quantile_cont(value, 0.5), 6) AS m
        FROM series GROUP BY 1
    ), dev AS (
        SELECT s.user_id, s.bucket, s.value, m.m,
               abs(s.value - m.m) AS ad
        FROM series s JOIN med m USING (user_id)
    ), mad AS (
        SELECT user_id, ROUND(quantile_cont(ad, 0.5), 6) AS md
        FROM dev GROUP BY 1
    )
    SELECT d.user_id, d.bucket, d.value,
           CASE WHEN md > 0
                THEN ROUND((d.value - d.m) / (1.4826 * md), 4) END AS rz,
           COALESCE(CASE WHEN md > 0
                         THEN abs(ROUND((d.value - d.m) / (1.4826 * md), 4)) > 3.0
                    END, FALSE) AS is_anomaly
    FROM dev d JOIN mad USING (user_id)
    """,
)
def user_value_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly flags over each user's daily value
    totals (operators/robust.robust_flag_anomalies) — the
    outlier-resistant sibling of user_value_anomalies on the same
    decimal-exact series: both percentile boundaries are rounded
    before any comparison, so every float in the robust-z is
    bit-identical across engines and partitionings."""
    from bigdata_commerce_spark.functions import money_sum
    from bigdata_commerce_spark.operators.robust import robust_flag_anomalies

    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") < 300)
    series = (
        ev.withColumn("bucket", F.floor(F.unix_timestamp("ts") / 86400).cast("bigint"))
        .groupBy("user_id", "bucket")
        .agg(money_sum(F.col("value")).alias("value"))
    )
    return robust_flag_anomalies(series, key_col="user_id", z_threshold=3.0)


@twin_query(
    "lineitem_corr_matrix",
    oracle="""
    WITH q AS (
        SELECT CAST(l_quantity AS DECIMAL(18,6)) AS x,
               CAST(l_extendedprice AS DECIMAL(18,6)) AS y,
               'l_quantity' AS cx, 'l_extendedprice' AS cy FROM lineitem
        UNION ALL
        SELECT CAST(l_quantity AS DECIMAL(18,6)),
               CAST(l_discount AS DECIMAL(18,6)),
               'l_quantity', 'l_discount' FROM lineitem
        UNION ALL
        SELECT CAST(l_extendedprice AS DECIMAL(18,6)),
               CAST(l_discount AS DECIMAL(18,6)),
               'l_extendedprice', 'l_discount' FROM lineitem
    ), s AS (
        SELECT cx AS col_x, cy AS col_y,
               COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n_pairs,
               -- decimal->double via VARCHAR: single correct rounding,
               -- matching Spark's BigDecimal.doubleValue (DuckDB's
               -- direct cast double-rounds wide scale-12 sums)
               CAST(CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN x END) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN y END) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS DECIMAL(20,6)) * x END) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS DECIMAL(20,6)) * y END) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS DECIMAL(20,6)) * y END) AS VARCHAR) AS DOUBLE) AS sxy
        FROM q GROUP BY 1, 2
    ), spine(col_x, col_y) AS (
        -- the operator's contract: one row for EVERY requested pair,
        -- even over an empty/all-NULL corpus (Spark's ungrouped
        -- aggregates always emit — a GROUP BY over zero rows doesn't)
        VALUES ('l_quantity', 'l_extendedprice'),
               ('l_quantity', 'l_discount'),
               ('l_extendedprice', 'l_discount')
    )
    SELECT spine.col_x, spine.col_y,
           CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
           CASE WHEN n_pairs > 1
                 AND sqrt(greatest(CAST(n_pairs AS DOUBLE) * sxx - sx * sx, 0.0))
                   * sqrt(greatest(CAST(n_pairs AS DOUBLE) * syy - sy * sy, 0.0)) > 0
                THEN ROUND((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                         / (sqrt(greatest(CAST(n_pairs AS DOUBLE) * sxx - sx * sx, 0.0))
                          * sqrt(greatest(CAST(n_pairs AS DOUBLE) * syy - sy * sy, 0.0))),
                           6)
           END AS corr
    FROM spine LEFT JOIN s USING (col_x, col_y)
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over lineitem's metric columns
    (operators/stats.corr_matrix): every pair's six sufficient sums
    in ONE scan / ONE aggregate, exact decimal partials, statistic
    derived by an identical double-op sequence in both engines."""
    from bigdata_commerce_spark.operators.stats import corr_matrix

    li = load_table(spark, "lineitem", sf_dir)
    return corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])


@twin_query(
    "user_value_trend",
    oracle="""
    WITH series AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 2) AS DOUBLE) AS value
        FROM events WHERE user_id < 300 GROUP BY 1, 2
    ), s AS (
        SELECT user_id,
               COUNT(CASE WHEN bucket IS NOT NULL AND value IS NOT NULL THEN 1 END) AS n_points,
               COUNT(DISTINCT CASE WHEN bucket IS NOT NULL AND value IS NOT NULL THEN bucket END) AS nt,
               -- every decimal->double goes THROUGH VARCHAR: DuckDB's
               -- direct cast double-rounds (hugeint->double, then
               -- /10^scale) and lands 1 ULP off Spark's single-rounded
               -- BigDecimal.doubleValue on wide sums (seen: an exact
               -- integer stt surfacing as ...940.999999)
               CAST(CAST(SUM(CASE WHEN bucket IS NOT NULL AND value IS NOT NULL
                             THEN CAST(bucket AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS st,
               CAST(CAST(SUM(CASE WHEN bucket IS NOT NULL AND value IS NOT NULL
                             THEN CAST(value AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CASE WHEN bucket IS NOT NULL AND value IS NOT NULL
                             THEN CAST(bucket AS DECIMAL(20,6)) * CAST(bucket AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS stt,
               CAST(CAST(SUM(CASE WHEN bucket IS NOT NULL AND value IS NOT NULL
                             THEN CAST(value AS DECIMAL(20,6)) * CAST(value AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CASE WHEN bucket IS NOT NULL AND value IS NOT NULL
                             THEN CAST(bucket AS DECIMAL(20,6)) * CAST(value AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS sty
        FROM series GROUP BY 1
    )
    SELECT user_id, n_points,
           CASE WHEN n_points > 1 AND nt > 1
                THEN ROUND((CAST(n_points AS DOUBLE) * sty - st * sy)
                         / (CAST(n_points AS DOUBLE) * stt - st * st), 6) END AS slope,
           CASE WHEN n_points > 1 AND nt > 1
                THEN ROUND((sy - ((CAST(n_points AS DOUBLE) * sty - st * sy)
                                / (CAST(n_points AS DOUBLE) * stt - st * st)) * st)
                         / CAST(n_points AS DOUBLE), 6) END AS intercept,
           CASE WHEN n_points > 1 AND nt > 1
                 AND (CAST(n_points AS DOUBLE) * syy - sy * sy) > 0
                THEN ROUND(((CAST(n_points AS DOUBLE) * sty - st * sy)
                          * (CAST(n_points AS DOUBLE) * sty - st * sy))
                         / ((CAST(n_points AS DOUBLE) * stt - st * st)
                          * (CAST(n_points AS DOUBLE) * syy - sy * sy)), 6) END AS r2
    FROM s
    """,
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend over the same decimal-exact daily value
    series as user_value_anomalies (operators/stats.trend_per_key):
    one grouped aggregate of exact sums; slope/intercept/r2 derived
    by the identical double-op sequence in both engines (squares by
    multiplication, never libm pow)."""
    from bigdata_commerce_spark.functions import money_sum
    from bigdata_commerce_spark.operators.stats import trend_per_key

    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") < 300)
    series = (
        ev.withColumn("bucket", F.floor(F.unix_timestamp("ts") / 86400).cast("bigint"))
        .groupBy("user_id", "bucket")
        .agg(money_sum(F.col("value")).alias("value"))
    )
    return trend_per_key(series, key_col="user_id", t_col="bucket", value_col="value")
