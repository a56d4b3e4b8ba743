"""Plan-shape regression tests: the properties that make queries
survive a 100x scale-up, asserted against the optimized/executed
plans rather than assumed (partition pruning has its own test in
test_commerce.py)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdata_commerce_spark.plans import QUERIES
from bigdata_commerce_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_pricing_summary_prunes_and_pushes(spark):
    """The lineitem scan must read only the referenced columns and
    push the date predicate into the parquet reader."""
    plan = _formatted(QUERIES["pricing_summary"](spark, SF_SMOKE))
    scan = next(
        block
        for block in plan.split("\n\n")
        if "Scan parquet" in block and "lineitem" in block
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    read_schema = next(l for l in scan.splitlines() if "ReadSchema" in l)
    # projection pruning: the full 16-column lineitem table must NOT
    # be read — only the 7 columns the aggregation touches
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    for col in ("l_quantity", "l_extendedprice", "l_discount",
                "l_returnflag", "l_linestatus", "l_shipdate"):
        assert col in read_schema, col


def test_region_top3_broadcasts_dimensions(spark):
    """The dimension sides (region, nation, part, supplier) must join
    by broadcast — no shuffle of the fact for dimension joins."""
    plan = _formatted(QUERIES["region_top3_parts"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # the big fact (lineitem) must never be the broadcast side
    for block in plan.split("\n\n"):
        if "BroadcastExchange" in block:
            assert "lineitem" not in block


def test_cosine_topk_streams_corpus(spark):
    """Brute-force cosine: the corpus side must stay unshuffled (only
    the probe side broadcasts; ranking happens on scored rows)."""
    plan = _formatted(QUERIES["embedding_cosine_topk"](spark, SF_SMOKE))
    # exactly one non-broadcast Exchange: the final per-probe ranking
    n_shuffles = plan.count("+- Exchange ")
    assert n_shuffles <= 1, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """At production scan sizes Catalyst injects a runtime Bloom
    filter from a selective dim/filter side into the fact scan
    (spark.sql.optimizer.runtime.bloomFilter.enabled, default on) —
    rows that can't join are dropped at the scan, before the shuffle.
    The application-side threshold is 10 GiB, so local inputs never
    qualify; this test lowers the thresholds to pin the behavior the
    100 TB deployment gets for free: might_contain(...) over the fact
    key, fed by a bloom_filter_agg subquery on the selective side."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    ords = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").where(
        F.col("o_totalprice") > 400000
    )
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        j = (
            li.join(ords, li.l_orderkey == ords.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:1500]


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling (on in the session factory) splits a
    pathologically hot join key into multiple tasks at runtime —
    the executed plan marks the sort-merge join skew=true. Thresholds
    are lowered to make the local toy skew qualify; at production
    sizes the defaults (256MB/5x median) fire on real skew. This plus
    the map-side partial aggregate (aggregation-side: a hot key
    reaches the shuffle as one partial per map task) and
    operators/salted.key_skew_report (the diagnostic) is the engine's
    complete skew story."""
    from pyspark.sql import functions as F

    hot = spark.range(0, 200_000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(0, 2_000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("p2")
    )
    left = hot.unionByName(
        spark.range(0, 2_000).select((F.col("id") % 50).alias("k"), F.col("id").alias("payload"))
    )
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        # materialize the BARE join: a groupBy on the join key above
        # it would require the join's output partitioning, and AQE
        # refuses to split skewed partitions it must preserve — the
        # skew fix applies to joins feeding partition-agnostic
        # consumers (writes, maps, differently-keyed stages)
        j = left.join(cold, "k")
        j.foreach(lambda r: None)
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan, plan[:1500]
    assert "coalesced and skewed" in plan


def test_bm25_term_filter_runs_map_side(spark):
    """The query-term membership filter must sit directly above the
    explode — BELOW the first exchange — so only matching (doc, term)
    pairs shuffle; document frequencies and corpus stats must arrive
    by broadcast. This is what keeps a few-term query over a 100 TB
    corpus shuffling megabytes."""
    from bigdata_commerce_spark.operators.bm25 import bm25_scores
    from bigdata_commerce_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE)
    plan = (
        bm25_scores(docs, ["spark", "join"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    f = plan.index("Filter __term")
    # plan prints top-down: the exchange appearing BEFORE the filter
    # in the text means the filter executes below (before) it
    assert plan.index("Exchange hashpartitioning(doc_id") < f, plan[:1500]
    assert plan.index("Generate explode") > f
    assert "BroadcastHashJoin [__term" in plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan  # 1-row stats


def test_quantize_is_pure_projection(spark):
    """int8 quantization must compile to a shuffle-free projection —
    no Exchange anywhere — so it runs at scan speed on any corpus."""
    from bigdata_commerce_spark.operators.quantize import quantize_embeddings
    from bigdata_commerce_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, "embeddings", SF_SMOKE)
    plan = (
        quantize_embeddings(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1200]
    assert "Project" in plan


def test_table_diff_prunes_scan_to_audited_columns(spark):
    """table_diff's early projection must reach the parquet reader:
    the events scan reads ONLY keys + compared columns (the narrow-
    shuffle claim in operators/diff.py's docstring), and the
    null-safe key condition still plans as a real equi-join."""
    from bigdata_commerce_spark.operators.diff import table_diff

    ev = load_table(spark, "events", SF_SMOKE)
    old = ev.where("event_id % 2 = 0")
    new = ev.where("event_id % 3 = 0")
    plan = _formatted(
        table_diff(old, new, keys=["event_id"], compare_cols=["value"])
    )
    scans = [
        b for b in plan.split("\n\n") if "Scan parquet" in b and "events" in b
    ]
    assert scans, plan[:800]
    for scan in scans:
        read_schema = next(l for l in scan.splitlines() if "ReadSchema" in l)
        assert "event_id" in read_schema and "value" in read_schema
        for dropped in ("props", "event_type", "user_id", "ts"):
            assert dropped not in read_schema, read_schema
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_editdist_verify_is_banded_and_gram_path_joinful(spark):
    """The verification must be the THRESHOLD form of levenshtein
    (O(d·n) band — three arguments in the plan), and the gram path
    must be equi-joins, not a cartesian candidate generator."""
    from pyspark.sql import functions as F

    from bigdata_commerce_spark.operators.editdist import edit_distance_join

    docs = load_table(spark, "documents", SF_SMOKE)
    out = edit_distance_join(
        docs.where(F.col("doc_id") < 25),
        docs.where(F.col("doc_id") >= 25),
        max_distance=10,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "levenshtein(ltext" in plan and "Some(10)" in plan, plan[:900]
    # the only non-equi join allowed is the bounded short-string
    # theta path (length filter); the gram path joins on gram/lid/rid
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in executed or "ShuffledHashJoin" in executed \
        or "BroadcastHashJoin" in executed


def test_scd2_join_plans_as_hash_join_with_residual(spark):
    """The interval predicate must ride the KEY equi-join as a
    residual condition — a BroadcastNestedLoopJoin here would be a
    fact x dim cross product at 100 TB."""
    import datetime as dt

    from bigdata_commerce_spark.operators.scd2 import changes_to_scd2, scd2_join

    d = dt.date
    chg = spark.createDataFrame(
        [(i, d(2020, 1, 1), "a") for i in range(50)]
        + [(i, d(2021, 1, 1), "b") for i in range(50)],
        "cust long, ts date, tier string",
    )
    dim = changes_to_scd2(chg, ["cust"], "ts")
    fact = spark.createDataFrame(
        [(i, i % 50, d(2020, 6, 1)) for i in range(500)],
        "oid long, cust long, odate date",
    )
    plan = scd2_join(fact, dim, ["cust"], "odate")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "NestedLoop" not in plan, plan[:800]
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_tfidf_has_no_cache_and_no_window_over_term(spark):
    """The cache-vs-recompute decision is MEASURED (see the operator's
    inline note): no InMemoryRelation (caching the (doc,term) frame
    was 2.6x slower at 10x), and no window partitioned by term (a
    stopword's partition would be the whole corpus)."""
    from bigdata_commerce_spark.operators.text import tfidf_top_terms
    from bigdata_commerce_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    plan = tfidf_top_terms(docs, k=3)._jdf.queryExecution().executedPlan(
    ).toString()
    assert "InMemoryTableScan" not in plan
    # one ranking Window (per DOC), with WindowGroupLimit pruning
    # active below the exchange
    assert plan.count("Window [") == 1, plan[:800]
    assert "WindowGroupLimit" in plan


def test_dsir_lm_joins_broadcast_and_no_global_sort(spark):
    """DSIR: both bigram LMs and the keep threshold must reach the
    corpus by broadcast, and the top-fraction keep must never be a
    global sort (the percentile is one aggregate)."""
    docs = load_table(spark, "documents", SF_SMOKE)
    from bigdata_commerce_spark.operators.lm_quality import dsir_logratio

    out = dsir_logratio(docs, docs.where("lang = 'en'"))
    plan = _formatted(out)
    assert "BroadcastHashJoin" in plan
    assert "SortExec" not in plan and "TakeOrdered" not in plan
    # global Sort only ever appears as "Sort " exec node; window-free
    # plan must not contain one over the corpus
    assert "\n* Sort " not in plan and "+- Sort " not in plan, plan


def test_ccnet_bounds_join_is_broadcast(spark):
    """CCNet buckets: the per-language tercile frame (rows = #langs)
    must broadcast back onto the scored corpus — a shuffle join here
    would re-partition the whole corpus for a 6-row table."""
    from bigdata_commerce_spark.operators.lm_quality import perplexity_buckets

    docs = load_table(spark, "documents", SF_SMOKE)
    plan = _formatted(perplexity_buckets(docs))
    assert "BroadcastHashJoin" in plan
    assert "+- Sort " not in plan.replace("SortAggregate", ""), plan


def test_minhash_lsh_single_pass_no_sort_aggregate(spark):
    """r13 single per-doc pass: the signature+shingle-array aggregate
    must be one groupBy over the shingle stream — no SortAggregate
    (the old min(string) signature agg sorted the whole stream) and
    no re-read of an exploded-shingle cache for the verify (the plan
    carries no InMemoryTableScan; the only persisted frame is the
    per-document row, built inside this plan)."""
    plan = _formatted(QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE))
    assert "SortAggregate" not in plan, plan[:1200]
    assert "array_intersect" in plan


def test_jaccard_pairs_no_window_rank(spark):
    """r13: the prefix rank comes from the sorted per-doc array slice,
    not a row_number window — no Window exec over the shingle stream."""
    plan = _formatted(QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE))
    assert "Window [" not in plan, plan[:1200]
    assert "array_intersect" in plan and "slice(" in plan


def test_session_aggregate_reuses_window_partitioning(spark):
    """r13: grouping by (user_id, session_id) lets the sessionizer's
    hashpartitioning(user_id) satisfy the aggregate's distribution —
    no exchange may hash on session_id, and session_stats carries
    exactly TWO exchanges: the sessionizer window's and the one-row
    histogram's SinglePartition (the pre-r13 plan had three)."""
    plan = _formatted(QUERIES["session_stats"](spark, SF_SMOKE))
    assert "hashpartitioning(session_id" not in plan, plan[:1500]
    assert plan.count("+- Exchange ") == 2, plan[:1500]


def test_event_rollup_ladder_reuses_minute_stage(spark):
    """r13: the three-level union shares the minute partial-agg
    exchange via AQE stage reuse — after execution the final plan must
    contain ReusedExchange nodes and no InMemoryRelation (the old
    minute cache)."""
    df = QUERIES["event_rollup_ladder"](spark, SF_SMOKE)
    assert "InMemoryRelation" not in _formatted(df)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:1500]


def test_region_top3_bitmask_aggregate(spark):
    """r13: the nation list must aggregate as a bit_or bitmask (pure
    HashAggregate, 8-byte buffer) — no ObjectHashAggregate carrying
    string sets through the exchange."""
    plan = _formatted(QUERIES["region_top3_parts"](spark, SF_SMOKE))
    assert "ObjectHashAggregate" not in plan, plan[:1200]
    assert "bit_or" in plan


def test_region_top3_nation_list_on_adversarial_dims(spark, tmp_path):
    """The bitmask decode must equal
    array_join(array_sort(collect_set(n_name)), ",") when the nation
    dim is not a clean key -> unique-name map: two keys sharing one
    name (NATION_20 renamed NATION_15, both in AFRICA's top rows)
    collapse to one entry, and a NULL name (NATION_13, in EUROPE's)
    drops out as collect_set drops it."""
    for name in os.listdir(SF_SMOKE):
        if name != "nation.parquet":
            os.symlink(os.path.join(SF_SMOKE, name), tmp_path / name)
    nation = pq.read_table(os.path.join(SF_SMOKE, "nation.parquet"))
    renamed = {"NATION_20": "NATION_15", "NATION_13": None}
    names = [renamed.get(n, n) for n in nation.column("n_name").to_pylist()]
    idx = nation.schema.get_field_index("n_name")
    nation = nation.set_column(idx, nation.schema.field(idx), pa.array(names, pa.string()))
    pq.write_table(nation, tmp_path / "nation.parquet")
    sf = str(tmp_path)

    got = {
        (r["area"], r["l_partkey"]): r["nation_list"]
        for r in QUERIES["region_top3_parts"](spark, sf).collect()
    }
    li = load_table(spark, "lineitem", sf)
    sup = load_table(spark, "supplier", sf)
    nat = load_table(spark, "nation", sf)
    reg = load_table(spark, "region", sf)
    want = {
        (r["area"], r["l_partkey"]): r["nation_list"]
        for r in li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("area"), "l_partkey")
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nation_list"))
        .collect()
    }
    assert got and got == {k: want[k] for k in got}
    # the adversarial names reach the output, so the check is not vacuous
    assert "NATION_15" in {v for (a, _), v in got.items() if a == "AFRICA"}
    assert "NATION_18,NATION_3,NATION_8" in {
        v for (a, _), v in got.items() if a == "EUROPE"
    }
