"""Reciprocal-rank fusion (operators/hybrid.py). The end-to-end
BM25+cosine oracle check lives in test_twin_queries.py
(hybrid_search_rrf); here: the fusion law on crafted lists,
absent-candidate handling, tie-breaking, and the top-m plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.hybrid import rrf_fuse
from bigdata_commerce_spark.operators.topk import rank_top_m


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, rank int")


def test_rrf_law_and_missing_candidates(spark):
    # doc 1 in both lists; doc 2 lex-only; doc 3 sem-only.
    lex = _mk(spark, [(1, 1), (2, 2)])
    sem = _mk(spark, [(1, 2), (3, 1)])
    out = {
        r["doc_id"]: r.asDict()
        for r in rrf_fuse({"lex": lex, "sem": sem}, ["doc_id"]).collect()
    }
    assert out[1]["rrf"] == round(1 / 61 + 1 / 62, 6)
    assert out[2]["rrf"] == round(1 / 62, 6)
    assert out[2]["rank_sem"] is None
    assert out[3]["rrf"] == round(1 / 61, 6)
    assert out[3]["rank_lex"] is None


def test_top_n_orders_by_fused_score_then_id(spark):
    lex = _mk(spark, [(1, 1), (2, 2), (3, 3)])
    sem = _mk(spark, [(3, 1), (2, 2), (1, 3)])
    # docs 1 and 3 tie exactly (ranks {1,3}), doc 2 has {2,2}:
    # 1/61+1/63 > 2/62 (RRF is convex in rank), so the tied pair
    # wins and breaks on doc_id; doc 2 comes last.
    out = rrf_fuse(
        {"lex": lex, "sem": sem}, ["doc_id"]
    ).orderBy("rank")
    assert [r["doc_id"] for r in out.collect()] == [1, 3, 2]


def test_single_list_fusion_is_identity_ranking(spark):
    lex = _mk(spark, [(10, 1), (20, 2)])
    out = rrf_fuse({"lex": lex}, ["doc_id"])
    assert [(r["doc_id"], r["rank"]) for r in out.orderBy("rank").collect()] == [
        (10, 1),
        (20, 2),
    ]


def test_empty_lists_rejected(spark):
    with pytest.raises(ValueError):
        rrf_fuse({}, ["doc_id"])


def test_rank_top_m_plans_take_ordered(spark):
    df = spark.range(10000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).cast("double").alias("score")
    )
    ranked = rank_top_m(df, [F.desc("score"), F.asc("doc_id")], 5)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert all(r["score"] == 96.0 for r in rows)
