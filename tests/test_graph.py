"""PageRank (operators/graph.py) against a driver-side reference
power iteration — same definition (damping, uniform dangling-mass
redistribution), tolerance-based because double addition is
order-dependent across partitionings."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.dedup_cluster import connected_components
from bigdata_commerce_spark.operators.graph import pagerank


def _reference(edges, iterations=15, damping=0.85):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    deg: dict = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        in_sum = {v: 0.0 for v in nodes}
        sent = 0.0
        for a, b in edges:
            c = rank[a] / deg[a]
            in_sum[b] += c
            sent += c
        dm = 1.0 - sent
        rank = {
            v: (1 - damping) / n + damping * (in_sum[v] + dm / n) for v in nodes
        }
    return rank


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1),
    (5, 4), (5, 2), (2, 4),
    (6, 1),  # 6 has an in-link? no — 6 only points out; 7 dangling
    (1, 7),  # 7 has no out-links: dangling node
]


def test_pagerank_matches_reference(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    want = _reference(EDGES, iterations=10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_authority_ordering(spark):
    """3 receives links from 1,2,4 — it must outrank the leaf 7 and
    the no-inlink node 6 (which sits at the dangling/teleport floor)."""
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=12).collect()}
    assert got[3] > got[7] > 0
    assert got[3] > got[6]
    assert min(got.values()) > 0


def test_pagerank_parallel_edges_count_twice(spark):
    plain = [(1, 2), (1, 3)]
    doubled = [(1, 2), (1, 2), (1, 3)]
    r1 = {r.node: r.rank for r in pagerank(
        spark.createDataFrame(plain, "src long, dst long"), iterations=6).collect()}
    r2 = {r.node: r.rank for r in pagerank(
        spark.createDataFrame(doubled, "src long, dst long"), iterations=6).collect()}
    want = _reference(doubled, iterations=6)
    assert r2[2] > r1[2]  # double link -> more authority
    for v in want:
        assert r2[v] == pytest.approx(want[v], abs=1e-9)


def test_pagerank_contract_errors(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)


def test_pagerank_empty_edges_returns_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank(df, iterations=3)
    assert out.columns == ["node", "rank"] and out.count() == 0
    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank(df, checkpoint_every=0)


def test_connected_components_releases_edges_on_error(spark):
    """An edge list that fails to compute leaves no cached projection
    behind: the persisted (a, b) frame is released on every exit."""
    edges = spark.range(3).select(
        F.col("id").alias("id1"),
        F.raise_error(F.lit("bad edge")).cast("long").alias("id2"),
    )
    with pytest.raises(Exception, match="bad edge"):
        connected_components(spark.range(4), edges)
    ab = edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    assert ab.storageLevel == StorageLevel.NONE
