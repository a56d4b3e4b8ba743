"""Distributed link analysis: PageRank over an edge DataFrame.

Corpus-curation pipelines rank pages/domains by link authority
(PageRank / harmonic centrality) and use the score as a crawl-
priority and quality prior — alongside the dedup/quality gates in
operators/text.py. The reference has nothing iterative at all; the
engine's other iterative op (connected components,
operators/dedup_cluster.py) settles membership; this one settles a
numeric fixpoint.

Spark shape per iteration (the standard power-iteration layout):

- contributions = edges ⋈ ranks on src (one shuffle on src — edges
  are PRE-PARTITIONED on src once, so every iteration's join reuses
  the same partitioning and only the small rank table moves);
- new ranks = contributions groupBy dst (second shuffle, on dst);
- dangling mass (nodes with no out-links) is summed in the same pass
  (a one-row aggregate) and redistributed uniformly, so total rank
  stays 1 and the result matches the textbook definition.

Each iteration's contribution aggregate is persisted (two consumers:
the dangling scalar and the rank update) and materialized by the
one-float dangling collect, so every round computes exactly its own
join+agg and the logical plan stays LINEAR in iterations; an eager
localCheckpoint every ``checkpoint_every`` rounds truncates the
lineage and releases the segment's persisted aggregates (the same
measured lesson as the CC loop's per-round checkpoint).

Float caveat: ranks are doubles and + is order-dependent, so results
are reproducible to ~1e-12, not bit-exact — verification is against
a driver-side reference implementation with tolerance
(tests/test_graph.py), not a hash-comparing SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 15,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Power-iteration PageRank over directed edges (duplicate edges
    count as parallel links). Returns (node, rank); ranks sum to 1.

    Fixed iteration count, not a convergence test: a residual check
    per round costs an extra action + full pass, and curation
    pipelines want deterministic cost. 15 iterations settles well
    past typical link-graph mixing times; callers can raise it.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")

    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Pre-partition ONCE on the join key; every iteration's join then
    # reuses this partitioning (no re-shuffle of the edge table, which
    # is the big side at 100 TB). Out-degree rides along so the
    # per-iteration join is edges+degree x ranks only.
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = e.join(out_deg, "src").repartition("src").persist()
    # every persisted frame is released on every exit, the error
    # paths included
    held = [e]
    live_contribs: list[DataFrame] = []
    try:
        n_nodes = nodes.count()  # also materializes the node set
        if n_nodes == 0:
            # empty link graph (a crawl slice with no extracted edges is
            # routine): empty result, not a ZeroDivisionError; preserve
            # the caller's node type (ids may be strings/URLs)
            return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)

        nodes = nodes.repartition("node").persist()
        held.append(nodes)
        ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))

        for i in range(iterations):
            # The ONE edges-x-ranks join + aggregate per iteration,
            # persisted because TWO consumers need it (the dangling-mass
            # scalar and the rank update) — unpersisted at the next
            # checkpoint, once nothing can re-reference it.
            contribs = (
                e.join(ranks, e.src == F.col("node"))
                .select(
                    F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
                .persist()
            )
            live_contribs.append(contribs)
            # Dangling mass = 1 - what left through edges this round
            # (total received == total sent, so the SAME aggregate serves;
            # a second join here measured ~2x per-iteration wall). The
            # collect is ONE float and doubles as the materialization of
            # the persisted aggregate — the Pregel-loop cadence: each
            # iteration computes exactly its own join+agg, the plan stays
            # linear in iterations.
            sent = (
                contribs.agg(F.coalesce(F.sum("in_sum"), F.lit(0.0))).collect()[0][0]
            )
            dm = 1.0 - sent
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + F.lit(dm / n_nodes))
                ).alias("rank"),
            )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                ranks = ranks.localCheckpoint(eager=True)
                for c in live_contribs:
                    c.unpersist()
                live_contribs = []
        return ranks
    finally:
        for df in held + live_contribs:
            df.unpersist()
