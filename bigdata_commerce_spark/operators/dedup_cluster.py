"""Near-duplicate clustering: connected components over dup pairs.

A dedup pipeline needs clusters, not pairs: if A~B and B~C, one
survivor should represent {A, B, C}. Components are computed by
iterative min-label propagation — the standard large-graph approach
(O(diameter) rounds of a keyed aggregation; near-dup clusters are
tiny, so it converges in a handful of rounds). Each round is one
shuffle on the node id; lineage is truncated with localCheckpoint so
the plan doesn't grow per iteration.

This is genuinely iterative (not single-pass SQL) — the oracle uses
DuckDB's recursive CTE for the same fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    max_iterations: int = 20,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Label every node with the minimum node id reachable through
    ``edges`` (undirected). Nodes without edges keep their own id —
    singleton clusters.

    Two-tier execution, decided by the (already materialized) edge
    count — the same size-gating logic as a broadcast join:

    - **small graph** (<= small_graph_threshold edges, ~16 MB at the
      default): union-find on the driver, one collect + one
      createDataFrame. A dedup edge list is near-dup *pairs* — tiny
      relative to the corpus even at 100 TB (256 edges for 5k docs on
      the testdata) — and burning O(rounds) distributed jobs on it is
      pure overhead (measured 7 s of shuffle scheduling for those 256
      edges vs milliseconds of union-find).
    - **large graph**: iterative min-label propagation with pointer
      jumping (path halving), O(log diameter) rounds, each one keyed
      shuffle; lineage truncated per round with localCheckpoint.

    Returns (node_col, 'cluster_id').
    """
    raw = edges.select(F.col("id1").alias("a"), F.col("id2").alias("b")).persist()
    sym = None
    try:
        n_edges = raw.count()

        if n_edges <= small_graph_threshold:
            # Small graph: collect the raw (un-symmetrized, possibly
            # duplicated) edges straight to the driver — union-find doesn't
            # need the distinct/symmetrize shuffle the distributed loop
            # does.
            spark = nodes.sparkSession
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            edge_rows = raw.collect()
            for r in edge_rows:
                ra, rb = find(r.a), find(r.b)
                if ra != rb:
                    # union by min: the surviving root is the smaller id,
                    # so every final root IS the component minimum
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            members = {x for r in edge_rows for x in (r.a, r.b)}
            labels_local = [(x, find(x)) for x in members]
            id_type = nodes.schema[node_col].dataType.simpleString()
            # One local DF + one broadcast LEFT join: edge-nodes take
            # their union-find label, everything else falls through
            # coalesce to its own id (singletons). Parallelize the local
            # list as ONE slice: plain createDataFrame splits it into
            # defaultParallelism Python-RDD slices, each costing a
            # Python-worker round-trip to evaluate — and coalesce(1)
            # makes that *worse* (one task evaluates all slices serially;
            # measured ~7 s for 25 rows on local[32]).
            labels = spark.createDataFrame(
                spark.sparkContext.parallelize(labels_local or [], 1),
                f"a {id_type}, label {id_type}",
            )
            return (
                nodes.select(F.col(node_col).alias("a"))
                .join(F.broadcast(labels), "a", "left")
                .select(
                    F.col("a").alias(node_col),
                    F.coalesce("label", F.col("a")).alias("cluster_id"),
                )
            )

        sym = (
            raw.unionByName(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            # Materialize once via persist (NOT localCheckpoint: that goes
            # through the RDD path and bypasses AQE's optimized shuffles,
            # measured 4x slower on a Jaccard-derived edge list). The edge
            # list is consumed every iteration; leaving it lazy re-runs
            # the upstream near-dup pipeline per round.
            .persist()
        )
        sym.count()
        # Only nodes with edges participate in propagation; isolated nodes
        # are singleton clusters by definition and skip the loop entirely
        # (on a dedup graph that's the overwhelming majority).
        # localCheckpoint (eager): consumed again by the singleton
        # anti-join AFTER sym is unpersisted below — a lazy plan there
        # would re-run the whole upstream pair pipeline.
        edge_nodes = sym.select("a").distinct().localCheckpoint()
        labels = edge_nodes.select("a", F.col("a").alias("label"))
        changed = -1
        for _ in range(max_iterations):
            neighbor_min = (
                sym.join(labels.withColumnRenamed("a", "b"), "b")
                .groupBy("a")
                .agg(F.min("label").alias("nmin"))
            )
            hop = labels.join(neighbor_min, "a", "left").select(
                "a", F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label")
            )
            # Pointer jumping (path halving): label <- min(label, label's
            # label). Plain one-hop propagation needs O(diameter) rounds;
            # composing it with this doubling step converges in
            # O(log diameter) — on a long duplicate chain of 1000 docs
            # that's ~10 rounds instead of ~1000.
            parents = hop.select(
                F.col("a").alias("label"), F.col("label").alias("parent")
            )
            new_labels = (
                hop.join(parents, "label", "left")
                .select(
                    "a",
                    F.least(F.col("label"), F.coalesce("parent", "label")).alias("label"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "a")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # A silent cutoff would return labels that diverge from the
            # recursive-CTE fixpoint oracle on long duplicate chains.
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                f"iterations ({changed} labels still changing); raise "
                "max_iterations"
            )
        singletons = (
            nodes.select(F.col(node_col).alias("a"))
            .join(edge_nodes, "a", "left_anti")
            .select("a", F.col("a").alias("label"))
        )
        return labels.unionByName(singletons).select(
            F.col("a").alias(node_col), F.col("label").alias("cluster_id")
        )
    finally:
        # the small-graph result is a local frame and labels/edge_nodes
        # are localCheckpoint-ed (lineage cut), so the cached edge lists
        # are no longer needed on ANY exit — including a failing edge
        # count and the non-convergence raise, where leaking them would
        # accumulate storage across retry attempts
        raw.unpersist()
        if sym is not None:
            sym.unpersist()


def dedup_survivors(clusters: DataFrame, quality: DataFrame | None = None) -> DataFrame:
    """Pick one survivor per cluster: highest quality (ties -> lowest
    id), or lowest id when no quality signal is given. Returns
    (cluster_id, survivor_id, cluster_size)."""
    if quality is not None:
        scored = clusters.join(
            quality.select(F.col("id"), F.col("quality")), "id", "left"
        ).withColumn("quality", F.coalesce(F.col("quality"), F.lit(0.0)))
        # min_by over (negated QUALITY, id): max quality then min id in
        # one aggregate. The quality column is numeric by contract so
        # negating it is safe for ANY id type — negating the ID (the
        # previous form) broke on the string/uuid ids
        # connected_components explicitly supports.
        best = F.min_by(
            "id", F.struct((-F.col("quality")).alias("nq"), F.col("id"))
        ).alias("survivor_id")
        return scored.groupBy("cluster_id").agg(
            best, F.count(F.lit(1)).alias("cluster_size")
        )
    return clusters.groupBy("cluster_id").agg(
        F.min("id").alias("survivor_id"), F.count(F.lit(1)).alias("cluster_size")
    )


def canonical_per_cluster(clusters: DataFrame, docs: DataFrame) -> DataFrame:
    """Canonical-representative selection — the step after clustering
    that curation actually needs: one surviving document per near-dup
    cluster, the one with the largest ``n_chars`` (ties -> smallest
    id; a total order, so the survivor is deterministic).

    A thin document-shaped façade over `dedup_survivors` — the ONE
    min_by-over-(neg order, id) aggregate kernel (no ranking window,
    mergeable map-side partials; ``n_chars`` numeric by contract,
    the id never negated so string/uuid ids work). INNER-join member
    semantics: cluster members with no docs row (or NULL order) are
    neither survivor-eligible nor counted in n_members — a survivor
    must have a document behind it (matters when order is a signed
    score: dedup_survivors' own 0.0 imputation would outrank real
    negative scores). Output: (cluster_id, canonical id, n_members).
    """
    scored = docs.where(F.col("n_chars").isNotNull()).select(
        F.col("doc_id").alias("id"), F.col("n_chars").alias("quality")
    )
    members = clusters.select(
        F.col("doc_id").alias("id"), F.col("cluster_id").alias("cluster_id")
    ).join(scored.select("id"), "id", "left_semi")
    out = dedup_survivors(members, quality=scored)
    return out.select(
        F.col("cluster_id").alias("cluster_id"),
        F.col("survivor_id").alias("doc_id"),
        F.col("cluster_size").alias("n_members"),
    )
