"""Persisted IVF index: the corpus written ``partitionBy`` cell, so
probe-time reads scan only ``nprobe / n_centroids`` of the data.

``ivf_topk`` (operators/similarity.py) recomputes cell assignment on
every search — right for one-shot queries, wasteful for a served index.
This module splits the lifecycle the way a 100 TB deployment must:

- **build once** (``write_ivf_index``): one broadcast-fold pass over
  the corpus assigns cells (no shuffle), then the vectors land in
  parquet partitioned by ``centroid_id``. The centroid table (tiny —
  n_centroids rows) sits beside the cells as the index metadata.
- **search many** (``search_ivf_index``): score the probes against the
  centroid table, collect the <= probes x nprobe cell ids (driver-side
  by contract: probes are few — same bounded-collect discipline as
  operators/funnel.py), and read the cell store with an ``isin``
  filter on the partition column. Catalyst turns that into partition
  pruning — the scan's PartitionFilters line shows it, and a test
  asserts it — so the bytes read per query scale with nprobe, not with
  the corpus. No full-corpus pass ever happens at search time.

Search results are bit-identical to ``ivf_topk`` with the same
centroids: same assignment fold, same nprobe selection, same exact
re-rank (asserted in tests).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.cache_util import persist_bounded
from bigdata_commerce_spark.operators.similarity import (
    _as_double,
    _assign_cells_best,
    _centroid_fold_row,
    _exact_rerank,
    _probe_cells,
    md5_centroids,
)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> None:
    """Build the index at ``path``: ``cells/`` holds (id, vector) rows
    partitioned by ``centroid_id``; ``centroids/`` holds the quantizer.

    ``centroids`` defaults to the deterministic md5 pick; pass a
    trained table (e.g. from ``ivf_kmeans_topk``'s KMeans) to serve a
    refined quantizer — the layout is identical.
    """
    if centroids is None:
        centroids = md5_centroids(corpus, n_centroids)
    # loud, not lazy: an empty corpus yields zero md5-picked centroids
    # — no quantizer, so the index would be unreadable garbage. An
    # EMPTY index is still legitimate (build-then-append): pass a
    # trained/frozen `centroids=` table explicitly.
    if not centroids.take(1):
        raise ValueError(
            "cannot build an IVF index from an empty/all-NULL corpus: "
            "the quantizer needs at least one vector (pass centroids= "
            "to seed an empty index for later append)"
        )
    c = corpus.select(
        F.col("vec_id").alias("corpus_id"), _as_double("embedding").alias("cvec")
    )
    # Arrow-kernel assignment (similarity._assign_cells_best): this is
    # the pass that touches every corpus vector at index build.
    assigned, _, _ = _assign_cells_best(c, "cvec", centroids)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/cells"
    )
    # schema anchor: partitionBy on an empty frame writes NO data
    # files, and a later read of cells/ would fail schema inference —
    # a 0-row unpartitioned copy pins the schema for search_ivf_index
    assigned.limit(0).write.mode("overwrite").parquet(f"{path}/cells_schema")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def append_to_ivf_index(
    delta: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a written index: assign the delta
    against the INDEX'S OWN centroids (read back from ``centroids/`` —
    the quantizer is frozen at build time, so old and new vectors are
    binned identically) and append the rows into the partitioned cell
    store. No rebuild, no touch of existing data: parquet append under
    ``partitionBy`` only adds files inside the affected cell
    directories. Searches immediately see the union — results equal a
    one-shot build over the full corpus with the same centroids
    (asserted in tests).

    At 100 TB this is the steady-state ingest path: per-batch cost is
    one broadcast fold over the batch. Cell skew/drift accumulates as
    the data distribution moves away from the frozen quantizer —
    monitor per-cell row counts and re-quantize + rebuild when the
    largest cell exceeds budget (rebuild is ``write_ivf_index`` with
    fresh centroids; the layout is unchanged). Small appended files
    are exactly what ``sources/compaction.compact`` exists for — run
    it per closed cell directory.
    """
    spark = delta.sparkSession
    centroids = spark.read.parquet(f"{path}/centroids")
    c = delta.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cvec")
    )
    assigned, _, _ = _assign_cells_best(c, "cvec", centroids)
    assigned.write.mode("append").partitionBy("centroid_id").parquet(f"{path}/cells")


def ivf_append_sink(path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
    """foreachBatch sink: streaming IVF index maintenance — each
    micro-batch of embeddings is assigned and appended to the store.

    Parquet append alone is not idempotent under Structured
    Streaming's at-least-once ``foreachBatch``, so the sink keeps an
    epoch ledger (one empty marker file per applied epoch, the same
    discipline as ``streaming/sinks.py``): a replayed epoch finds its
    marker and skips the append. The marker is written AFTER the
    append commits — a crash between append and marker re-appends
    that epoch on restart, the standard at-least-once ledger caveat;
    the JDBC backend's transactional ledger is the strict
    exactly-once alternative."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(
            f"{path}/epochs/epoch={int(epoch_id)}"
        )
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return
        append_to_ivf_index(batch_df, path, id_col, vec_col)
        fs.create(marker, True).close()

    return fn


def search_ivf_index(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k per probe against a written index, touching only the
    probes' 4 nearest cells. Returns (probe_id, corpus_id, score,
    rank) exactly as ``ivf_topk`` would."""
    centroids = spark.read.parquet(f"{path}/centroids")
    cent_row, _ = _centroid_fold_row(centroids)
    p = probes.select(
        F.col("vec_id").alias("probe_id"), _as_double("embedding").alias("pvec")
    )
    # Persisted because the cell-id collect and the returned lazy
    # frame both read it; the bounded registry releases it later.
    probe_cells = persist_bounded(_probe_cells(p, cent_row, 4))
    # Bounded collect (<= probes x nprobe ids): materializing the cell
    # list as LITERALS is what lets the scan prune statically — a
    # broadcast-join form would read every partition and discard rows
    # after the fact unless runtime DPP happens to fire.
    wanted = sorted({r.centroid_id for r in probe_cells.select("centroid_id").collect()})
    cells = _read_cells(spark, path).where(F.col("centroid_id").isin(wanted))
    candidates = (
        F.broadcast(probe_cells)
        .join(cells, "centroid_id")
        .where(F.col("corpus_id") != F.col("probe_id"))
        .select("probe_id", "corpus_id")
    )
    index_vectors = cells.select(
        F.col("corpus_id").alias("vec_id"), F.col("cvec").alias("embedding")
    )
    return _exact_rerank(candidates, index_vectors, probes, k, "vec_id", "embedding")


def _read_cells(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned cell store with the schema pinned by the
    0-row ``cells_schema`` anchor — an empty (seeded-for-append) index
    has no cell data files to infer from. Indexes written before the
    anchor existed fall back to inference."""
    try:
        cell_schema = spark.read.parquet(f"{path}/cells_schema").schema
        reader = spark.read.schema(cell_schema)
    except AnalysisException:  # anchor absent in older indexes
        # Only the documented "index written before the anchor
        # existed" case (PATH_NOT_FOUND / unreadable-as-table) may
        # fall back to inference; a transient FS or permission error
        # must surface, not silently degrade (round-6 advice).
        reader = spark.read
    return reader.parquet(f"{path}/cells")


def cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell observability for quantizer drift: (centroid_id, n_rows,
    frac, skew) where ``skew`` = n_rows / mean-cell-size. The append
    path freezes the quantizer at build time, so as the data
    distribution moves the largest cells grow unboundedly — this is
    the monitoring hook SCALE.md prescribes: re-quantize + rebuild when
    max(skew) exceeds budget. One count-per-partition aggregate; at
    100 TB the scan reads only parquet footer row counts (count(*)
    per partition is metadata-only for parquet)."""
    counts = (
        _read_cells(spark, path)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = Window.partitionBy()
    return counts.select(
        "centroid_id",
        "n_rows",
        (F.col("n_rows") / F.sum("n_rows").over(tot)).alias("frac"),
        (F.col("n_rows") / F.avg("n_rows").over(tot)).alias("skew"),
    )


def pruned_cell_scan(
    spark: SparkSession, path: str, cell_ids: list
) -> DataFrame:
    """The raw partition-pruned scan of selected cells — exposed so
    plan tests (and downstream bulk jobs like per-cell compaction) can
    assert PartitionFilters directly."""
    return _read_cells(spark, path).where(
        F.col("centroid_id").isin(cell_ids)
    )
