"""Similarity search over embedding columns (array<float>).

Two paths, as a 100 TB pipeline needs:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The probe side is broadcast; the corpus side streams, so cost is
  O(corpus x probes) with no shuffle of the corpus. Dot products are
  sequential left folds over doubles (``F.aggregate``), bit-identical
  to the oracle's ``list_reduce`` fold.
- ``lsh_ann_topk``: sign-random-projection LSH — the scale path.
  Seeded hyperplanes applied by a vectorized pandas UDF (one numpy
  matmul per Arrow batch), candidates from banded bucket joins on id
  pairs, exact re-rank of candidates only. Approximate -> no SQL
  oracle; recall is asserted against the brute-force baseline in
  tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# |x| band where ROUND(x, 4) is engine-portable: x*10^4 stays under
# 2^53, so Spark's exact BigDecimal round and a float-math round
# (DuckDB) agree bit-for-bit. Beyond it rounding is sub-ULP noise and
# the raw double is the stable representation.
ROUND_SAFE_ABS = 1e11


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic float order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for every probe vector, the k nearest
    corpus vectors (self excluded). Probe side is broadcast — corpus
    is scanned once, never shuffled; ranking windows partition by
    probe id. Scores rounded to 4dp *before* ranking so rank order is
    engine-stable."""
    # Norms hoisted onto each SIDE before the join (the neardup_pairs
    # precedent): norm(cvec) otherwise re-folds per probe and
    # norm(pvec) per corpus row. try_divide(dot, nc*np) is the exact
    # expression _cosine builds over the same values — bit-identical.
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cvec")
    ).withColumn("__nc", _norm(F.col("cvec")))
    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(vec_col).alias("pvec")
    ).withColumn("__np", _norm(F.col("pvec")))
    scored = (
        c.join(F.broadcast(p), F.col("corpus_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "corpus_id",
            F.round(
                F.try_divide(
                    _dot(F.col("cvec"), F.col("pvec")), F.col("__nc") * F.col("__np")
                ),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "corpus_id", "score", "rank")
    )


def _sign_buckets(
    df: DataFrame,
    out_id: str,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    bands: int,
) -> DataFrame:
    """(id, band, bucket) rows from sign-random-projection bits.

    Plane projection as a vectorized pandas UDF: one numpy matmul
    per Arrow batch. Column-expression forms were tried and both
    lose: an unrolled 16x64 sum chain blows Janino's 64KB codegen
    limit, and array-literal folds put ~2000 literal nodes in the
    plan — Catalyst analysis/optimization of that tree cost ~4s per
    query on the DRIVER, dwarfing the actual math. The UDF plan is
    one node; the planes ship once in the closure."""
    num_planes = planes.shape[0]
    # bands must tile the bit string exactly: bands > num_planes makes
    # every bucket the zero-width substring '' — one global bucket,
    # i.e. a silent all-pairs cross join at exactly the scale this
    # banding exists to prevent.
    if not 1 <= bands <= num_planes or num_planes % bands:
        raise ValueError(
            f"bands must divide num_planes (got bands={bands}, num_planes={num_planes})"
        )
    rows_per_band = num_planes // bands

    @F.pandas_udf("string")
    def bit_string(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        signs = m.astype(np.float64) @ planes.T >= 0
        return pd.Series(["".join("1" if b else "0" for b in row) for row in signs])

    bands_cols = [
        F.struct(
            F.lit(bnd).alias("band"),
            F.substring(
                F.col("__bits"), bnd * rows_per_band + 1, rows_per_band
            ).alias("bucket"),
        )
        for bnd in range(bands)
    ]
    return (
        df.select(F.col(id_col).alias(out_id), bit_string(F.col(vec_col)).alias("__bits"))
        .select(out_id, F.explode(F.array(*bands_cols)).alias("bb"))
        .select(
            out_id,
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup
    member of the dedup family (exact / n-gram / MinHash / SimHash /
    embedding). Candidates come from the same sign-LSH banding as
    ``lsh_ann_topk`` but as a corpus *self-join* (id1 < id2); the
    exact cosine verify keeps only pairs >= ``threshold``.

    Scale shape is identical to MinHash-LSH dedup: banded bucket
    equi-join, verify on candidates only. Recall < 1 by design —
    governed by the band/plane geometry, not data size; the pipeline
    is deterministic (seeded planes), so the DuckDB oracle reproduces
    it exactly.

    The bits-per-band width (num_planes/bands) is the recall/cost
    dial: b bits -> 2^b buckets per band, candidate volume ~ N^2/2^b
    per band at uniform load. The defaults (4 bits = 16 buckets) suit
    this corpus's moderate-similarity pairs (max cosine ~0.5 in the
    synthetic embeddings); a production near-dup pass at threshold
    >= 0.9 should use 8-bit bands (256 buckets, ~16x fewer candidates)
    — per-bit agreement p = 1 - angle/pi ~ 0.86 there, so 6x8-bit
    bands still recall ~87% of true pairs.

    Returns (id1, id2, score) with id1 < id2.
    """
    planes = np.random.default_rng(seed).standard_normal((num_planes, dim))
    # ONE bucket table self-joined — two _sign_buckets calls would run
    # the plane-projection UDF over the corpus twice; persist so the
    # self-join's two sides share a single materialization.
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    b = persist_bounded(_sign_buckets(corpus, "vid", id_col, vec_col, planes, bands))
    candidates = (
        b.select(F.col("vid").alias("id1"), "band", "bucket")
        .join(b.select(F.col("vid").alias("id2"), "band", "bucket"), ["band", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # Verify parallelism note (measured both ways): candidate rows are
    # tiny (two longs) but each costs a 2*dim-float cosine after the
    # join, so on a SMALL corpus AQE's size-based coalescing can
    # collapse the verify to a few partitions and serialize the math
    # (2.2x this query's wall at sf0.1). An unconditional
    # repartition() fixes that case but round-trips the ENTIRE
    # candidate stream through an extra shuffle — at 10x corpus the
    # candidate set is ~N^2/2^bits rows and the shuffle dominated the
    # whole query (84x wall in scale_probe.py). Candidate volume is
    # the quantity that grows, so the shuffle-free plan is the one
    # that survives scale. The session factory closes the small-corpus
    # case from the conf side instead: coalescePartitions.
    # minPartitionSize=64k (see session.py) floors the coalescing so
    # this stage keeps ~core-count tasks (measured 1.60->0.74 s at
    # sf0.1, neutral at the 10x probe where byte-based sizing
    # dominates anyway).
    # Norms precomputed PER CORPUS ROW, not per candidate pair: the
    # verify's cosine is 3 array folds (dot + two norms) and the
    # candidate set is ~N^2/2^bits times larger than the corpus —
    # hoisting the norm folds onto the N-row side cuts per-pair work
    # to the single dot fold (measured 2.5s -> 1.0s verify at sf0.1).
    # Bit-identical result: the SAME _norm fold just runs earlier, and
    # try_divide(dot, n1*n2) is the exact expression _cosine builds,
    # so the DuckDB oracle needs no restatement.
    v1 = corpus.select(
        F.col(id_col).alias("id1"), _as_double(vec_col).alias("v1")
    ).withColumn("__n1", _norm(F.col("v1")))
    v2 = corpus.select(
        F.col(id_col).alias("id2"), _as_double(vec_col).alias("v2")
    ).withColumn("__n2", _norm(F.col("v2")))
    # Threshold the UNROUNDED cosine, round only for output — the
    # oracle's WHERE-before-ROUND shape (a rounded-then-filtered score
    # admits pairs in [t - 5e-5, t) the oracle rejects).
    return (
        candidates.join(v1, "id1")
        .join(v2, "id2")
        .select(
            "id1",
            "id2",
            F.try_divide(
                _dot(F.col("v1"), F.col("v2")), F.col("__n1") * F.col("__n2")
            ).alias("__raw"),
        )
        .where(F.col("__raw") >= threshold)
        .select("id1", "id2", F.round("__raw", 4).alias("score"))
    )


def _exact_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of every ANN path: join vectors back onto bare
    (probe_id, corpus_id) candidate pairs, score exact cosine, keep
    the top k per probe. Probe side broadcast; scores rounded to 4dp
    before ranking so rank order is engine-stable."""
    # Norms hoisted onto the vector sides before the candidate joins
    # (the neardup_pairs precedent): computed once per corpus/probe
    # row instead of once per candidate pair. try_divide(dot, nc*np)
    # is the exact expression _cosine builds — bit-identical.
    c_vec = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("corpus_vec")
    ).withColumn("__nc", _norm(F.col("corpus_vec")))
    p_vec = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(vec_col).alias("probe_vec")
    ).withColumn("__np", _norm(F.col("probe_vec")))
    scored = (
        candidates.join(c_vec, "corpus_id")
        .join(F.broadcast(p_vec), "probe_id")
        .select(
            "probe_id",
            "corpus_id",
            F.round(
                F.try_divide(
                    _dot(F.col("corpus_vec"), F.col("probe_vec")),
                    F.col("__nc") * F.col("__np"),
                ),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "corpus_id", "score", "rank")
    )


def _centroid_fold_row(centroids: DataFrame):
    """(one-row broadcast DF holding all centroids as a sorted struct
    array, centroid-id type string). Sorted for a deterministic fold
    order, though argmax-with-tiebreak is order-independent. Each
    struct carries the centroid's norm (``cn``) precomputed ONCE at
    build — the per-row scoring fold otherwise re-folds every
    centroid's norm per corpus row (norm-hoisting, the neardup_pairs
    precedent)."""
    id_type = centroids.schema["centroid_id"].dataType.simpleString()
    cent_row = F.broadcast(
        centroids.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("centroid_id").alias("cid"),
                        F.col("centroid_vec").alias("cv"),
                        _norm(F.col("centroid_vec")).alias("cn"),
                    )
                )
            ).alias("cents")
        )
    )
    return cent_row, id_type


def _cell_scores(vec: str) -> Column:
    """Per-row array of (cosine score, centroid id) structs against the
    broadcast ``cents`` array. transform (scores once per centroid)
    then fold on cheap scalars — a lambda body referencing the dot
    product twice would re-evaluate it per element. ``__nv`` must
    be a BOUND column holding norm(vec) (callers compute it once per
    row before the centroid crossJoin): referencing an in-projection
    alias here would re-fold the row norm per centroid.
    try_divide(dot, nv*cn) is the exact expression _cosine builds over
    the same values — bit-identical scores."""
    return F.transform(
        F.col("cents"),
        lambda cent: F.struct(
            F.round(
                F.try_divide(
                    _dot(F.col(vec), cent["cv"]), F.col("__nv") * cent["cn"]
                ),
                4,
            ).alias("s"),
            cent["cid"].alias("cid"),
        ),
    )


def _assign_cells(
    df: DataFrame, vec: str, cent_row: DataFrame, id_type: str
) -> DataFrame:
    """``df`` plus its nearest-centroid ``centroid_id`` column.

    A pure per-row fold over the broadcast centroid array: NO shuffle,
    NO n_centroids-times row amplification (the window-rank formulation
    shuffled 16N scored rows through an Exchange just to keep rank 1 of
    each group — visible in .explain and pure waste at corpus scale).
    """
    best = F.aggregate(
        _cell_scores(vec),
        F.struct(
            F.lit(-2.0).cast("double").alias("s"),
            F.lit(None).cast(id_type).alias("cid"),
        ),
        lambda acc, x: F.when(
            (x["s"] > acc["s"]) | ((x["s"] == acc["s"]) & (x["cid"] < acc["cid"])),
            x,
        ).otherwise(acc),
    )
    # row norm computed once BELOW the crossJoin so the scoring
    # transform references a bound attribute, not a per-centroid
    # re-fold of the alias
    return (
        df.withColumn("__nv", _norm(F.col(vec)))
        .crossJoin(cent_row)
        .select(*df.columns, best["cid"].alias("centroid_id"))
    )


def _round4_like_spark(s: "np.ndarray") -> "np.ndarray":
    """Vectorized reproduction of Spark's round(double, 4): HALF_UP on
    BigDecimal(Double.toString(x)). Away from the .00005 boundaries
    the binary formula floor(|x|*1e4 + 0.5) equals it exactly (the
    shortest-repr decimal differs from the binary value by < 1 ulp,
    far under the 1e-7 guard band); the rare boundary suspects are
    resolved through Python's repr (shortest round-trip decimal, the
    same string Double.toString yields for these short-fraction
    values) + decimal HALF_UP. NaN (the NULL marker) passes through.
    """
    from decimal import ROUND_HALF_UP, Decimal

    scaled = s * 1e4
    absn = np.abs(scaled)
    r = np.copysign(np.floor(absn + 0.5), s) / 1e4
    frac_dist = np.abs(absn - np.floor(absn) - 0.5)
    suspects = np.nonzero(frac_dist < 1e-7)
    if len(suspects[0]):
        q = Decimal("0.0001")
        flat_idx = zip(*suspects)
        for idx in flat_idx:
            v = float(s[idx])
            r[idx] = float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))
    return r


def _assign_cells_arrow(
    df: DataFrame, vec: str, centroid_rows: list, id_type: str
) -> DataFrame:
    """``df`` plus its nearest-centroid ``centroid_id`` — the Arrow
    kernel form of ``_assign_cells`` (guide §4: the fold is ~16 dots x
    64 interpreted fold steps per row; the kernel runs the identical
    arithmetic vectorized over the batch).

    Bit-identity with the fold (pinned by tests/fuzz + oracle): every
    accumulation runs in the fold's exact order — sequential over the
    dimension, vectorized over rows — with IEEE float64 ops, so dots
    and norms are bit-equal; try_divide's NULL-on-zero-denominator
    becomes NaN; rounding reproduces Spark's round(.,4) (see
    _round4_like_spark); argmax over the cid-ascending centroid block
    with first-wins ties reproduces the fold's
    "higher score, then smaller cid" rule. Rows whose vector is NULL,
    ragged, or carries NULL elements get a NULL cid — the same outcome
    the fold produces (every score NULL). Non-finite embeddings are
    outside the contract (operators/validate.finite is the gate), as
    Spark's NaN-is-largest comparison has no numpy counterpart.

    ``centroid_rows``: collected (centroid_id, centroid_vec) rows —
    n_centroids rows, the funnel-spec/centroid collect pattern the
    plan-manifest already documents.
    """
    cents = sorted(centroid_rows, key=lambda r: r[0])
    cids = [r[0] for r in cents]
    cmat = np.array([list(r[1]) for r in cents], dtype=np.float64)
    k, d = cmat.shape
    # centroid norms, the fold's sequential order
    cn = np.zeros(k)
    for j in range(d):
        cn += cmat[:, j] * cmat[:, j]
    cn = np.sqrt(cn)

    @F.pandas_udf(id_type)
    def nearest(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        n = len(vals)
        if n == 0:
            return pd.Series([], dtype=object)
        mat = np.full((n, d), np.nan)
        for i, v in enumerate(vals):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.shape == (d,):
                mat[i] = a
        nv = np.zeros(n)
        for j in range(d):
            nv += mat[:, j] * mat[:, j]
        nv = np.sqrt(nv)
        scores = np.empty((n, k))
        for ci in range(k):
            dot = np.zeros(n)
            cv = cmat[ci]
            for j in range(d):
                dot += mat[:, j] * cv[j]
            denom = nv * cn[ci]
            with np.errstate(divide="ignore", invalid="ignore"):
                sc = dot / denom
            sc[denom == 0.0] = np.nan  # try_divide: NULL on zero denominator
            scores[:, ci] = _round4_like_spark(sc)
        masked = np.where(np.isnan(scores), -np.inf, scores)
        best = np.argmax(masked, axis=1)  # first max = smallest cid on ties
        all_null = np.all(np.isnan(scores), axis=1)
        return pd.Series(
            [None if all_null[i] else cids[best[i]] for i in range(n)], dtype=object
        )

    # §4.4: the downstream equi-join pushes an isnotnull(centroid_id)
    # filter below the projection and the optimizer then evaluates the
    # (deterministic) UDF TWICE — one ArrowEvalPython for the filter,
    # one for the projection (seen in the first plan capture). The
    # function is semantically deterministic; the marker only forbids
    # the optimizer from duplicating/reordering it.
    return df.withColumn("centroid_id", nearest.asNondeterministic()(F.col(vec)))


_KERNEL_ID_TYPES = ("int", "bigint", "smallint", "tinyint")


def _assign_cells_best(
    df: DataFrame, vec: str, centroids: DataFrame
) -> tuple[DataFrame, DataFrame, str]:
    """Assignment dispatcher: collect the centroid block once (tiny),
    use the Arrow kernel when the id type is integral (Python sort
    order == Spark ordering), else the expression fold.
    Returns (assigned df+centroid_id, localized cent_row for the probe
    path, centroid id type). The localized cent_row carries the exact
    collected doubles, so probe-side scores are bit-identical to the
    in-plan recompute it replaces (and the centroid-pick job runs once
    instead of twice).
    """
    id_type = centroids.schema["centroid_id"].dataType.simpleString()
    rows = centroids.select("centroid_id", "centroid_vec").collect()
    spark = df.sparkSession
    local_cents = spark.createDataFrame(
        [(r[0], [float(x) for x in r[1]]) for r in rows],
        f"centroid_id {id_type}, centroid_vec array<double>",
    )
    cent_row, _ = _centroid_fold_row(local_cents)
    use_kernel = (
        id_type in _KERNEL_ID_TYPES
        and rows
        and all(r[0] is not None for r in rows)
    )
    if use_kernel:
        assigned = _assign_cells_arrow(df, vec, rows, id_type)
    else:
        assigned = _assign_cells(df, vec, cent_row, id_type)
    return assigned, cent_row, id_type


def _probe_cells(p: DataFrame, cent_row: DataFrame, nprobe: int) -> DataFrame:
    """(probe_id, centroid_id) rows for each probe's ``nprobe`` BEST
    cells — posexplode the scored array and rank. Probes are few by
    contract (they broadcast in the re-rank), so this window is cheap.
    """
    p_scored = (
        p.withColumn("__nv", _norm(F.col("pvec")))
        .crossJoin(cent_row)
        .select("probe_id", F.explode(_cell_scores("pvec")).alias("sc"))
        .select(
            "probe_id",
            F.col("sc.s").alias("__cscore"),
            F.col("sc.cid").alias("centroid_id"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("__cscore"), F.asc("centroid_id"))
    return (
        p_scored.withColumn("__crank", F.row_number().over(w))
        .where(F.col("__crank") <= nprobe)
        .select("probe_id", "centroid_id")
    )


def _ivf_search(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF search against a prepared coarse quantizer: assign every
    corpus vector to its nearest centroid by cosine (broadcast
    centroids, no corpus shuffle); each probe searches its ``nprobe``
    nearest cells and only those cells' members are exactly re-ranked.

    ``centroids`` is any (centroid_id, centroid_vec array<double>)
    table — a deterministic md5 pick (``ivf_topk``) or trained k-means
    means (``ivf_kmeans_topk``) plug in identically.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("cvec")
    )
    # Arrow-kernel assignment over the collected centroid block (§4 —
    # the fold ran 16 interpreted 64-step dot folds per corpus row);
    # the probe path keeps the fold over the localized block.
    assigned, cent_row, _ = _assign_cells_best(c, "cvec", centroids)
    assigned = assigned.select("corpus_id", "centroid_id")
    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(vec_col).alias("pvec")
    )
    probe_cells = _probe_cells(p, cent_row, nprobe)

    # A corpus vector lives in exactly one cell, so (probe, corpus)
    # pairs are already unique — no distinct pass needed. Broadcasting
    # the (probes x nprobe)-row cell list keeps the corpus side
    # entirely shuffle-free end to end.
    candidates = (
        F.broadcast(probe_cells)
        .join(assigned, "centroid_id")
        .where(F.col("corpus_id") != F.col("probe_id"))
        .select("probe_id", "corpus_id")
    )
    return _exact_rerank(candidates, corpus, probes, k, id_col, vec_col)


def ivf_topk(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index —
    the partition-the-corpus counterpart of sign-LSH.

    Coarse quantizer: 16 corpus vectors picked by md5
    order — deterministic pseudo-random init, which keeps the whole
    pipeline oracle-checkable (``ivf_kmeans_topk`` is the trained
    refinement when recall matters more than oracle determinism).

    At 100 TB the assignment is one broadcast-join pass over the
    corpus (write it partitioned BY cell and probe-time scans touch
    only 4 of the 16 cells — classic IVF partition
    pruning); candidate volume per probe is ~4/16 of
    the corpus instead of all of it.
    """
    centroids = md5_centroids(corpus, 16)
    return _ivf_search(corpus, probes, centroids, 5, 4, "vec_id", "embedding")


def md5_centroids(corpus: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic pseudo-random coarse quantizer: ``n_centroids``
    corpus vectors picked by md5 order — reproducible across engines
    and partitionings (the property the oracle needs)."""
    return (
        corpus.select(
            F.col("vec_id").alias("centroid_id"), _as_double("embedding").alias("centroid_vec")
        )
        .withColumn(
            "__r", F.md5(F.concat(F.col("centroid_id").cast("string"), F.lit(":ivf")))
        )
        .orderBy("__r")
        .limit(n_centroids)
        .drop("__r")
    )


def ivf_kmeans_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF with a k-means-trained coarse quantizer (MLlib) — the
    production refinement of ``ivf_topk``'s deterministic pick.

    Training runs on L2-normalized vectors: euclidean k-means on the
    unit sphere minimizes ``||a-b||^2 = 2 - 2*cos(a,b)``, i.e. it IS
    spherical (cosine) k-means up to the centroid-renormalization
    step, so the learned cells are cosine-coherent and the same
    cosine-based ``_ivf_search`` applies unchanged. Trained centroids
    balance cell populations, which caps the worst-case candidate
    volume per probe — the property the md5 pick can't guarantee.

    k-means is iterative (driver-coordinated Lloyd rounds, one pass
    over the corpus per round) and its result depends on partitioning,
    so this variant is test-bounded (recall vs the exact baseline)
    rather than SQL-oracled — the documented trade against
    ``ivf_topk``.
    """
    centroids = train_kmeans_centroids(
        corpus, 16, vec_col="embedding", seed=seed, max_iter=10
    )
    return _ivf_search(corpus, probes, centroids, k, 4, "vec_id", "embedding")


def train_kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Train the spherical-equivalent k-means coarse quantizer and
    return it as the standard (centroid_id, centroid_vec) table — the
    same shape ``md5_centroids`` produces, so it plugs into
    ``_ivf_search`` and ``ivf_index.write_ivf_index`` unchanged.
    Training is the expensive step; persist the result once (the index
    build does) instead of re-fitting per search."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    # One-element explode barrier pins the cast array to a bound
    # attribute; the norm inside the lambda still re-inlines per
    # element (CollapseProject), but over the bound array that is
    # O(dim^2) plain arithmetic per row — negligible for a one-time
    # training input.
    # zero-magnitude vectors carry no direction: excluded from the
    # TRAINING sample (the filter guarantees the ANSI-mode division
    # below never sees a zero norm; search paths handle such vectors
    # via _cosine's NULL instead)
    unit = (
        corpus.select(F.explode(F.array(_as_double(vec_col))).alias("__v"))
        .where(_norm(F.col("__v")) > 0)
        .select(F.transform("__v", lambda x: x / _norm(F.col("__v"))).alias("__nvec"))
    )
    model = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="__feat"
    ).fit(unit.select(array_to_vector("__nvec").alias("__feat")))
    return spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "centroid_id int, centroid_vec array<double>",
    )


def lsh_ann_topk(
    corpus: DataFrame,
    probes: DataFrame,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via sign-random-projection LSH.

    Seeded gaussian hyperplanes -> ``num_planes`` sign bits per
    vector -> band into ``bands`` bucket keys -> candidates = pairs
    sharing any band bucket (bucket equi-join, linear shuffle) ->
    exact cosine re-rank of candidates only. Recall < 1 by design;
    tests assert recall against cosine_topk.
    """
    planes = np.random.default_rng(42).standard_normal((num_planes, dim))
    # Candidates as bare id pairs — dedup on (probe, corpus) ids only,
    # then join the vectors back for the re-rank. Distinct over rows
    # that carry two 64-float arrays would hash/compare the arrays per
    # band collision, which dominates the whole query.
    cb = _sign_buckets(corpus, "corpus_id", "vec_id", "embedding", planes, bands)
    pb = _sign_buckets(probes, "probe_id", "vec_id", "embedding", planes, bands)
    candidates = (
        cb.join(pb, ["band", "bucket"])
        .where(F.col("corpus_id") != F.col("probe_id"))
        .select("probe_id", "corpus_id")
        .distinct()
    )
    return _exact_rerank(candidates, corpus, probes, 5, "vec_id", "embedding")


def topk_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-group recall of an approximate top-k result against the
    exact one — the quality measurement an approximate index MUST
    ship with at scale: at 100 TB the brute-force pass runs once on a
    probe sample to calibrate band/probe counts, and this report says
    whether the ANN path's recall actually holds. Returns one row per
    ``probe_id`` value in ``truth``: ``n_true`` (truth rows, <= k),
    ``n_hit`` (truth rows the approximate result also returned),
    ``recall`` (n_hit / n_true, 4dp).

    Scale shape: both inputs are top-k RESULTS — n_probes x k rows,
    tiny next to the corpus regardless of corpus size — so the
    (group, id) equi-join and the per-group agg are trivially cheap;
    the expensive work happened upstream in the two search passes. A
    probe with no approximate rows at all still reports (left join
    from truth): recall 0, never a dropped row.
    """
    t = truth.select("probe_id", "corpus_id")
    a = approx.select("probe_id", "corpus_id").withColumn("__hit", F.lit(1))
    per_group = (
        t.join(a, ["probe_id", "corpus_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )
    return per_group.withColumn(
        "recall", F.round(F.col("n_hit") / F.col("n_true"), 4)
    )


def embedding_dedup_clusters(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Semantic dedup: group embeddings into transitive near-duplicate
    clusters — ``neardup_pairs`` edges fed through the same
    size-gated connected-components machinery the text dedup uses
    (operators/dedup_cluster.py). Returns (id_col, cluster_id) where
    cluster_id is the minimum member id; the canonical survivor set is
    ``where(id_col == cluster_id)``.

    Scale shape: edges are near-dup PAIRS (tiny vs the corpus by
    construction); CC is driver union-find under the 1M-edge gate,
    distributed min-label propagation past it — identical posture to
    dedup_clusters, measured in SCALE.md."""
    from bigdata_commerce_spark.operators.dedup_cluster import connected_components

    pairs = neardup_pairs(
        corpus, threshold, id_col, vec_col, num_planes, bands, dim, seed
    )
    nodes = corpus.select(F.col(id_col).alias("id"))
    return connected_components(nodes, pairs).select(
        F.col("id").alias(id_col), F.col("cluster_id")
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 4,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: embed each vector into
    ``out_dim`` dimensions through a seeded Gaussian plane matrix,
    scaled by 1/sqrt(out_dim) so pairwise L2 distances are preserved
    in expectation (the JL lemma) — the cheap front half of
    coarse-then-exact ANN, and a 4× storage cut on top of `quantize`.

    Shares the sign-LSH machinery's posture: the same
    ``default_rng(seed)`` plane matrix (sign-LSH IS this projection
    plus a sign), and every output coordinate is the SEQUENTIAL
    left-fold dot product (`_dot`), bit-identical to a DuckDB
    list_reduce replay of the same plane literals — engine-stable
    before any rounding. Pure projection: zero shuffle, zero UDF,
    stays in whole-stage codegen. ``round_dp`` rounds for
    hash-stable reports; pass None for raw doubles.

    Rounding applies only where |coord| < 1e11 — the band where a
    4-dp fraction is representable AND every engine's ROUND agrees
    (x*10^4 stays under 2^53; beyond it Spark's exact BigDecimal
    round and a float-math round diverge by ULPs on e.g. 1e20-scale
    inputs). Above the band the raw coordinate is returned: rounding
    a 1e11+ double to 4 dp is sub-ULP noise, not information.
    """
    import numpy as np

    if out_dim < 1 or in_dim < 1:
        raise ValueError("out_dim and in_dim must be >= 1")
    planes = np.random.default_rng(seed).standard_normal((out_dim, in_dim))
    inv = 1.0 / float(np.sqrt(out_dim))
    v = _as_double(vec_col)
    coords = []
    for row in planes:
        plane = F.array(*[F.lit(float(x)) for x in row])
        c = _dot(v, plane) * F.lit(inv)
        coords.append(
            F.when(F.abs(c) < ROUND_SAFE_ABS, F.round(c, round_dp)).otherwise(c)
            if round_dp is not None
            else c
        )
    return emb.select(F.col(id_col), F.array(*coords).alias("projected"))


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for embedding-model training (the DPR /
    sentence-transformers recipe): for every query vector, the k
    HIGHEST-cosine corpus items that are NOT its labeled positives —
    the near-misses a contrastive loss learns the most from, far more
    informative than random negatives.

    ``queries`` carries (vec_id, embedding) like the corpus;
    ``positives`` is (query_id, pos_id) — the labeled relevant
    items to exclude. Returns (query_id, neg_id, score, rank).

    Shape rides cosine_topk's: queries are BROADCAST, the corpus is
    scanned once and never shuffled; the positive set is a broadcast
    LEFT ANTI join applied BEFORE ranking (a positive must not eat a
    top-k slot — the exclusion changes which negatives surface, not
    just filters output rows); ranking windows partition per query.
    Scores round to 4dp before ranking (cosine_topk's engine-stable
    rank discipline); ties break on neg_id ascending.
    """
    # norms hoisted onto each side before the pair join (the
    # neardup_pairs precedent) — same expression, bit-identical
    c = corpus.select(
        F.col("vec_id").alias("neg_id"), _as_double("embedding").alias("cvec")
    ).withColumn("__nc", _norm(F.col("cvec")))
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qvec")
    ).withColumn("__nq", _norm(F.col("qvec")))
    pos = positives.select(
        F.col("query_id").alias("query_id"), F.col("pos_id").alias("neg_id")
    )
    scored = (
        c.join(F.broadcast(q), F.lit(True))
        .join(F.broadcast(pos), ["query_id", "neg_id"], "left_anti")
        .select(
            "query_id",
            "neg_id",
            F.round(
                F.try_divide(
                    _dot(F.col("cvec"), F.col("qvec")), F.col("__nc") * F.col("__nq")
                ),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neg_id", "score", "rank")
    )


def ivf_projected_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    out_dim: int = 16,
    in_dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF over a Johnson–Lindenstrauss-COMPRESSED coarse stage: the
    quantizer trains, assigns and probes in ``out_dim`` projected
    dimensions (4× less coarse-stage compute and centroid I/O at
    out_dim=16 over 64-d vectors), and only the surviving candidates
    are exactly re-ranked with the ORIGINAL full-width vectors — the
    classic memory-bound ANN layout (FAISS's OPQ/PQ coarse stages are
    the same shape with a learned codebook; JL is the training-free
    form).

    At 100 TB the coarse stage is the pass that touches every vector,
    so its width is the cost driver; the exact re-rank touches only
    candidates. JL preserves pairwise geometry in expectation, so
    cell-coherence (and thus recall) degrades gracefully with
    out_dim — recall-vs-exact is pinned by test, the same bound
    discipline as ivf_kmeans_topk (iterative k-means: test-bounded,
    not SQL-oracled).

    Shape: both projections are pure map-side expressions; coarse
    assignment broadcasts centroids (corpus never shuffles); the
    candidate join and exact re-rank ride _ivf_search's machinery
    unchanged.
    """
    proj_c = random_projection(
        corpus, out_dim=out_dim, in_dim=in_dim, seed=seed,
        id_col=id_col, vec_col=vec_col, round_dp=None,
    )
    proj_p = random_projection(
        probes, out_dim=out_dim, in_dim=in_dim, seed=seed,
        id_col=id_col, vec_col=vec_col, round_dp=None,
    )
    centroids = train_kmeans_centroids(
        proj_c, n_centroids, vec_col="projected", seed=seed, max_iter=max_iter
    )
    c = proj_c.select(F.col(id_col).alias("corpus_id"), F.col("projected").alias("cvec"))
    assigned, cent_row, _ = _assign_cells_best(c, "cvec", centroids)
    assigned = assigned.select("corpus_id", "centroid_id")
    p = proj_p.select(F.col(id_col).alias("probe_id"), F.col("projected").alias("pvec"))
    probe_cells = _probe_cells(p, cent_row, nprobe)
    candidates = (
        F.broadcast(probe_cells)
        .join(assigned, "centroid_id")
        .where(F.col("corpus_id") != F.col("probe_id"))
        .select("probe_id", "corpus_id")
    )
    # exact re-rank on the ORIGINAL vectors — the compressed space
    # only decides WHO gets scored, never the score itself
    return _exact_rerank(candidates, corpus, probes, k, id_col, vec_col)


def semdedup(
    corpus: DataFrame,
    tau: float = 0.9,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then WITHIN each cluster drop every vector that
    has a near-identical neighbor (cosine >= ``tau``) closer to the
    cluster centroid than itself — the published keep-the-peripheral
    rule, which preserves the cluster's diversity while removing its
    redundant core. Returns every row:
    ``(vec_id, centroid_id, centroid_sim, kept)``.

    Decision rule (a deterministic total order, no connected
    components needed): x is DROPPED iff some same-cell y has
    ``round(cos(x, y), 6) >= tau`` AND y is MORE peripheral
    (y.centroid_sim < x.centroid_sim, ties broken toward smaller
    id) — the survivor of a near-dup group is its lowest-centroid-sim
    member, the paper's diversity-preserving choice. Scoring one
    dominance relation per pair instead of transitive clusters is the
    paper's actual algorithm — and it caps the work at one
    within-cell self-join. Zero-magnitude vectors have NULL cosine
    everywhere (try_divide), get a NULL cell, and are always kept —
    the same explicit contract on both engines.

    Scale shape: centroid assignment is the IVF broadcast fold (no
    shuffle, no row amplification); the only shuffle is the self-join
    key = centroid_id, so per-task work is bounded by cell size — at
    100 TB the dial is n_centroids (the paper runs 50k clusters for
    LAION; cells stay ~constant-size as the corpus and centroid count
    grow together). Float discipline: pair cosines rounded to 6dp and
    centroid sims to 4dp (the IVF convention) before any comparison,
    so engine ULPs cannot flip a keep decision.

    Semantic skew — a duplicate-heavy blob — defeats the centroid
    dial: near-identical vectors share (to 4dp) the same best centroid
    however many centroids exist, so the blob's cell, and its
    quadratic self-join, stays whole (SCALE.md measured a 4.93x
    blowup on a planted blob). Splitting it would change which
    members survive, so the exact published rule is kept.
    """
    if centroids is None:
        centroids = md5_centroids(corpus, 16)
    c = corpus.select(F.col("vec_id").alias("__id"), _as_double("embedding").alias("__v"))
    cent_row, id_type = _centroid_fold_row(centroids)
    # the _assign_cells fold, keeping the winning score as well
    best = F.aggregate(
        _cell_scores("__v"),
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.lit(None).cast(id_type).alias("cid"),
        ),
        lambda acc, x: F.when(
            x["s"].isNotNull()
            & (
                acc["s"].isNull()
                | (x["s"] > acc["s"])
                | ((x["s"] == acc["s"]) & (x["cid"] < acc["cid"]))
            ),
            x,
        ).otherwise(acc),
    )
    # localCheckpoint (not persist): `assigned` feeds both self-join
    # sides and the final output, but the returned DataFrame is lazy
    # so a persist would have no release point and cached blocks
    # would accumulate across calls (r8 ADVICE). Eager executor-
    # resident checkpoint blocks are freed by the ContextCleaner once
    # the plan is unreachable — same pattern as operators/text.py's
    # curation funnel.
    assigned = (
        # row norm bound below the crossJoin (see _cell_scores); kept
        # in the checkpoint so the within-cell dominance join reads it
        # instead of re-folding a norm per candidate pair
        c.withColumn("__nv", _norm(F.col("__v")))
        .crossJoin(cent_row)
        .select(
            "__id",
            "__v",
            "__nv",
            best["cid"].alias("centroid_id"),
            best["s"].alias("centroid_sim"),
        )
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        F.col("__id").alias("__xa"),
        F.col("__v").alias("__va"),
        F.col("__nv").alias("__na"),
        F.col("centroid_id").alias("__ca"),
        F.col("centroid_sim").alias("__sa"),
    )
    b = assigned.select(
        F.col("__id").alias("__xb"),
        F.col("__v").alias("__vb"),
        F.col("__nv").alias("__nb"),
        F.col("centroid_id").alias("__cb"),
        F.col("centroid_sim").alias("__sb"),
    )
    dominated = (
        a.join(
            b,
            (F.col("__ca") == F.col("__cb"))
            & (F.col("__xa") != F.col("__xb")),
        )
        .where(
            (
                F.round(
                    F.try_divide(
                        _dot(F.col("__va"), F.col("__vb")),
                        F.col("__na") * F.col("__nb"),
                    ),
                    6,
                )
                >= F.lit(tau)
            )
            & (
                # keep-the-peripheral: the member CLOSER to the
                # centroid is the redundant one — a lower-sim
                # near-identical neighbor dominates it
                (F.col("__sb") < F.col("__sa"))
                | ((F.col("__sb") == F.col("__sa")) & (F.col("__xb") < F.col("__xa")))
            )
        )
        .select(F.col("__xa").alias("__dropped"))
        .distinct()
    )
    out = (
        assigned.join(dominated, assigned["__id"] == dominated["__dropped"], "left")
        .select(
            F.col("__id").alias("vec_id"),
            "centroid_id",
            # + 0.0 canonicalizes a rounded -0.0 (engine-parity: the
            # oracle does the same)
            (F.col("centroid_sim") + F.lit(0.0)).alias("centroid_sim"),
            F.col("__dropped").isNull().alias("kept"),
        )
    )
    return out
