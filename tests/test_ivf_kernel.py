"""Arrow-kernel IVF centroid assignment (round 13, VERDICT r12 item
5): `_assign_cells_arrow` replaces the interpreted per-row fold (16
dots x 64 fold steps per corpus vector) with a vectorized kernel whose
arithmetic runs in the fold's exact sequential-over-dimension order —
so assignments must be BIT-IDENTICAL to the expression fold. These
tests are the identity gate (the codec discipline): real data plus the
degenerate shapes (NULL vector, ragged vector, NULL element,
zero-magnitude vector, zero centroid, 4dp rounding ties).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.similarity import (
    _as_double,
    _assign_cells,
    _assign_cells_arrow,
    _assign_cells_best,
    _centroid_fold_row,
    md5_centroids,
)
from tests.conftest import SF_SMOKE


def _both(spark, df, cent):
    rows = cent.select("centroid_id", "centroid_vec").collect()
    cent_row, id_type = _centroid_fold_row(cent)
    fold = _assign_cells(df, "cvec", cent_row, id_type).select("corpus_id", "centroid_id")
    kern = _assign_cells_arrow(df, "cvec", rows, id_type).select("corpus_id", "centroid_id")
    return sorted(map(tuple, fold.collect())), sorted(map(tuple, kern.collect()))


def test_kernel_matches_fold_on_real_embeddings(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    c = emb.select(F.col("vec_id").alias("corpus_id"), _as_double("embedding").alias("cvec"))
    fold, kern = _both(spark, c, md5_centroids(emb, 16))
    assert fold == kern


def test_kernel_matches_fold_on_degenerate_rows(spark):
    edge = spark.createDataFrame(
        [
            (1, [0.0] * 8),            # zero magnitude -> NULL cid
            (2, None),                  # NULL vector -> NULL cid
            (3, [1.0] * 4),             # ragged -> NULL cid
            (4, [float(i) for i in range(8)]),
            (5, [None] + [1.0] * 7),    # NULL element -> NULL cid
            (6, [-1.0] * 8),
        ],
        "corpus_id bigint, cvec array<double>",
    )
    cent = spark.createDataFrame(
        [(10, [1.0] * 8), (11, [-0.5] * 8), (12, [0.0] * 8)],
        "centroid_id bigint, centroid_vec array<double>",
    )
    fold, kern = _both(spark, edge, cent)
    assert fold == kern
    # the degenerate rows all land NULL; row 4 picks the aligned centroid
    by_id = dict(kern)
    assert by_id[1] is None and by_id[2] is None and by_id[3] is None and by_id[5] is None
    assert by_id[4] == 10 and by_id[6] == 11


def test_kernel_matches_fold_on_rounding_ties(spark):
    """Two centroids engineered to score within < 1e-4 of each other:
    the 4dp rounding merges them into a tie broken toward the smaller
    centroid id — both paths must agree."""
    base = [1.0] * 8
    near = [1.0] * 7 + [1.0 + 1e-7]  # cosine vs base differs in ~1e-15
    cent = spark.createDataFrame(
        [(20, near), (21, base)], "centroid_id bigint, centroid_vec array<double>"
    )
    df = spark.createDataFrame(
        [(1, base), (2, [0.9] * 7 + [1.3])],
        "corpus_id bigint, cvec array<double>",
    )
    fold, kern = _both(spark, df, cent)
    assert fold == kern
    assert dict(kern)[1] == 20  # rounded tie -> smaller cid wins


def test_dispatcher_falls_back_for_string_ids(spark):
    cent = spark.createDataFrame(
        [("a", [1.0] * 4), ("b", [-1.0] * 4)],
        "centroid_id string, centroid_vec array<double>",
    )
    df = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [-2.0] * 4)], "corpus_id bigint, cvec array<double>"
    )
    assigned, _, id_type = _assign_cells_best(df, "cvec", cent)
    assert id_type == "string"
    got = dict(map(tuple, assigned.select("corpus_id", "centroid_id").collect()))
    assert got == {1: "a", 2: "b"}
