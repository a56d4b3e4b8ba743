"""Hashed-feature linear classifier: the fastText-style quality-filter
seam (CCNet / RefinedWeb / DCLM pipelines gate documents on a linear
model over hashed bag-of-words features).

operators/lm_quality.py scores fluency with a char-bigram LM; this
module is the *supervised* counterpart — score documents against a
trained weight vector. Both halves are pure DataFrame plans:

- **Featurization** (hashing trick, Weinberger et al. 2009): token ->
  bucket via the package's engine-portable md5 machinery
  (functions.md5_uniform60 discipline), L1-normalized term frequency.
  MAP-SIDE array expressions + ONE explode + ONE (id, bucket) hash
  aggregate — the same cost class as every tokenizing operator here.
- **Scoring**: broadcast-join the (bucket, w) weight table (a model
  of 2^20 buckets is ~8 MB — always broadcastable), then ONE hash
  aggregate per document. The per-document dot product is a
  SEQUENTIAL FOLD over the bucket-sorted contribution list, so the
  float sum has one defined association order — bit-identical across
  engines/partitionings (the bm25/ewma hash-stability discipline).

Ref: reference engine has no model scoring at all; spec follows the
public fastText linear classifier (Joulin et al. 2016) restricted to
unigram features, hashing-trick vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "feat"


def token_bucket_expr(token, n_buckets: int):
    """Engine-portable bucket id of one token: first 15 hex chars of
    md5(token:feat) as BIGINT, mod n_buckets (the md5_uniform60
    formula applied to token text; DuckDB replays it char-for-char)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(token, F.lit(f":{_SALT}"))), 1, 15), 16, 10
        ).cast("long")
        % n_buckets
    )


def hashed_features(
    df: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bucket, x): L1-normalized hashed term frequencies —
    x = count(tokens hashing to bucket) / count(tokens). Documents
    with no tokens contribute no rows (score_linear restores them
    with the bias-only score). One explode + one hash aggregate."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    tokens = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), lambda t: t != ""
    )
    toks = df.select(
        F.col(id_col), tokens.alias("__tk")
    ).select(
        F.col(id_col),
        F.size("__tk").alias("__n"),
        F.explode("__tk").alias("__t"),
    )
    return (
        toks.select(
            id_col, "__n", token_bucket_expr(F.col("__t"), n_buckets).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(
            (F.count(F.lit(1)).cast("double") / F.first("__n")).alias("x")
        )
    )


def score_linear(
    df: DataFrame,
    weights: DataFrame,
    bias: float,
    n_buckets: int,
) -> DataFrame:
    """Per-document linear score + sigmoid probability against a
    (bucket, w) weight table. Returns (id, score, prob), both rounded
    to 6 dp for engine-portable comparison.

    The dot product folds contributions in BUCKET ORDER (array_sort +
    sequential aggregate), not in shuffle-arrival order, so the float
    sum is deterministic — rerun-stable and oracle-reproducible.
    Weights are broadcast (a hashed vocabulary is small by
    construction); documents without tokens — or whose tokens all hit
    zero-weight buckets absent from ``weights`` — score the bare bias.
    """
    feats = hashed_features(df, n_buckets, text_col="text", id_col="doc_id")
    contrib = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .select(
            "doc_id",
            "bucket",
            (F.col("x") * F.coalesce(F.col("w"), F.lit(0.0))).alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("bucket", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("__dot")
        )
    )
    out = df.select("doc_id").join(contrib, "doc_id", "left")
    score = F.coalesce(F.col("__dot"), F.lit(0.0)) + F.lit(float(bias))
    return out.select(
        "doc_id",
        F.round(score, 6).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("prob"),
    )
