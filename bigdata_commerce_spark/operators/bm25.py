"""BM25 relevance scoring over the document corpus — query-driven
quality filtering for training data (score a crawl slice against a
topic's terms, keep the tail above a threshold; the retrieval half of
retrieval-augmented dataset curation).

Okapi BM25 (Robertson/Sparck Jones; the Lucene-default formulation):

    score(D, Q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*|D|/avgdl))
    with k1 = 1.2, b = 0.75
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))

Scale shape (in-plan end to end):
- tokenize + doc length as array expressions (no UDF);
- ONE explode, with the query-term membership filter applied to the
  exploded term map-side — only (doc, matching-term) pairs ever reach
  a shuffle, so a 1000-term query over 100 TB shuffles megabytes;
- term frequencies = one hash aggregate on (doc, term); document
  frequencies ride a second aggregate over that (already tiny)
  result; N/avgdl are a one-row aggregate — both broadcast;
- per-document score = one aggregate over <= |Q| rows per doc.

The corpus tokenizes twice: the N/avgdl stats pass and the match
pass.

Determinism across engines: each term's contribution is rounded to
8 dp and summed as DECIMAL (the money_sum discipline) — ln() may
differ by 1 ulp between libms, and float summation order between
partitionings; rounding before the exact sum makes Spark and the
DuckDB oracle bit-identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_scores(docs: DataFrame, query_terms: Sequence[str]) -> DataFrame:
    """(id, score) for every document matching at least one query
    term (docs with no match are absent — join-filter semantics, the
    useful shape when the corpus dwarfs the match set). Tokenization
    is lowercase whitespace split; pre-normalize the text column for
    anything fancier. Returns (doc_id, bm25), rounded to 6 dp.
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})

    toks = docs.select(
        F.col("doc_id"),
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("__toks"),
    ).withColumn("__dl", F.size("__toks"))

    stats = toks.agg(F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl"))

    # membership filter on the exploded term evaluates map-side,
    # before any shuffle — the load-bearing line at corpus scale
    matches = toks.select(
        "doc_id", "__dl", F.explode("__toks").alias("__term")
    ).where(F.col("__term").isin(terms))

    tf = matches.groupBy("doc_id", "__dl", "__term").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    df_ = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))

    n, avgdl = F.col("__n"), F.col("__avgdl")
    idf = F.log(
        F.lit(1.0) + (n - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    tf_term = (
        F.col("__tf")
        * F.lit(2.2)
        / (
            F.col("__tf")
            + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("__dl") / avgdl)
        )
    )
    contrib = F.round(idf * tf_term, 8).cast("decimal(20,8)")
    return (
        tf.join(F.broadcast(df_), "__term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).cast("double").alias("bm25"))
    )
