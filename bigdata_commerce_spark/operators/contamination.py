"""Benchmark-contamination detection: which corpus documents leak
eval-set content?

A training-data pipeline must check its corpus against held-out
benchmark/eval sets before training — the standard method is n-gram
overlap (an eval example is "contaminated" in a document when they
share word n-grams). Not in the reference (its nearest construct is
``distinct()``); this is a training-data-pipeline extension like
operators/dedup.py, and it reuses that module's shingle machinery
(``_exploded_shingles`` — tokenizer evaluated once per document,
map-side, zero pre-join shuffles).

Scale shape for 100 TB: the benchmark side is SMALL by contract (eval
sets are thousands of rows, not billions) — its shingle table
broadcasts, so the corpus is never shuffled: shingling is map-side,
the contamination probe is a broadcast hash join, and the only
shuffle is the partial-aggregated (corpus_id, bench_id) match counts
— rows exist only where overlap exists, which is rare by
construction. The corpus scan reads just (id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.dedup import _exploded_shingles


def contamination_report(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per (corpus doc, benchmark doc) with any shared word n-gram:
    (corpus_id, bench_id, shared_ngrams, bench_ngrams, coverage) where
    coverage = shared / benchmark's distinct n-gram count — the usual
    decontamination score (what fraction of the eval example appears
    in the document). Pairs with zero overlap are absent.

    Shingles are DISTINCT per document on both sides (dedup's
    contract), so shared_ngrams is set-intersection cardinality.
    """
    c = _exploded_shingles(corpus, "text", "doc_id", 3).withColumnRenamed(
        "id", "corpus_id"
    )
    b = _exploded_shingles(benchmark, "text", "doc_id", 3).withColumnRenamed(
        "id", "bench_id"
    )
    bench_sizes = b.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_ngrams"))
    shared = (
        c.join(F.broadcast(b), "shingle")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    return shared.join(F.broadcast(bench_sizes), "bench_id").select(
        "corpus_id",
        "bench_id",
        "shared_ngrams",
        "bench_ngrams",
        F.round(F.col("shared_ngrams") / F.col("bench_ngrams"), 4).alias("coverage"),
    )
