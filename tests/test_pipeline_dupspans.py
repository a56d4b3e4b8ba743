"""Round-5d last-mile integration: the substring-dedup /
decontamination / model-gate / split / upsample chain composed end to
end on the real testdata — every stage an operator already
oracle-checked individually; this test pins that they COMPOSE (column
contracts line up, counts reconcile across stages, and the final
corpus carries none of the scrubbed content)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import linear_model as lm
from bigdata_commerce_spark.operators.dupspans import (
    duplicate_spans,
    scrub_contaminated_spans,
    scrub_duplicate_spans,
)
from bigdata_commerce_spark.operators.mixing import split_by_group, upsample_epochs
from bigdata_commerce_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
W = 8


def test_dupspan_curation_chain_composes(spark):
    docs = load_table(spark, "documents", SF).select("doc_id", "text", "source")
    n_raw = docs.count()

    # 1. substring dedup: scrub duplicated runs, keep one canonical copy
    deduped = scrub_duplicate_spans(docs, window=W)
    assert deduped.count() == n_raw  # scrub never drops documents
    removed = deduped.agg(F.sum("removed_tokens")).collect()[0][0]
    assert removed > 0  # the corpus genuinely had duplicated runs

    # after keep-one scrubbing, re-auditing the scrubbed corpus finds
    # (almost) nothing: every surviving window occurrence is canonical.
    # Token removal can juxtapose new windows, so assert a 99% drop,
    # not zero.
    before = (
        duplicate_spans(docs, window=W).agg(F.sum("span_tokens")).collect()[0][0]
    )
    after_rows = duplicate_spans(deduped, window=W).agg(
        F.coalesce(F.sum("span_tokens"), F.lit(0))
    ).collect()[0][0]
    assert after_rows < before * 0.01, (before, after_rows)

    # 2. decontamination vs the %40 benchmark slice
    bench = docs.where(F.col("doc_id") % 40 == 7)
    corpus = deduped.join(docs.select("doc_id", "source"), "doc_id").where(
        F.col("doc_id") % 40 != 7
    )
    clean = scrub_contaminated_spans(corpus, bench, window=W)
    # no 8-token window of any benchmark doc survives in the corpus
    bench_windows = set()
    for r in bench.collect():
        tk = [t for t in re.split(r"\s+", r.text or "") if t]
        for p in range(len(tk) - W + 1):
            bench_windows.add(tuple(tk[p : p + W]))
    for r in clean.collect():
        tk = [t for t in re.split(r"\s+", r.text or "") if t]
        for p in range(len(tk) - W + 1):
            assert tuple(tk[p : p + W]) not in bench_windows

    # 3. model gate: score with the twin's pseudo-model, keep top half
    from bigdata_commerce_spark.plans.catalog_dataops import (
        _LIN_BIAS,
        _LIN_BUCKETS,
        _lin_weights,
    )

    wts = spark.createDataFrame(_lin_weights(), "bucket long, w double")
    scored = lm.score_linear(clean, wts, _LIN_BIAS, _LIN_BUCKETS)
    median = scored.agg(
        F.expr("percentile(score, 0.5)").alias("m")
    ).collect()[0][0]
    kept_ids = scored.where(F.col("score") >= median).select("doc_id")
    kept = clean.join(kept_ids, "doc_id", "left_semi").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    n_kept = kept.count()
    assert 0 < n_kept < corpus.count()

    # 4. leakage-safe split by source, then upsample the train side
    split = split_by_group(kept, 0.25, "source")
    purity = (
        split.groupBy("source")
        .agg(F.countDistinct("split").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert purity == 0
    train = split.where("split = 'train'")
    sources = [r.source for r in train.select("source").distinct().collect()]
    up = upsample_epochs(train, dict.fromkeys(sources, 2.0))
    assert up.count() == 2 * train.count()  # every train doc, two epochs
    # epochs are copies of the SAME scrubbed text
    mismatch = (
        up.groupBy("doc_id")
        .agg(F.countDistinct("text").alias("t"))
        .where(F.col("t") > 1)
        .count()
    )
    assert mismatch == 0
