"""Incremental dedup against the persisted fingerprint store
(operators/incremental_dedup.py): novelty = exact set difference,
idempotent re-commit, and the partition-pruned store read."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import incremental_dedup as inc
from bigdata_commerce_spark.operators.text import fingerprint
from tests.conftest import SF_SMOKE



# Slow tier (VERDICT r12 item 2 / r13 suite tiering): stateful multi-batch end-to-end runs (~110 s).
pytestmark = pytest.mark.slow
def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_commit_then_novelty_is_exact_set_difference(spark, tmp_path):
    store = str(tmp_path / "fpstore")
    docs = _docs(spark)
    half1 = docs.where(F.col("doc_id") < 250)
    half2 = docs.where(F.col("doc_id") >= 250)

    inc.init_store(spark, store)
    first = inc.commit_batch(half1, store)
    # within-batch collapse: one row per distinct fingerprint
    fp1 = half1.select(fingerprint("text").alias("fp")).distinct().count()
    assert first.count() == fp1

    second = inc.commit_batch(half2, store)
    # expected: half2 fingerprints (min doc_id per fp) absent from half1
    expected = (
        half2.select(F.col("doc_id"), fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(half1.select(fingerprint("text").alias("fp")), "fp", "left_anti")
    )
    got = sorted((r.doc_id, r.fp) for r in second.collect())
    want = sorted((r.doc_id, r.fp) for r in expected.collect())
    assert got == want and len(got) > 0

    # store now holds exactly one row per distinct corpus fingerprint
    total_fp = docs.select(fingerprint("text").alias("fp")).distinct().count()
    assert spark.read.parquet(store).count() == total_fp


def test_recommit_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "fpstore")
    docs = _docs(spark).limit(100)
    inc.init_store(spark, store)
    assert inc.commit_batch(docs, store).count() > 0
    before = spark.read.parquet(store).count()
    assert inc.commit_batch(docs, store).count() == 0
    assert spark.read.parquet(store).count() == before


def test_store_read_is_partition_pruned(spark, tmp_path):
    """A batch that hits few fingerprint prefixes must scan only those
    store partitions: the prefix isin-filter lands in PartitionFilters
    and the scanned partition count stays below the store's."""
    store = str(tmp_path / "fpstore")
    docs = _docs(spark)
    inc.init_store(spark, store)
    inc.commit_batch(docs, store)
    n_parts = (
        spark.read.parquet(store).select("fp_prefix").distinct().count()
    )
    assert n_parts > 20  # md5 prefixes spread wide even at 500 docs

    tiny = docs.limit(3)
    novel = inc.novel_documents(tiny, store)
    plan = novel._jdf.queryExecution().executedPlan().toString()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("fp_prefix" in l for l in pf_lines), plan[:2000]
    assert novel.count() == 0  # all three already committed


def test_init_store_never_clobbers_existing(spark, tmp_path):
    store = str(tmp_path / "fpstore")
    inc.init_store(spark, store)
    inc.commit_batch(_docs(spark).limit(20), store)
    n = spark.read.parquet(store).count()
    inc.init_store(spark, store)  # repeated init at job start: no-op
    assert spark.read.parquet(store).count() == n


def test_non_integer_id_rejected(spark, tmp_path):
    import pytest as _pytest

    store = str(tmp_path / "fpstore")
    inc.init_store(spark, store)
    bad = spark.createDataFrame([("u1", "t")], "doc_id string, text string")
    with _pytest.raises(ValueError, match="integer type"):
        inc.novel_documents(bad, store)
