"""BPE tokenizer training (operators/bpe.py): the fold-based merge
kernel vs a plain-Python fold on randomized inputs, full training vs
the driver-side reference implementation (exact merge-list equality —
the PageRank-style oracle for an iterative op), deterministic
tie-breaks, and the encoder's losslessness."""

from __future__ import annotations

import random

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdata_commerce_spark.operators import bpe

WORDS_SCHEMA = StructType(
    [
        StructField("word", StringType(), True),
        StructField("freq", LongType(), True),
    ]
)


def _vocab_df(spark, freqs: dict[str, int]):
    return spark.createDataFrame(list(freqs.items()), WORDS_SCHEMA)


def _py_merge(syms: list[str], left: str, right: str) -> list[str]:
    out: list[str] = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def test_merge_pair_kernel_matches_python_fold(spark):
    """200 random symbol sequences through the F.aggregate fold and
    the plain-Python fold — including overlap traps like a,a,a."""
    rng = random.Random(7)
    alphabet = ["a", "b", "c", "ab", bpe.EOW]
    rows = [
        ([rng.choice(alphabet) for _ in range(rng.randint(0, 12))],)
        for _ in range(200)
    ] + [(["a", "a", "a"],), (["a", "b", "b"],), ([],)]
    df = spark.createDataFrame(
        rows, StructType([StructField("syms", ArrayType(StringType()), True)])
    )
    got = [
        r.merged
        for r in df.select(
            bpe._merge_pair(F.col("syms"), "a", "b").alias("merged")
        ).collect()
    ]
    want = [_py_merge(list(r[0]), "a", "b") for r in rows]
    assert got == want


def test_training_matches_driver_reference(spark):
    freqs = {
        "low": 5,
        "lower": 2,
        "newest": 6,
        "widest": 3,
        "lowest": 4,
        "wider": 2,
        "new": 7,
    }
    n = 20
    got = bpe.train_bpe(_vocab_df(spark, freqs), n)
    want = bpe.train_bpe_reference(freqs, n)
    assert got == want
    assert len(got) > 5  # the corpus supports a real merge sequence


def test_training_from_corpus_sample(spark):
    """End-to-end on real documents: word-freq pass + 12 merges,
    exact equality with the reference trainer fed the same table."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = bpe.word_frequencies(docs)
    freqs = {r.word: r.freq for r in vocab.collect()}
    got = bpe.train_bpe(vocab, 12)
    want = bpe.train_bpe_reference(freqs, 12)
    assert got == want
    assert len(got) == 12


def test_tie_break_lexicographic(spark):
    # "ab" and "cd" both appear exactly 3 times; (a,b) < (c,d)
    freqs = {"ab": 3, "cd": 3}
    merges = bpe.train_bpe(_vocab_df(spark, freqs), 1)
    assert merges[0] == ("a", "b")


def test_early_stop_when_pairs_exhaust(spark):
    freqs = {"ab": 5}
    merges = bpe.train_bpe(_vocab_df(spark, freqs), 100, min_pair_freq=2)
    # (a,b) then (ab,EOW) merge at freq 5, then nothing is left
    assert 0 < len(merges) < 100


def test_failed_training_releases_its_vocab(spark):
    """A vocab that fails to compute leaves no cached symbol table
    behind: the persisted frame is released on every exit."""
    vocab = _vocab_df(spark, {"ab": 3}).withColumn(
        "freq", F.raise_error(F.lit("bad freq")).cast("long")
    )
    with pytest.raises(Exception, match="bad freq"):
        bpe.train_bpe(vocab, 2)
    syms = vocab.select(
        bpe._initial_symbols(F.col("word")).alias("syms"), F.col("freq")
    )
    assert syms.storageLevel == StorageLevel.NONE


def test_encoder_lossless_and_matches_reference(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = bpe.word_frequencies(docs)
    merges = bpe.train_bpe(vocab, 15)
    enc = bpe.encode_tokens(docs, merges).select("doc_id", "text", "bpe_tokens")
    for r in enc.collect():
        toks = list(r.bpe_tokens)
        words = [w for w in r.text.lower().split() if w]
        # losslessness: token concatenation reconstructs the word
        # sequence with one EOW terminating each word
        assert "".join(toks) == "".join(w + bpe.EOW for w in words)
        # apply the reference merges to each word and compare
        ref_toks: list[str] = []
        for w in words:
            syms = list(w) + [bpe.EOW]
            for left, right in merges:
                syms = _py_merge(syms, left, right)
            ref_toks.extend(syms)
        assert toks == ref_toks


def test_more_merges_never_increase_token_count(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = bpe.word_frequencies(docs)
    merges = bpe.train_bpe(vocab, 10)
    n_tokens = [
        bpe.encode_tokens(docs, merges[:k])
        .select(F.sum(F.size("bpe_tokens")))
        .collect()[0][0]
        for k in (0, 5, 10)
    ]
    assert n_tokens[0] >= n_tokens[1] >= n_tokens[2]
    assert n_tokens[2] < n_tokens[0]  # the merges actually bite


def test_merge_list_round_trips_through_store(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe.train_bpe(bpe.word_frequencies(docs), 8)
    path = str(tmp_path / "tokenizer")
    bpe.save_merges(spark, merges, path)
    loaded = bpe.load_merges(spark, path)
    assert loaded == merges
    a = bpe.encode_tokens(docs.limit(20), merges).select("doc_id", "bpe_tokens")
    b = bpe.encode_tokens(docs.limit(20), loaded).select("doc_id", "bpe_tokens")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
