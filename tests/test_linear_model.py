"""Hashed-feature linear classifier (operators/linear_model.py):
featurization vs a hashlib reference, scoring laws, and distributed
full-batch logistic GD vs a numpy twin (the graph.py verification
posture for iterative float fixpoints)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import numpy as np
import pytest
from pyspark import StorageLevel

# Suite tiering (VERDICT r10 item 7, extended after measuring the
# round-11 durations): the distributed-training convergence runs are
# wall-dominant — the full `pytest tests/` run keeps them;
# `-m "not slow"` gives the fast development signal.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import linear_model as lm


def _bucket(token: str, n_buckets: int) -> int:
    return int(hashlib.md5(f"{token}:feat".encode()).hexdigest()[:15], 16) % n_buckets


def _feats(text: str, n_buckets: int) -> dict[int, float]:
    tk = [t for t in re.split(r"\s+", text or "") if t]
    if not tk:
        return {}
    cnt = Counter(_bucket(t, n_buckets) for t in tk)
    return {b: c / len(tk) for b, c in cnt.items()}


def test_hashed_features_match_hashlib_reference(spark):
    docs = [(1, "a b a c"), (2, "zz"), (3, ""), (4, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.bucket): r.x
        for r in lm.hashed_features(df, 16).collect()
    }
    expected = {
        (d, b): x for d, txt in docs for b, x in _feats(txt or "", 16).items()
    }
    assert got == expected


def test_score_linear_matches_hand_computation(spark):
    docs = [(1, "a b a"), (2, ""), (3, "q")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    wmap = {_bucket("a", 8): 0.5, _bucket("b", 8): -1.0}
    w = spark.createDataFrame(list(wmap.items()), "bucket long, w double")
    got = {r.doc_id: (r.score, r.prob) for r in
           lm.score_linear(df, w, bias=0.25, n_buckets=8).collect()}
    for d, txt in docs:
        s = sum(x * wmap.get(b, 0.0) for b, x in _feats(txt, 8).items()) + 0.25
        assert got[d][0] == pytest.approx(round(s, 6), abs=1e-9)
        assert got[d][1] == pytest.approx(round(1 / (1 + math.exp(-s)), 6), abs=1e-9)


def _ref_train(docs, labels, n_buckets, iters, lr):
    feats = [_feats(t, n_buckets) for t in docs]
    w = np.zeros(n_buckets)
    bias = 0.0
    n = len(docs)
    for _ in range(iters):
        errs = [
            1 / (1 + math.exp(-(sum(x * w[b] for b, x in f.items()) + bias))) - y
            for f, y in zip(feats, labels)
        ]
        g = np.zeros(n_buckets)
        for f, e in zip(feats, errs):
            for b, x in f.items():
                g[b] += x * e
        w -= lr * g / n
        bias -= lr * float(np.mean(errs))
    return w, bias


def test_train_logreg_matches_numpy_reference(spark):
    texts = [
        "good clean prose text here",
        "more good clean words flow",
        "prose text flow here words",
        "spam spam buy buy now",
        "buy now spam click click",
        "click buy spam now spam",
    ]
    labels = [1, 1, 1, 0, 0, 0]
    df = spark.createDataFrame(
        [(i, t, y) for i, (t, y) in enumerate(zip(texts, labels))],
        "doc_id long, text string, label int",
    )
    w_df, bias = lm.train_logreg(df, n_buckets=16, iters=12, lr=0.8)
    got = {r.bucket: r.w for r in w_df.collect()}
    ref_w, ref_bias = _ref_train(texts, labels, 16, 12, 0.8)
    assert bias == pytest.approx(ref_bias, abs=1e-9)
    for b in range(16):
        assert got.get(b, 0.0) == pytest.approx(ref_w[b], abs=1e-9)


def test_trained_model_separates_classes(spark):
    """End-to-end: train on prose-vs-noise labels, score held-out
    docs drawn from the same distributions — probabilities must
    separate cleanly."""
    prose = ["the quick brown fox jumps", "a calm clear morning walk",
             "the fox walks a clear morning", "quick calm brown walk jumps"]
    noise = ["zxq vvk qqj xxo pzz", "vvk zxq pzz qqj qqj",
             "xxo pzz zxq vvk qqj", "pzz qqj xxo zxq vvk"]
    train = [(i, t, 1) for i, t in enumerate(prose)] + [
        (100 + i, t, 0) for i, t in enumerate(noise)
    ]
    df = spark.createDataFrame(train, "doc_id long, text string, label int")
    w, bias = lm.train_logreg(df, n_buckets=64, iters=30, lr=2.0)
    holdout = spark.createDataFrame(
        [(1, "brown fox morning walk"), (2, "qqj zxq pzz xxo")],
        "doc_id long, text string",
    )
    probs = {r.doc_id: r.prob for r in
             lm.score_linear(holdout, w, bias, n_buckets=64).collect()}
    assert probs[1] > 0.7
    assert probs[2] < 0.3


def test_empty_training_set_raises(spark):
    df = spark.createDataFrame([], "doc_id long, text string, label int")
    with pytest.raises(ValueError, match="at least one"):
        lm.train_logreg(df, n_buckets=8)


def test_failed_training_releases_its_features(spark):
    """The persisted feature table is released on the error path too:
    rebuilt from the same input, it is not cached."""
    df = spark.createDataFrame([], "doc_id long, text string, label int")
    with pytest.raises(ValueError):
        lm.train_logreg(df, n_buckets=8)
    assert lm.hashed_features(df, 8).storageLevel == StorageLevel.NONE


def test_score_is_partitioning_independent(spark):
    """The bucket-ordered fold makes the float dot product identical
    across physical layouts (the hash-stability contract the twin
    oracle relies on)."""
    rows = [(i, f"tok{i % 7} tok{i % 3} tok{i % 5} filler{i % 11}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = spark.createDataFrame(
        [(b, math.sin(b)) for b in range(32)], "bucket long, w double"
    )
    a = lm.score_linear(df.repartition(1), w, 0.1, 32).collect()
    b = lm.score_linear(df.repartition(13, "text"), w, 0.1, 32).collect()
    assert sorted((r.doc_id, r.score, r.prob) for r in a) == sorted(
        (r.doc_id, r.score, r.prob) for r in b
    )
