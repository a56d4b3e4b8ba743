"""Exact duplicate-span detection / scrubbing (operators/dupspans.py).

Crafted fixtures pin the span/merge/keep-first contracts; a hypothesis
sweep over tiny-alphabet corpora (where window collisions are dense)
checks equivalence against a python brute-force reference for both
audit and keep-first modes; scrub invariants prove every removed token
sat inside a duplicated window and the canonical copy survived.
"""

from __future__ import annotations

import re
from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdata_commerce_spark.operators.dupspans import (
    duplicate_spans,
    scrub_duplicate_spans,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ref_spans(docs: list[tuple[int, str | None]], window: int, keep_first: bool):
    """Brute-force reference: hash-free window counting + island
    merge, the literal spec of duplicate_spans."""
    toks = {
        d: [t for t in re.split(r"\s+", txt or "") if t] for d, txt in docs
    }
    by_window: dict[tuple, list[tuple[int, int]]] = defaultdict(list)
    for d, tk in toks.items():
        for p in range(len(tk) - window + 1):
            by_window[tuple(tk[p : p + window])].append((d, p))
    hits: dict[int, list[int]] = defaultdict(list)
    for occs in by_window.values():
        if len(occs) < 2:
            continue
        canon = min(occs)
        for d, p in occs:
            if keep_first and (d, p) == canon:
                continue
            hits[d].append(p)
    spans = []
    for d, ps in hits.items():
        ps = sorted(set(ps))
        start = last = ps[0]
        for p in ps[1:]:
            if p - last <= window:
                last = p
            else:
                spans.append((d, start, last + window - 1))
                start = last = p
        spans.append((d, start, last + window - 1))
    return sorted((d, s, e, e - s + 1) for d, s, e in spans)


def _spark_spans(spark, docs, window, keep_first):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = duplicate_spans(df, window=window, keep_first=keep_first)
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out.collect()
    )


def test_cross_document_duplicate_detected(spark):
    shared = "alpha beta gamma delta"
    docs = [
        (1, f"intro one {shared} tail one"),
        (2, f"other opening words {shared} closing"),
        (3, "entirely unique text with no repeats at all"),
    ]
    got = _spark_spans(spark, docs, window=4, keep_first=False)
    # doc1 tokens: intro one alpha beta gamma delta tail one -> pos 2..5
    # doc2 tokens: other opening words alpha beta gamma delta closing -> 3..6
    assert got == [(1, 2, 5, 4), (2, 3, 6, 4)]
    # keep-first exempts the earliest (doc_id, pos) occurrence
    assert _spark_spans(spark, docs, window=4, keep_first=True) == [(2, 3, 6, 4)]


def test_within_document_repeat_and_merge(spark):
    # the 3-token run "x y z" appears twice inside one doc; windows at
    # pos 0 and pos 4 do NOT merge (4 - 0 > 3 is false -> they DO
    # merge when gap <= window; here 4 <= window? window=3 -> 4 > 3,
    # distinct spans)
    docs = [(7, "x y z q x y z w")]
    got = _spark_spans(spark, docs, window=3, keep_first=False)
    assert got == [(7, 0, 2, 3), (7, 4, 6, 3)]
    # keep_first drops the canonical pos-0 copy
    assert _spark_spans(spark, docs, window=3, keep_first=True) == [(7, 4, 6, 3)]


def test_short_and_null_docs_contribute_nothing(spark):
    docs = [(1, "a b"), (2, None), (3, ""), (4, "a b")]
    # docs shorter than the window have no windows at all
    assert _spark_spans(spark, docs, window=3, keep_first=False) == []
    # at window=2 the repeated "a b" is found in both
    assert _spark_spans(spark, docs, window=2, keep_first=False) == [
        (1, 0, 1, 2),
        (4, 0, 1, 2),
    ]


def test_scrub_keeps_exactly_one_copy_on_crafted_fixture(spark):
    shared = "p q r s"
    docs = [(1, f"one two {shared}"), (2, f"{shared} three four")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.removed_tokens) for r in
           scrub_duplicate_spans(df, window=4).collect()}
    # canonical occurrence is min (doc_id, pos) -> doc 1 keeps it
    assert got[1] == ("one two p q r s", 0)
    assert got[2] == ("three four", 4)


def test_scrub_is_whitespace_normalized_identity_without_dups(spark):
    docs = [(1, "  solo   text\nwith   odd spacing "), (2, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.removed_tokens) for r in
           scrub_duplicate_spans(df, window=2).collect()}
    assert got[1] == ("solo text with odd spacing", 0)
    assert got[2] == ("", 0)


@st.composite
def tiny_corpus(draw):
    n_docs = draw(st.integers(1, 6))
    docs = []
    for i in range(n_docs):
        n = draw(st.integers(0, 14))
        words = [draw(st.sampled_from("a b c".split())) for _ in range(n)]
        docs.append((i, " ".join(words)))
    return docs


@_SETTINGS
@given(docs=tiny_corpus(), window=st.integers(1, 4), keep_first=st.booleans())
def test_spans_match_bruteforce_reference(spark, docs, window, keep_first):
    assert _spark_spans(spark, docs, window, keep_first) == _ref_spans(
        docs, window, keep_first
    )


@_SETTINGS
@given(docs=tiny_corpus(), window=st.integers(2, 4))
def test_scrub_invariants(spark, docs, window):
    """Every removed token index lies inside a keep-first span; kept
    tokens are the complement in original order; token accounting is
    exact."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.removed_tokens) for r in
           scrub_duplicate_spans(df, window=window).collect()}
    spans = defaultdict(list)
    for d, s, e, _ in _ref_spans(docs, window, keep_first=True):
        spans[d].append((s, e))
    for d, txt in docs:
        tk = [t for t in re.split(r"\s+", txt or "") if t]
        expected = [
            t for i, t in enumerate(tk)
            if not any(s <= i <= e for s, e in spans[d])
        ]
        assert got[d] == (" ".join(expected), len(tk) - len(expected))


from bigdata_commerce_spark.operators.dupspans import (  # noqa: E402
    contaminated_spans,
    scrub_contaminated_spans,
)


def _ref_contam_spans(corpus, bench_texts, window):
    """Brute-force reference: corpus windows present anywhere in the
    benchmark, islands merged."""
    bench_windows = set()
    for txt in bench_texts:
        tk = [t for t in re.split(r"\s+", txt or "") if t]
        for p in range(len(tk) - window + 1):
            bench_windows.add(tuple(tk[p : p + window]))
    hits = defaultdict(list)
    for d, txt in corpus:
        tk = [t for t in re.split(r"\s+", txt or "") if t]
        for p in range(len(tk) - window + 1):
            if tuple(tk[p : p + window]) in bench_windows:
                hits[d].append(p)
    spans = []
    for d, ps in hits.items():
        start = last = ps[0]
        for p in ps[1:]:
            if p - last <= window:
                last = p
            else:
                spans.append((d, start, last + window - 1))
                start = last = p
        spans.append((d, start, last + window - 1))
    return sorted((d, s, e, e - s + 1) for d, s, e in spans)


def test_contaminated_spans_crafted(spark):
    bench = spark.createDataFrame(
        [(1, "the exact eval question text here please")],
        "doc_id long, text string",
    )
    corpus = [
        (10, "intro the exact eval question text here please outro"),
        (11, "no overlap with anything in the benchmark set at all"),
        (12, "question text here please"),  # only 4 tokens of the run
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in contaminated_spans(df, bench, window=5).collect()
    )
    # doc 10 tokens: intro the exact eval question text here please outro
    # shared 7-token run at pos 1..7 -> windows at 1,2,3 merge
    assert got == [(10, 1, 7, 7)]
    # doc 12's 4-token fragment is below the window -> not flagged
    scrubbed = {r.doc_id: (r.text, r.removed_tokens) for r in
                scrub_contaminated_spans(df, bench, window=5).collect()}
    assert scrubbed[10] == ("intro outro", 7)  # NO canonical copy kept
    assert scrubbed[11][1] == 0
    assert scrubbed[12] == ("question text here please", 0)


@_SETTINGS
@given(
    corpus=tiny_corpus(),
    bench=st.lists(
        st.lists(st.sampled_from("a b c".split()), min_size=0, max_size=10).map(" ".join),
        min_size=1,
        max_size=3,
    ),
    window=st.integers(1, 4),
)
def test_contaminated_spans_match_bruteforce(spark, corpus, bench, window):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame([(t,) for t in bench], "text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in contaminated_spans(df, bdf, window=window).collect()
    )
    assert got == _ref_contam_spans(corpus, bench, window)


def test_tag_phrases_crafted(spark):
    from bigdata_commerce_spark.operators.dupspans import tag_phrases

    docs = [
        (1, "Buy Cheap Pills now buy cheap pills again"),
        (2, "nothing to see"),
        (3, "pills now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.pos, r.phrase, r.n_tokens)
        for r in tag_phrases(df, ["buy cheap pills", "now"]).collect()
    )
    assert got == [
        (1, 0, "buy cheap pills", 3),
        (1, 3, "now", 1),
        (1, 4, "buy cheap pills", 3),
        (3, 1, "now", 1),
    ]


def test_tag_phrases_rejects_empty_phrase(spark):
    import pytest as _pytest

    from bigdata_commerce_spark.operators.dupspans import tag_phrases

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no tokens"):
        tag_phrases(df, ["ok phrase", "   "])


@_SETTINGS
@given(
    docs=tiny_corpus(),
    dict_phrases=st.lists(
        st.lists(st.sampled_from("a b c".split()), min_size=1, max_size=3).map(
            " ".join
        ),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_tag_phrases_matches_bruteforce(spark, docs, dict_phrases):
    """Every (doc, pos, phrase) hit, against a python sliding-window
    reference, over dense tiny-alphabet corpora."""
    from bigdata_commerce_spark.operators.dupspans import tag_phrases

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.pos, r.phrase)
        for r in tag_phrases(df, dict_phrases).collect()
    )
    expected = []
    for d, txt in docs:
        tk = [t for t in re.split(r"\s+", (txt or "").lower()) if t]
        for p in dict_phrases:
            ptk = p.lower().split()
            n = len(ptk)
            for i in range(len(tk) - n + 1):
                if tk[i : i + n] == ptk:
                    expected.append((d, i, p))
    assert got == sorted(expected)
