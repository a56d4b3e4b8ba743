"""Hypothesis-driven invariants for the round-3 operators: generated
inputs instead of hand-picked ones, checked against driver-side
reference implementations. Example counts are kept small — every
example is a real Spark job — but the generators explore sparse ids,
ragged lengths and parameter combinations no fixed fixture covers.
"""

from __future__ import annotations

import pytest

# Suite tiering (VERDICT r10 item 7, extended after measuring the
# round-11 durations): the hypothesis differential sweeps
# is wall-dominant — the full `pytest tests/` run keeps it;
# `-m "not slow"` gives the fast development signal.
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.packing import pack_sequences
from bigdata_commerce_spark.operators.text import chunk_documents
from bigdata_commerce_spark.sources.layout import zorder_value

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def doc_lengths(draw):
    """Sparse, unsorted (doc_id, n_tokens) pairs with duplicate-free
    ids and ragged token counts."""
    ids = draw(
        st.lists(st.integers(0, 100_000), min_size=1, max_size=60, unique=True)
    )
    return [(i, draw(st.integers(1, 5_000))) for i in ids]


@_SETTINGS
@given(docs=doc_lengths(), budget=st.integers(1, 4096), width=st.integers(1, 2048))
def test_pack_sequences_equals_sequential_spec(spark, docs, budget, width):
    expected = {}
    start = 0
    for doc_id, n in sorted(docs):
        expected[doc_id] = (n, start, start // budget, start % budget)
        start += n
    got = {
        r.doc_id: (r.n_tokens, r.token_start, r.pack_id, r.pack_offset)
        for r in pack_sequences(
            spark.createDataFrame(docs, "doc_id long, n_tokens long"),
            budget=budget,
            bucket_width=width,
        ).collect()
    }
    assert got == expected


@_SETTINGS
@given(
    texts=st.lists(
        st.lists(st.integers(0, 30), min_size=1, max_size=50).map(
            lambda xs: " ".join(f"w{x}" for x in xs)
        ),
        min_size=1,
        max_size=20,
    ),
    chunk=st.integers(2, 12),
    overlap_frac=st.floats(0.0, 0.9),
)
def test_chunk_documents_reference_equality(spark, texts, chunk, overlap_frac):
    overlap = min(int(chunk * overlap_frac), chunk - 1)
    stride = chunk - overlap
    rows = list(enumerate(texts))
    got = {}
    for r in chunk_documents(
        spark.createDataFrame(rows, "doc_id long, text string"),
        chunk_tokens=chunk,
        overlap=overlap,
    ).collect():
        got.setdefault(r.doc_id, {})[r.chunk_no] = r.chunk_text
    for doc_id, text in rows:
        toks = text.split()
        expected = {
            c: " ".join(toks[s : s + chunk])
            for c, s in enumerate(range(0, len(toks), stride))
        }
        assert got.get(doc_id, {}) == expected, (doc_id, chunk, overlap)


def _py_interleave(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


@_SETTINGS
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1,
        max_size=100,
    ),
    bits=st.integers(1, 16),
)
def test_zorder_value_matches_python_reference(spark, pairs, bits):
    df = spark.createDataFrame(pairs, "x long, y long")
    got = [
        r.z
        for r in df.select(zorder_value("x", "y", bits=bits).alias("z")).collect()
    ]
    want = [_py_interleave(x & ((1 << bits) - 1), y & ((1 << bits) - 1), bits) for x, y in pairs]
    assert sorted(got) == sorted(want)


def test_pack_sequences_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, 2)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError):
        pack_sequences(df, budget=0)
    with pytest.raises(ValueError):
        pack_sequences(df, budget=10, bucket_width=0)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


@_SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab \t"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=12,
    ),
    n=st.integers(2, 5),
)
def test_ngram_fold_matches_python_reference(spark, texts, n):
    """ngram_fold over arbitrary whitespace-ragged text equals the
    Python reference on normalized tokens, INCLUDING sub-(n-1)-token
    docs (empty array, never a slice error)."""
    import re

    from pyspark.sql import functions as F2

    from bigdata_commerce_spark.operators.text import ngram_fold, tokens

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", ngram_fold(tokens("text"), n).alias("g")
        ).collect()
    }
    for i, t in rows:
        toks = re.sub(r"[ \t\n\x0b\f\r]+", " ", t.strip(" ").lower()).split(" ")
        want = [" ".join(toks[j : j + n]) for j in range(max(len(toks) - n + 1, 0))]
        assert got[i] == want, (i, t)


@_SETTINGS
@given(
    fracs=st.lists(st.floats(0.0, 1.0), min_size=2, max_size=4),
    n_rows=st.integers(50, 300),
)
def test_mixture_sample_nesting_property(spark, fracs, n_rows):
    """For ANY fraction ladder f1 <= f2 <= ... the samples are nested:
    raising a source's weight only adds documents."""
    from bigdata_commerce_spark.operators.mixing import mixture_sample

    ladder = sorted(fracs)
    df = spark.createDataFrame(
        [(i, "s") for i in range(n_rows)], "doc_id long, source string"
    )
    prev: set = set()
    for j, f in enumerate(ladder):
        cur = {r.doc_id for r in mixture_sample(df, {"s": f}).collect()}
        assert prev <= cur, (j, ladder)
        prev = cur
    if ladder[-1] >= 1.0:
        assert prev == set(range(n_rows))


@st.composite
def line_corpora(draw):
    """Documents built from a small shared line pool (so real
    cross-document line frequency arises) plus unique lines."""
    pool = [f"shared line {i}" for i in range(draw(st.integers(1, 4)))]
    n_docs = draw(st.integers(1, 8))
    docs = []
    for d in range(n_docs):
        lines = draw(
            st.lists(
                st.one_of(st.sampled_from(pool), st.just(f"unique {d}")),
                min_size=1,
                max_size=6,
            )
        )
        docs.append((d, "\n".join(lines)))
    return docs


@_SETTINGS
@given(docs=line_corpora(), min_docs=st.integers(1, 6))
def test_remove_frequent_lines_invariants(spark, docs, min_docs):
    """(a) kept + removed == total lines per doc; (b) with min_docs
    above the doc count nothing is ever removed and text round-trips;
    (c) a removed line's doc frequency really reaches min_docs."""
    from bigdata_commerce_spark.operators.text import remove_frequent_lines

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_frequent_lines(df, min_docs=min_docs).collect()}
    freq: dict[str, set[int]] = {}
    for d, text in docs:
        for ln in text.split("\n"):
            key = ln.strip().lower()
            if key:
                freq.setdefault(key, set()).add(d)
    for d, text in docs:
        lines = text.split("\n")
        r = out[d]
        assert r.n_kept_lines + r.n_removed_lines == len(lines)
        expected_kept = [
            ln
            for ln in lines
            if not ln.strip() or len(freq[ln.strip().lower()]) < min_docs
        ]
        assert r.clean_text == "\n".join(expected_kept)
        if min_docs > len(docs):
            assert r.clean_text == text


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3)), min_size=1, max_size=40
    ),
)
def test_validate_unique_surplus_matches_reference(spark, rows):
    """unique-check violations == n_rows - n_distinct_keys, NULL keys
    grouping together like any value."""
    from bigdata_commerce_spark.operators import validate as V

    data = [(a if a else None, b) for a, b in rows]
    df = spark.createDataFrame(data, "k long, v long")
    got = V.validate(df, [V.unique("k", "v")]).collect()[0]
    distinct = len({(a, b) for a, b in data})
    assert got.n_violations == len(data) - distinct
    assert got.n_rows == len(data)


@st.composite
def keyed_event_streams(draw):
    """(key, ts_seconds, value) triples with deliberately clumpy
    timestamps: duplicates (ties), bucket-boundary-exact values, long
    empty stretches, and NULL values — the shapes the bucket-spine
    stitch has to get right."""
    n_keys = draw(st.integers(1, 4))
    rows = []
    rid = 0
    for k in range(n_keys):
        # key 0 sometimes becomes NULL: the exact paths window
        # NULL keys into one partition, and the bucketized paths'
        # join-back must be null-safe to keep those rows (a plain
        # equi-join silently dropped them — round-5 review finding)
        key = None if (k == 0 and draw(st.booleans())) else k
        n = draw(st.integers(1, 25))
        ts = draw(
            st.lists(
                st.integers(0, 20_000).map(lambda s: s * 10), min_size=n, max_size=n
            )
        )
        for t in ts:
            rid += 1
            v = draw(st.one_of(st.none(), st.integers(-100, 100)))
            rows.append((rid, key, t, None if v is None else float(v)))
    return rows


@_SETTINGS
@given(rows=keyed_event_streams(), bucket=st.sampled_from([60, 1800, 86400]))
def test_sessionize_bucketed_equivalence_hypothesis(spark, rows, bucket):
    """Generated clumpy streams: the time-bucketized sessionizer's ids
    must equal the exact path's for every row."""
    from bigdata_commerce_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(rid, k, t) for rid, k, t, _ in rows],
        "event_id long, user_id long, sec long",
    ).select("event_id", "user_id", F.col("sec").cast("timestamp").alias("ts"))
    exact = {
        r.event_id: r.session_id
        for r in sessionize(df).collect()
    }
    got = {
        r.event_id: r.session_id
        for r in sessionize(df, bucket_seconds=bucket).collect()
    }
    assert got == exact


@_SETTINGS
@given(rows=keyed_event_streams(), bucket=st.sampled_from([60, 1800, 86400]))
def test_running_sum_bucketed_equivalence_hypothesis(spark, rows, bucket):
    """Generated clumpy streams with NULL values: the two-level
    prefix-sum running sum must be bit-identical to the exact window
    (ties broken by event_id on both paths)."""
    from bigdata_commerce_spark.operators.running import running_sum_per_key

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, sec long, value double"
    ).select(
        "event_id", "user_id", F.col("sec").cast("timestamp").alias("ts"), "value"
    )

    def run(b):
        return {
            r.event_id: r["__rs"]
            for r in running_sum_per_key(df, bucket_seconds=b).collect()
        }

    assert run(bucket) == run(None)


@_SETTINGS
@given(rows=keyed_event_streams(), bucket=st.sampled_from([60, 1800, 86400]))
def test_asof_bucketed_equivalence_hypothesis(spark, rows, bucket):
    """Generated clumpy streams split into probe/quote sides: the
    bucketized as-of join must match the exact path row-for-row."""
    from bigdata_commerce_spark.operators.asof import asof_join

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, sec long, value double"
    ).select(
        "event_id", "user_id", F.col("sec").cast("timestamp").alias("ts"), "value"
    )
    left = df.where(F.col("event_id") % 2 == 0).select("event_id", "user_id", "ts")
    right = df.where(F.col("event_id") % 2 == 1).select("user_id", "ts", "value")

    def run(b):
        return sorted(
            (r.event_id, r.asof_value, r.asof_ts)
            for r in asof_join(
                left, right, on="user_id", left_ts="ts", right_ts="ts",
                payload_cols=["value"], bucket_seconds=b,
            ).collect()
        )

    assert run(bucket) == run(None)


@st.composite
def snapshot_pair(draw):
    """Two keyed snapshots with overlapping keys, NULL-able values,
    and arbitrary churn: the diff generator no fixed fixture covers."""
    keys = draw(st.lists(st.integers(0, 40), min_size=0, max_size=25, unique=True))
    val = st.one_of(st.none(), st.integers(-5, 5))
    old = {k: draw(val) for k in keys if draw(st.booleans())}
    new = {k: draw(val) for k in keys if draw(st.booleans())}
    return old, new


@_SETTINGS
@given(pair=snapshot_pair())
def test_table_diff_matches_dict_reference(spark, pair):
    from bigdata_commerce_spark.operators.diff import apply_changes, table_diff

    old, new = pair
    expected = {}
    for k in set(old) | set(new):
        if k not in old:
            expected[k] = ("insert", None, new[k])
        elif k not in new:
            expected[k] = ("delete", old[k], None)
        elif old[k] != new[k]:
            expected[k] = ("update", old[k], new[k])

    def frame(d):
        return spark.createDataFrame(
            [(k, v) for k, v in d.items()] or [], "id long, v long"
        )

    feed = table_diff(frame(old), frame(new), keys=["id"])
    got = {
        r["id"]: (r["change_type"], r["old_v"], r["new_v"]) for r in feed.collect()
    }
    assert got == expected

    # Round-trip law on the same generated pair.
    rebuilt = {
        r["id"]: r["v"] for r in apply_changes(frame(old), feed, ["id"]).collect()
    }
    assert rebuilt == new


@_SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("a b c d".split()), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(1, 4),
)
def test_tfidf_matches_bruteforce(spark, docs, k):
    """tfidf_top_terms vs a python reference: same smoothed idf, same
    rounding, same (score desc, term asc) tie order."""
    import math
    from collections import Counter

    from bigdata_commerce_spark.operators.text import tfidf_top_terms

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.term, r.tfidf, r.rank)
        for r in tfidf_top_terms(df, k=k).collect()
    )
    n_docs = len(docs)
    tokenized = {i: [t for t in t_.split() if t] for i, t_ in rows}
    dfreq = Counter()
    for tk in tokenized.values():
        dfreq.update(set(tk))
    expected = []
    for i, tk in tokenized.items():
        if not tk:
            continue
        cnt = Counter(tk)
        scored = sorted(
            (
                (
                    round(
                        c / len(tk) * (math.log((n_docs + 1) / (dfreq[t] + 1)) + 1),
                        6,
                    ),
                    t,
                )
                for t, c in cnt.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )
        for rank, (score, term) in enumerate(scored[:k], start=1):
            expected.append((i, term, score, rank))
    assert got == sorted(expected)


# ---------------------------------------------------------------------------
# Totality laws for the round-6 ingest hardening: ARBITRARY garbage
# strings must parse to NULL fields, never throw (under ANSI mode one
# poison line otherwise aborts the batch — and permanently wedges a
# stream, which re-reads the same offset on restart).
# ---------------------------------------------------------------------------

_WIRE_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)


@_SETTINGS
@given(lines=st.lists(_WIRE_TEXT, min_size=1, max_size=25))
def test_parse_ad_log_total_over_arbitrary_lines(spark, lines):
    from bigdata_commerce_spark.streaming.ad_stream import parse_ad_log

    df = spark.createDataFrame([(x,) for x in lines], "value string")
    rows = parse_ad_log(df).collect()  # must never throw
    assert len(rows) == len(lines)
    for r in rows:
        # typed or NULL — never a stringly field sneaking through
        assert r.user_id is None or isinstance(r.user_id, int)
        assert r.ad_id is None or isinstance(r.ad_id, int)


@_SETTINGS
@given(
    dates=st.lists(_WIRE_TEXT, min_size=1, max_size=15),
    idcsv=_WIRE_TEXT,
)
def test_normalize_actions_total_over_arbitrary_strings(spark, dates, idcsv):
    from bigdata_commerce_spark.sources.commerce import normalize_actions

    raw = spark.createDataFrame(
        [
            (d, i, f"s{i}", 1, d, None, -1, -1, idcsv, idcsv, None, None, 1)
            for i, d in enumerate(dates)
        ],
        "date string, user_id long, session_id string, page_id long, "
        "action_time string, search_keyword string, click_category_id long, "
        "click_product_id long, order_category_ids string, order_product_ids string, "
        "pay_category_ids string, pay_product_ids string, city_id long",
    )
    rows = normalize_actions(raw).collect()  # must never throw
    assert len(rows) == len(dates)
    for r in rows:
        assert r.order_category_ids is None or all(
            x is None or isinstance(x, int) for x in r.order_category_ids
        )


@st.composite
def sourced_token_rows(draw):
    """(doc_id, source, n_tokens) with duplicate-free ids, ragged
    token counts, and a handful of sources of uneven size."""
    ids = draw(
        st.lists(st.integers(0, 100_000), min_size=1, max_size=50, unique=True)
    )
    n_sources = draw(st.integers(1, 5))
    return [
        (
            i,
            f"s{draw(st.integers(0, n_sources - 1))}",
            draw(st.integers(1, 500)),
        )
        for i in ids
    ]


@_SETTINGS
@given(rows=sourced_token_rows(), budget=st.integers(1, 2_000))
def test_token_budget_equals_sequential_spec(spark, rows, budget):
    """token_budget_per_source vs the pure-Python prefix-fill spec:
    per source, hash order, keep while the exclusive running token
    sum stays under budget (same differential family as the recipe
    and packing specs)."""
    import hashlib

    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    expected = {}
    by_src: dict[str, list] = {}
    for doc_id, src, toks in rows:
        h = hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[:8]
        by_src.setdefault(src, []).append((h, doc_id, toks))
    for src, docs in by_src.items():
        run = 0
        for h, doc_id, toks in sorted(docs):
            if run < budget:
                expected[doc_id] = (src, toks, run)
            run += toks
    got = {
        r.doc_id: (r.source, r.n_tokens, r.tokens_before)
        for r in token_budget_per_source(
            spark.createDataFrame(rows, "doc_id long, source string, n_tokens long"),
            budget,
        ).collect()
    }
    assert got == expected
