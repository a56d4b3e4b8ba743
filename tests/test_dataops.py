"""Behavioral tests for operators the SQL oracle can't check:
approximate ANN recall, multimodal plumbing, dedup ground truth."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import multimodal, similarity
from bigdata_commerce_spark.plans import QUERIES, TWIN_QUERIES
from bigdata_commerce_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE, in_job_group

# lookups span the driver catalog and the twin registry
ALL_QUERIES = {**TWIN_QUERIES, **QUERIES}


def test_ann_recall_vs_bruteforce(spark):
    """LSH ANN must recover most of the exact top-5 (recall@5 >= 0.5
    with 16 planes / 4 bands on the 64-dim synthetic embeddings)."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.corpus_id)
        for r in similarity.cosine_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.corpus_id)
        for r in similarity.lsh_ann_topk(emb, probes).collect()
    }
    assert exact, "brute force returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall@5 = {recall}"


def test_topk_recall_report_matches_set_arithmetic(spark):
    """similarity.topk_recall (the distributed recall report behind
    the embedding_ann_recall query) must agree with the driver-side
    set arithmetic the recall tests above use, and must surface a
    probe the approximate side missed ENTIRELY as recall 0, not a
    dropped row."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, probes, k=5)
    approx = similarity.lsh_ann_topk(emb, probes)
    rep = {r.probe_id: r for r in similarity.topk_recall(exact, approx).collect()}
    truth = {(r.probe_id, r.corpus_id) for r in exact.collect()}
    got = {(r.probe_id, r.corpus_id) for r in approx.collect()}
    assert set(rep) == {p for p, _ in truth}
    for pid, row in rep.items():
        t = {c for p, c in truth if p == pid}
        assert row.n_true == len(t)
        assert row.n_hit == len(t & {c for p, c in got if p == pid})
        assert row.recall == round(row.n_hit / row.n_true, 4)
    # a probe absent from the approximate side reports recall 0
    one_probe_gone = approx.where(F.col("probe_id") != 0)
    rep0 = {
        r.probe_id: r
        for r in similarity.topk_recall(exact, one_probe_gone).collect()
    }
    assert rep0[0].n_hit == 0 and rep0[0].recall == 0.0
    assert rep0[0].n_true == rep[0].n_true


def test_ann_scores_match_exact_for_shared_pairs(spark):
    """Where ANN and brute force agree on a pair, the exact re-rank
    score must be identical (same fold, same rounding)."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.corpus_id): r.score
        for r in similarity.cosine_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.corpus_id): r.score
        for r in similarity.lsh_ann_topk(emb, probes).collect()
    }
    shared = set(exact) & set(approx)
    assert shared
    for pair in shared:
        assert exact[pair] == approx[pair]


def test_ivf_recall_vs_bruteforce(spark):
    """IVF ANN (16 cells, nprobe=4) must recover a useful share of the
    exact top-5; on uniform synthetic embeddings the geometric floor
    is ~nprobe/n_centroids, so require well above that."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.corpus_id)
        for r in similarity.cosine_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.corpus_id)
        for r in similarity.ivf_topk(emb, probes).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"recall@5 = {recall}"


def test_ivf_assignment_partitions_corpus(spark):
    """Every corpus vector lands in exactly one cell and every result
    the IVF path returns scores identically to brute force (same fold,
    same rounding) — the approximation only drops candidates."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.corpus_id): r.score
        for r in similarity.cosine_topk(emb, probes, k=500).collect()
    }
    ivf = similarity.ivf_topk(emb, probes).collect()
    assert len(ivf) == 25  # 5 probes x full k (cells hold >> 5 each)
    for r in ivf:
        assert exact[(r.probe_id, r.corpus_id)] == r.score


def test_neardup_pairs_subset_of_bruteforce(spark):
    """Embedding near-dup: every returned pair must be a genuine
    >=threshold pair (precision 1 by construction — the verify is
    exact), ordered ids, and recall vs the brute-force pair set must
    clear the banding geometry's expectation."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    t = 0.4
    got = similarity.neardup_pairs(emb, threshold=t).collect()
    v = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("e"))
    a, b = v.alias("a"), v.alias("b")
    from bigdata_commerce_spark.operators.similarity import _as_double, _dot, _norm

    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            (
                _dot(_as_double(F.col("a.e")), _as_double(F.col("b.e")))
                / (_norm(_as_double(F.col("a.e"))) * _norm(_as_double(F.col("b.e"))))
            ).alias("raw"),
        )
        .where(F.col("raw") >= t)
        .collect()
    )
    brute_pairs = {(r.id1, r.id2) for r in brute}
    got_pairs = {(r.id1, r.id2) for r in got}
    assert got_pairs <= brute_pairs
    for r in got:
        assert r.id1 < r.id2
    assert brute_pairs, "no ground-truth pairs at this threshold"
    recall = len(got_pairs) / len(brute_pairs)
    assert recall >= 0.3, f"recall = {recall}"


def test_multimodal_feature_shape(spark):
    docs = load_table(spark, "documents", SF_SMOKE)
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r.n_bytes > 0
    assert len(r.content_sha) == 16
    assert len(r.features) == multimodal.FEATURE_DIM
    assert all(0.0 <= f < 1.0 for f in r.features)


def test_multimodal_frame_sample_shape(spark):
    """Every media row fans out to exactly n_frames rows with
    monotonically nondecreasing offsets bounded by the duration proxy,
    and distinct per-frame fingerprints."""
    docs = load_table(spark, "documents", SF_SMOKE)
    media = multimodal.documents_as_media(docs)
    frames = multimodal.frame_sample(media, n_frames=4)
    assert frames.count() == docs.count() * 4
    one = sorted(
        frames.where(F.col("media_id") == docs.first().doc_id).collect(),
        key=lambda r: r.frame_no,
    )
    offs = [r.offset_ms for r in one]
    assert offs == sorted(offs) and offs[0] == 0
    assert len({r.frame_sha for r in one}) == 4


def test_dedup_finds_planted_near_dups(spark):
    """The sf0.01 corpus has planted near-duplicate pairs (Jaccard
    >= 0.9); minhash-LSH and exact jaccard must both surface them,
    and LSH output must be a subset of the exact pairs."""
    sf = "/root/testdata/sf0.01"
    exact = {
        (r.id1, r.id2)
        for r in ALL_QUERIES["dedup_ngram_jaccard"](spark, sf).collect()
    }
    lsh = {
        (r.id1, r.id2)
        for r in ALL_QUERIES["dedup_minhash_lsh"](spark, sf).collect()
    }
    assert exact, "no near-dup pairs found at >= 0.8 jaccard"
    assert lsh <= exact
    # banding with r=2 at j>=0.8 catches essentially everything
    assert len(lsh) >= 0.9 * len(exact)


def test_prefix_filter_loses_no_pairs(spark):
    """PPJoin prefix filtering must return exactly the naive
    inverted-index join's pairs (it's a pruning, not an approximation)."""
    from pyspark.sql import functions as F2

    from bigdata_commerce_spark.operators.dedup import (
        _exploded_shingles,
        _verify_jaccard,
        jaccard_pairs,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    fast = {(r.id1, r.id2, r.jaccard) for r in jaccard_pairs(docs, threshold=0.8).collect()}

    ex = _exploded_shingles(docs, "text", "doc_id", 3)
    sizes = ex.groupBy("id").agg(F2.count(F2.lit(1)).alias("n_shingles"))
    a, b = ex.alias("a"), ex.alias("b")
    naive_cand = (
        a.join(b, (F2.col("a.shingle") == F2.col("b.shingle")) & (F2.col("a.id") < F2.col("b.id")))
        .select(F2.col("a.id").alias("id1"), F2.col("b.id").alias("id2"))
        .distinct()
    )
    naive = {
        (r.id1, r.id2, r.jaccard)
        for r in _verify_jaccard(naive_cand, ex, sizes, 0.8).collect()
    }
    assert fast == naive
    assert fast, "no pairs at sf0.01 — vacuous"


def test_jaccard_exact_boundary_pair(spark):
    """A pair with J exactly == t must survive (regression: float
    0.8*5 = 4.0000000000000002 made the size filter reject subset
    pairs with |y| = t*|x| and the prefix one element too short)."""
    from bigdata_commerce_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),  # 5 shingles: abc bcd cde def efg
            (2, "a b c d e f"),  # 4 shingles, subset -> J = 4/5 exactly
            (3, "x y z w q r s t"),  # unrelated
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id1, r.id2): r.jaccard for r in jaccard_pairs(docs, threshold=0.8).collect()}
    assert pairs == {(1, 2): 0.8}


def test_containment_catches_embedded_snippet_jaccard_misses(spark):
    """The case containment exists for: a short document embedded
    verbatim in a much longer one reads C(short, long) == 1.0 while
    its Jaccard is far below threshold — jaccard_pairs at 0.8 must
    return nothing for the pair, containment_pairs must return
    exactly the one DIRECTED pair (short contained in long, never
    the reverse)."""
    from bigdata_commerce_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    snippet = "alpha beta gamma delta epsilon zeta"  # 4 shingles
    filler = " ".join(f"w{i}" for i in range(60))  # 58+ distinct shingles
    docs = spark.createDataFrame(
        [
            (1, snippet),
            (2, snippet + " " + filler),  # contains every snippet shingle
            (3, "completely unrelated text about something else entirely"),
        ],
        "doc_id long, text string",
    )
    j = {(r.id1, r.id2) for r in jaccard_pairs(docs, threshold=0.8).collect()}
    assert j == set()  # resemblance blind to the embedding
    c = {
        (r.id1, r.id2): r.containment
        for r in containment_pairs(docs).collect()
    }
    assert c == {(1, 2): 1.0}


def test_containment_exact_dup_is_mutual_and_boundary_holds(spark):
    """Exact duplicates contain each other (both directions, C = 1);
    a pair at exactly C == t survives (the cross-multiplied verify,
    jaccard boundary discipline); C >= J always — the containment set
    is a superset of the jaccard set on any corpus."""
    from bigdata_commerce_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),  # 5 shingles
            (2, "a b c d e f"),  # 4 shingles, subset: C(2->1)=1, C(1->2)=4/5
            (3, "a b c d e f g"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )
    c = {
        (r.id1, r.id2): r.containment
        for r in containment_pairs(docs).collect()
    }
    assert c[(2, 1)] == 1.0 and c[(2, 3)] == 1.0
    assert c[(1, 3)] == 1.0 and c[(3, 1)] == 1.0  # mutual for exact dups
    assert c[(1, 2)] == 0.8  # exactly at the threshold -> kept
    j = {(r.id1, r.id2) for r in jaccard_pairs(docs, threshold=0.8).collect()}
    for id1, id2 in j:
        assert (id1, id2) in c or (id2, id1) in c


def test_unigram_kl_hand_computed(spark):
    """lm_quality.unigram_kl_report on a 3-token vocabulary, KL
    computed by hand: a={apple x2, banana}, b={banana x2, cherry},
    Laplace over V=3 -> contributions 0.5*ln(3), (1/3)*ln(2/3),
    (1/6)*ln(1/2); total 0.298627. Symmetry check: KL(a||b) !=
    KL(b||a) but both rank their own over-represented token first."""
    from bigdata_commerce_spark.operators.lm_quality import unigram_kl_report

    docs = spark.createDataFrame(
        [(1, "a", "apple apple banana"), (2, "b", "banana banana cherry")],
        "doc_id long, source string, text string",
    )
    rows = unigram_kl_report(docs, "a", "b").collect()
    by_token = {r.token: r for r in rows}
    assert set(by_token) == {"apple", "banana", "cherry"}
    assert by_token["apple"].contribution == round(0.5 * 1.0986122886681098, 8)
    assert by_token["apple"].rank == 1 and by_token["apple"].c_a == 2
    assert rows[0].kl_total == 0.298627
    rev = unigram_kl_report(docs, "b", "a").collect()
    assert rev[0].token in ("banana", "cherry")  # b's over-represented side
    assert rev[0].kl_total != rows[0].kl_total  # KL is asymmetric


def test_negative_samples_never_leak_positives_and_are_deterministic(spark):
    """mixing.negative_samples: no sampled negative is ever a
    positive; re-runs are identical (deterministic hash slots); ranks
    are dense 1..k; and a user who interacted with most of a tiny
    catalog gets the SHORT list the construction defines (never a
    positive padded in)."""
    from bigdata_commerce_spark.operators.mixing import negative_samples

    pos = spark.createDataFrame(
        [(u, i) for u in range(20) for i in range(u % 4)],  # user u bought items 0..(u%4 - 1)
        "user_id long, item_id long",
    )
    n_items = spark.createDataFrame([(50,)], "n_items long")
    out1 = sorted(
        (r.user_id, r.item_id, r.neg_rank)
        for r in negative_samples(pos, n_items).collect()
    )
    out2 = sorted(
        (r.user_id, r.item_id, r.neg_rank)
        for r in negative_samples(pos, n_items).collect()
    )
    assert out1 == out2 and out1
    positives = {(u, i) for u in range(20) for i in range(u % 4)}
    users_with_pos = {u for u, _ in positives}
    for u, i, r in out1:
        assert (u, i) not in positives
        assert 0 <= i < 50 and 1 <= r <= 5
        assert u in users_with_pos  # only users present in positives sampled
    for u in users_with_pos:
        ranks = sorted(r for uu, _, r in out1 if uu == u)
        assert ranks == list(range(1, len(ranks) + 1))  # dense from 1
    # tiny catalog: user bought 2 of 3 items -> at most the 1 remaining
    tiny_pos = spark.createDataFrame([(1, 0), (1, 1)], "user_id long, item_id long")
    tiny_n = spark.createDataFrame([(3,)], "n_items long")
    tiny = negative_samples(tiny_pos, tiny_n).collect()
    assert {(r.user_id, r.item_id) for r in tiny} <= {(1, 2)}


def test_ks_report_hand_computed_and_bucket_invariant(spark):
    """drift.ks_report against a hand-computed KS: A={1,2,3,4} vs
    B={3,4,5,6} peaks at gap 0.5 first reached at v=2 (smallest
    attaining value wins the tiebreak — gaps at v=3 and v=4 are also
    0.5); identical samples give 0; and the result must be invariant
    to n_buckets (the bucketing is execution layout, not math)."""
    from bigdata_commerce_spark.operators.drift import ks_report

    rows = [(float(v), "a") for v in (1, 2, 3, 4)] + [
        (float(v), "b") for v in (3, 4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "value double, grp string")
    for nb in (2, 8, 64):
        r = ks_report(df, "value", "grp", "a", "b", n_buckets=nb).collect()[0]
        assert (r.ks_stat, r.at_value, r.n_a, r.n_b) == (0.5, 2.0, 4, 4), (nb, r)
    same = spark.createDataFrame(
        [(float(v), g) for v in (1, 2, 3) for g in ("a", "b")],
        "value double, grp string",
    )
    r = ks_report(same, "value", "grp", "a", "b").collect()[0]
    assert r.ks_stat == 0.0
    # NULL values are not observations
    with_null = df.union(
        spark.createDataFrame([(None, "a")], "value double, grp string")
    )
    r = ks_report(with_null, "value", "grp", "a", "b").collect()[0]
    assert (r.ks_stat, r.n_a) == (0.5, 4)


def test_approx_distinct_within_bounds(spark):
    # The catalog query projects only the oracle-checkable exact count;
    # the HLL++ sketch's 5% bound is asserted here against it.
    from pyspark.sql import functions as F

    from bigdata_commerce_spark.sources.testdata import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.01")
    rows = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) / r.exact_users < 0.05


def test_price_quantiles_bounds(spark):
    rows = ALL_QUERIES["price_quantiles"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.min_price <= r.p50_price <= r.p90_price <= r.p99_price <= r.max_price


def test_asof_join_ignores_null_right_ts(spark):
    """Right rows with NULL timestamp must be ignored (DuckDB ASOF
    semantics), not sorted nulls-first and smeared over the key."""
    from bigdata_commerce_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 20)], "key string, lts int"
    )
    right = spark.createDataFrame(
        [("k", None, "poison"), ("k", 15, "good")],
        "key string, rts int, payload string",
    )
    out = {
        r.lts: (r.asof_payload, r.asof_ts)
        for r in asof_join(
            left, right, on="key", left_ts="lts", right_ts="rts",
            payload_cols=["payload"],
        ).collect()
    }
    assert out == {10: (None, None), 20: ("good", 15)}


def test_asof_join_bucketed_equals_exact(spark):
    """The skew-bounded (time-bucketized) as-of path must be
    row-identical to the exact per-key window path — on real event
    data (purchase->click attribution) and across bucket widths,
    including buckets far narrower than the gap between right rows
    (carry-forward across many empty buckets)."""
    from bigdata_commerce_spark.operators.asof import asof_join

    ev = load_table(spark, "events", SF_SMOKE)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    def run(bucket_seconds):
        return sorted(
            asof_join(
                purch,
                clicks,
                on="user_id",
                left_ts="ts",
                right_ts="ts",
                payload_cols=["value"],
                bucket_seconds=bucket_seconds,
            ).collect(),
            key=lambda r: r.event_id,
        )

    exact = run(None)
    assert exact
    for b in (60, 3600, 7 * 86400):
        assert run(b) == exact, f"bucket_seconds={b} diverged"


def test_asof_join_bucketed_null_and_tie_edges(spark):
    """Crafted edges through the bucketized path: NULL left ts (no
    match), NULL right ts (ignored), right row exactly on a bucket
    boundary, inclusive ts tie, and a left bucket with no right rows
    (pure carry-in)."""
    from bigdata_commerce_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", None), ("k", 5), ("k", 60), ("k", 61), ("k", 3600), ("z", 50),
         (None, 7200)],
        "key string, lts long",
    )
    right = spark.createDataFrame(
        [("k", None, "poison"), ("k", 5, "a"), ("k", 60, "b"),
         (None, 100, "nullkey")],
        "key string, rts long, payload string",
    )
    for b in (None, 60):
        out = {
            (r.key, r.lts): (r.asof_payload, r.asof_ts)
            for r in asof_join(
                left, right, on="key", left_ts="lts", right_ts="rts",
                payload_cols=["payload"], bucket_seconds=b,
            ).collect()
        }
        assert out == {
            ("k", None): (None, None),
            ("k", 5): ("a", 5),  # inclusive tie
            ("k", 60): ("b", 60),  # right row on the bucket boundary
            ("k", 61): ("b", 60),
            ("k", 3600): ("b", 60),  # carry across 58 empty buckets
            ("z", 50): (None, None),  # key with no right rows at all
            # NULL keys window together (exact path) and the
            # bucketized carry must be null-safe to agree
            (None, 7200): ("nullkey", 100),
        }, f"bucket_seconds={b}"


def test_connected_components_long_chain(spark):
    """Path halving converges in O(log diameter): a 200-node chain
    must finish well inside 12 rounds (one-hop propagation would need
    ~200) and label every node with the chain minimum."""
    from bigdata_commerce_spark.operators.dedup_cluster import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    out = connected_components(
        nodes, edges, max_iterations=12, small_graph_threshold=0
    )
    labels = {r.id: r.cluster_id for r in out.collect()}
    assert labels == {i: 0 for i in range(n)}


def test_connected_components_nonconvergence_raises(spark):
    from bigdata_commerce_spark.operators.dedup_cluster import connected_components

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            nodes, edges, max_iterations=2, small_graph_threshold=0
        )


def test_connected_components_fast_path_matches_distributed(spark):
    """The driver union-find tier and the distributed propagation tier
    must produce identical labelings."""
    from bigdata_commerce_spark.operators.dedup_cluster import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    edges = spark.createDataFrame(
        [(1, 4), (4, 2), (7, 8), (9, 7), (10, 11), (3, 1)],
        "id1 long, id2 long",
    )
    fast = connected_components(nodes, edges)  # 6 edges -> union-find
    slow = connected_components(nodes, edges, small_graph_threshold=0)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_dedup_survivors(spark):
    from bigdata_commerce_spark.operators.dedup_cluster import (
        connected_components,
        dedup_survivors,
    )

    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id1 long, id2 long"
    )
    clusters = connected_components(nodes, edges)
    got = {r.id: r.cluster_id for r in clusters.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}

    quality = spark.createDataFrame(
        [(0, 0.1), (1, 0.9), (2, 0.9), (4, 0.5)], "id long, quality double"
    )
    surv = {
        r.cluster_id: (r.survivor_id, r.cluster_size)
        for r in dedup_survivors(clusters, quality).collect()
    }
    # highest quality wins; quality tie (1 vs 2) -> lowest id; missing
    # quality -> 0.0
    assert surv[0] == (1, 3)
    assert surv[4] == (4, 2)
    assert surv[3] == (3, 1)


def _sort_fallback_tasks(jdf) -> int:
    """Tasks in which an executed ObjectHashAggregate switched to its
    sort-based fallback, summed over the plan (through AQE stages and
    cached relations)."""
    total, stack = 0, [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ObjectHashAggregateExec":
            total += node.metrics().apply("numTasksFallBacked").value()
        elif cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def test_jaccard_multi_mb_document_under_sort_fallback(spark):
    """A 2.3 MB document is one collect_list group holding ~400k
    (df, shingle) structs. With the object-agg fallback threshold
    lowered to 1 key, every aggregating task sorts its buffers instead
    of hashing them; the pairs must equal the default threshold's."""
    import random

    from bigdata_commerce_spark.operators.cache_util import reset_caches
    from bigdata_commerce_spark.operators.dedup import jaccard_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    small = " ".join(rng.choice(vocab) for _ in range(60))
    docs = spark.createDataFrame(
        [
            (1, " ".join(rng.choice(vocab) for _ in range(400_000))),
            (3, small),
            (4, small + " tail"),
            (5, "a b c d e f g h"),
            (6, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )

    def run():
        reset_caches(spark)
        q = jaccard_pairs(docs, threshold=0.8)
        return sorted(q.collect()), _sort_fallback_tasks(q._jdf)

    key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    default, default_fallbacks = run()
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        lowered, lowered_fallbacks = run()
    finally:
        spark.conf.set(key, prev)
        reset_caches(spark)
    assert [(r.id1, r.id2, r.jaccard) for r in default] == [(3, 4, 0.9831)]
    assert lowered == default
    assert default_fallbacks == 0 and lowered_fallbacks > 0


def test_corpus_curation_consistent_with_standalone_ops(spark):
    """curate() must equal the composition of the standalone operators
    it fuses: quality gate, language gate, exact-dedup min-id survivor
    — and dup_count must total the kept-document count."""
    from bigdata_commerce_spark.operators import text as text_ops

    docs = load_table(spark, "documents", SF_SMOKE)
    got = text_ops.curate(docs).collect()

    q = {r.doc_id: r.quality for r in text_ops.quality_score(docs).collect()}
    lang = {r.doc_id: r.predicted_lang for r in text_ops.lang_id(docs).collect()}
    fp = {
        r.doc_id: r.fp
        for r in docs.select(
            "doc_id", text_ops.fingerprint("text").alias("fp")
        ).collect()
    }
    kept = {d for d in q if q[d] >= 0.5 and lang[d] == "en"}
    groups: dict[str, list[int]] = {}
    for d in kept:
        groups.setdefault(fp[d], []).append(d)
    expected = {
        (min(ds), q[min(ds)], f, len(ds)) for f, ds in groups.items()
    }
    assert {(r.doc_id, r.quality, r.fp, r.dup_count) for r in got} == expected
    assert sum(r.dup_count for r in got) == len(kept)


def test_heavy_hitter_users_build_submits_no_job(spark, monkeypatch):
    """The top-10 is a lazy aggregate + TakeOrderedAndProject: building
    it runs no Spark job. The parquet open (its schema read) is ingest,
    not build, so it runs under its own group — as in the benchmark's
    traced run — and a probe group proves jobs are visible."""
    from bigdata_commerce_spark.plans import catalog

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    load = catalog.load_table
    monkeypatch.setattr(
        catalog, "load_table", lambda *a: in_job_group(sc, "hh_sources", lambda: load(*a))
    )
    df = in_job_group(
        sc, "hh_build", lambda: QUERIES["heavy_hitter_users"](spark, SF_SMOKE)
    )
    in_job_group(sc, "hh_probe", lambda: spark.range(3).count())
    # The listener bus delivers in order: once the probe job is
    # visible, any job the build submitted would be too.
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("hh_probe") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("hh_probe"), "probe sees no jobs at all"
    assert tracker.getJobIdsForGroup("hh_build") == []
    assert df.columns == ["user_id", "event_count", "rank"]


def test_range_join_matches_naive_nonequi(spark):
    """Bucketized range join must return exactly the rows of the naive
    non-equi join (it's a decomposition, not an approximation) — for
    bucket widths shorter and longer than the intervals, and with
    pairs that meet in multiple buckets counted once."""
    import datetime as dt

    from bigdata_commerce_spark.operators.range_join import range_join

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=7 * i)) for i in range(100)],
        "ad_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (i % 5, base + dt.timedelta(minutes=30 * i),
             base + dt.timedelta(minutes=30 * i + 95))
            for i in range(12)
        ],
        "ad_id long, s timestamp, e timestamp",
    )
    naive = (
        pts.crossJoin(iv.withColumnRenamed("ad_id", "k2"))
        .where((F.col("ad_id") == F.col("k2")) & (F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e")))
        .select("ad_id", "ts", "s", "e")
    )
    expected = sorted(map(tuple, naive.collect()))
    for bucket in (600, 3600, 86400):  # 10min < interval; 1h ~; 1d >
        got = sorted(
            map(tuple, range_join(pts, iv, "ts", "s", "e", bucket).select("ad_id", "ts", "s", "e").collect())
        )
        assert got == expected, f"bucket={bucket}"
    assert expected, "fixture produced no matches"


def test_rollup_ladder_levels_consistent(spark):
    """Each ladder level must equal direct aggregation from raw at
    that granularity (lossless re-aggregation), and coarser levels
    must be strictly smaller."""
    from bigdata_commerce_spark.operators.rollup_hierarchy import rollup_ladder
    from bigdata_commerce_spark.plans.catalog import _events

    ev = _events(spark, SF_SMOKE).select("ts", "province", "ad_id")
    ladder = rollup_ladder(ev)
    sizes = {}
    for lvl in ("minute", "hour", "day"):
        direct = ev.groupBy(F.date_trunc(lvl, "ts").alias("bucket"), "province").agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("ad_id").alias("value_sum"),
        )
        got = sorted(map(tuple, ladder[lvl].collect()))
        want = sorted(map(tuple, direct.collect()))
        assert got == want, lvl
        sizes[lvl] = len(got)
    assert sizes["day"] <= sizes["hour"] <= sizes["minute"]


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    """k-means-refined IVF must recover at least what the md5-pick
    quantizer does geometrically (nprobe/n_centroids of uniform space)
    and produce well-formed per-probe top-k."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.corpus_id)
        for r in similarity.cosine_topk(emb, probes, k=5).collect()
    }
    rows = similarity.ivf_kmeans_topk(emb, probes, k=5).collect()
    approx = {(r.probe_id, r.corpus_id) for r in rows}
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"recall@5 = {recall}"
    # per-probe: at most k rows, ranks contiguous from 1
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r.rank)
    for pid, ranks in by_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), pid
        assert len(ranks) <= 5


def test_ivf_kmeans_scores_match_exact_for_shared_pairs(spark):
    """The trained quantizer changes WHICH cells are searched, never
    the re-rank math: shared pairs score identically to brute force."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.probe_id, r.corpus_id): r.score
        for r in similarity.cosine_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.corpus_id): r.score
        for r in similarity.ivf_kmeans_topk(emb, probes, k=5).collect()
    }
    shared = set(exact) & set(approx)
    assert shared
    for pair in shared:
        assert exact[pair] == approx[pair]


def test_ivf_index_search_matches_ivf_topk(spark, tmp_path):
    """Persisted-index search must be bit-identical to the in-memory
    ivf_topk with the same (default md5) quantizer: same assignment
    fold, same nprobe cells, same exact re-rank."""
    from bigdata_commerce_spark.operators import ivf_index

    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    ivf_index.write_ivf_index(emb, path, n_centroids=16)
    got = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, path, probes, k=5).collect())
    )
    want = sorted(map(tuple, similarity.ivf_topk(emb, probes).collect()))
    assert got == want and got


def test_ivf_index_search_cache_is_bounded(spark, tmp_path):
    """Each search persists its probe-cell frame; distinct probe sets
    are distinct cache entries, so the registry must bound them
    instead of leaving one per search for the session's lifetime."""
    from bigdata_commerce_spark.operators import cache_util, ivf_index

    emb = load_table(spark, "embeddings", SF_SMOKE)
    path = str(tmp_path / "ivf")
    ivf_index.write_ivf_index(emb, path, n_centroids=16)
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    for i in range(cache_util.PERSIST_BOUND + 2):
        probes = emb.where(F.col("vec_id") == i)
        assert ivf_index.search_ivf_index(spark, path, probes, k=5).collect()
    assert jsc.getPersistentRDDs().size() - base <= cache_util.PERSIST_BOUND


def test_ivf_index_serves_trained_quantizer(spark, tmp_path):
    """Build-once/search-many with the TRAINED k-means quantizer:
    train once via train_kmeans_centroids, persist through
    write_ivf_index, and every search against the store must be
    row-identical to the in-memory ivf_kmeans_topk form (which
    re-trains per call with the same seed) — no re-fit at search
    time, which is the point of serving the index."""
    from bigdata_commerce_spark.operators import ivf_index
    from bigdata_commerce_spark.operators.similarity import train_kmeans_centroids

    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    cents = train_kmeans_centroids(emb, 16, seed=42, max_iter=10)
    path = str(tmp_path / "ivf_trained")
    ivf_index.write_ivf_index(emb, path, centroids=cents)

    want = sorted(
        map(tuple, similarity.ivf_kmeans_topk(emb, probes, k=5, seed=42).collect())
    )
    # search twice — the second search must not differ (frozen quantizer)
    for _ in range(2):
        got = sorted(
            map(tuple, ivf_index.search_ivf_index(spark, path, probes, k=5).collect())
        )
        assert got == want and got


def test_ivf_cell_stats_flags_skew(spark, tmp_path):
    """The drift-observability hook: per-cell counts sum to the corpus,
    fracs sum to 1, and a deliberately skewed store (all appends into
    one frozen quantizer cell) reports skew > 1 for the hot cell."""
    from bigdata_commerce_spark.operators import ivf_index
    from bigdata_commerce_spark.operators.similarity import md5_centroids

    emb = load_table(spark, "embeddings", SF_SMOKE)
    n = emb.count()
    cents = md5_centroids(emb, 8).cache()
    path = str(tmp_path / "ivf_stats")
    ivf_index.write_ivf_index(emb, path, centroids=cents)

    stats = {r.centroid_id: r for r in ivf_index.cell_stats(spark, path).collect()}
    assert sum(r.n_rows for r in stats.values()) == n
    assert abs(sum(r.frac for r in stats.values()) - 1.0) < 1e-9
    base_max_skew = max(r.skew for r in stats.values())

    # drift: re-append the whole corpus — rows rebin into the same
    # cells, doubling counts but also the mean, so skew holds; then
    # check a hot cell by appending one cell's members again
    hot = max(stats, key=lambda c: stats[c].n_rows)
    members = (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("centroid_id") == hot)
        .select(F.col("corpus_id").alias("vec_id"), F.col("cvec").alias("embedding"))
    )
    ivf_index.append_to_ivf_index(members, path)
    stats2 = {r.centroid_id: r for r in ivf_index.cell_stats(spark, path).collect()}
    assert stats2[hot].skew > base_max_skew
    cents.unpersist()


def test_ivf_index_append_equals_one_shot_build(spark, tmp_path):
    """Build on half the corpus, append the other half: searches must
    be row-identical to a one-shot build over the full corpus with the
    same frozen quantizer."""
    from bigdata_commerce_spark.operators import ivf_index
    from bigdata_commerce_spark.operators.similarity import md5_centroids

    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5)
    cents = md5_centroids(emb, 16).cache()

    full_path = str(tmp_path / "ivf_full")
    ivf_index.write_ivf_index(emb, full_path, centroids=cents)
    inc_path = str(tmp_path / "ivf_inc")
    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1)
    ivf_index.write_ivf_index(half1, inc_path, centroids=cents)
    ivf_index.append_to_ivf_index(half2, inc_path)

    got = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, inc_path, probes, k=5).collect())
    )
    want = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, full_path, probes, k=5).collect())
    )
    assert got == want and got
    cents.unpersist()


def test_ivf_streaming_append_sink_converges_to_batch_index(spark, tmp_path):
    """Streaming index maintenance: micro-batches of embeddings fed
    through ivf_append_sink land an index whose search equals the
    batch-built one (same frozen centroids)."""
    import shutil as _shutil

    from bigdata_commerce_spark.operators import ivf_index
    from bigdata_commerce_spark.operators.similarity import md5_centroids

    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5).cache()
    cents = md5_centroids(emb, 16).cache()

    batch_path = str(tmp_path / "ivf_batch")
    ivf_index.write_ivf_index(emb, batch_path, centroids=cents)

    # streamed index: seeded empty (build with 0 rows), all data
    # arrives through the stream in 3 chunks
    stream_path = str(tmp_path / "ivf_stream")
    ivf_index.write_ivf_index(emb.limit(0), stream_path, centroids=cents)
    flat = tmp_path / "flat"
    flat.mkdir()
    rows = emb.collect()
    third = len(rows) // 3
    for i, chunk in enumerate((rows[:third], rows[third : 2 * third], rows[2 * third :])):
        chunk_dir = tmp_path / f"c{i}"
        spark.createDataFrame(chunk, emb.schema).coalesce(1).write.parquet(str(chunk_dir))
        part = next(chunk_dir.glob("part-*.parquet"))
        _shutil.copy(part, flat / f"{i:02d}.parquet")

    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(ivf_index.ivf_append_sink(stream_path))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, stream_path, probes, k=5).collect())
    )
    want = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, batch_path, probes, k=5).collect())
    )
    assert got == want and got
    cents.unpersist()
    probes.unpersist()


def test_ivf_append_sink_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same epoch id) must not double-append:
    the epoch ledger marker makes the second call a no-op."""
    from bigdata_commerce_spark.operators import ivf_index
    from bigdata_commerce_spark.operators.similarity import md5_centroids

    emb = load_table(spark, "embeddings", SF_SMOKE)
    cents = md5_centroids(emb, 16).cache()
    path = str(tmp_path / "ivf")
    ivf_index.write_ivf_index(emb.limit(0), path, centroids=cents)

    sink = ivf_index.ivf_append_sink(path)
    batch = emb.limit(40)
    sink(batch, 0)
    n_once = spark.read.parquet(f"{path}/cells").count()
    sink(batch, 0)  # replay
    n_replay = spark.read.parquet(f"{path}/cells").count()
    assert n_once == n_replay == 40
    sink(emb.limit(60), 1)  # a NEW epoch still appends
    assert spark.read.parquet(f"{path}/cells").count() == 100
    cents.unpersist()


def test_ivf_index_scan_prunes_partitions(spark, tmp_path):
    """The probe-time cell scan must prune at the partition level:
    PartitionFilters carries the cell-id predicate, and partitions
    outside the wanted cells are not read."""
    from bigdata_commerce_spark.operators import ivf_index

    emb = load_table(spark, "embeddings", SF_SMOKE)
    path = str(tmp_path / "ivf")
    ivf_index.write_ivf_index(emb, path, n_centroids=16)
    all_cells = [
        r.centroid_id
        for r in spark.read.parquet(f"{path}/cells").select("centroid_id").distinct().collect()
    ]
    wanted = sorted(all_cells)[:3]
    scan = ivf_index.pruned_cell_scan(spark, path, wanted)
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "centroid_id" in pf_line, plan
    # executed effect: the scan reads exactly the wanted cells
    got_cells = {r.centroid_id for r in scan.select("centroid_id").distinct().collect()}
    assert got_cells == set(wanted)


def test_ivf_appended_cells_compact_and_search_unchanged(spark, tmp_path):
    """The documented steady-state flow end to end: streaming appends
    leave small files inside cell directories; compacting a closed
    cell (write to temp, swap via rename) reduces file count without
    changing search results."""
    import glob
    import os

    from bigdata_commerce_spark.operators import ivf_index
    from bigdata_commerce_spark.operators.similarity import md5_centroids
    from bigdata_commerce_spark.sources import compaction

    emb = load_table(spark, "embeddings", SF_SMOKE)
    probes = emb.where(F.col("vec_id") < 5).cache()
    cents = md5_centroids(emb, 16).cache()
    path = str(tmp_path / "ivf")
    ivf_index.write_ivf_index(emb.limit(0), path, centroids=cents)
    # 5 appends -> >=5 small files per populated cell
    rows = emb.collect()
    fifth = len(rows) // 5
    for i in range(5):
        chunk = rows[i * fifth : (i + 1) * fifth] if i < 4 else rows[4 * fifth :]
        ivf_index.append_to_ivf_index(
            spark.createDataFrame(chunk, emb.schema), path
        )
    before = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, path, probes, k=5).collect())
    )

    cell_dirs = glob.glob(f"{path}/cells/centroid_id=*")
    cell = max(cell_dirs, key=lambda d: len(glob.glob(f"{d}/*.parquet")))
    n_before = len(glob.glob(f"{cell}/*.parquet"))
    assert n_before >= 5

    tmp_out = str(tmp_path / "cell_compacted")
    compaction.compact(spark, cell, tmp_out)
    # swap: retire the fragmented cell dir OUTSIDE the cells tree (a
    # sibling ".old" dir would parse as a bogus partition value),
    # move the compacted one in
    os.rename(cell, str(tmp_path / "retired_cell"))
    os.rename(tmp_out, cell)
    # drop Spark/committer metadata so only data files remain
    for extra in glob.glob(f"{cell}/_*"):
        os.remove(extra)
    n_after = len(glob.glob(f"{cell}/*.parquet"))
    assert n_after < n_before

    after = sorted(
        map(tuple, ivf_index.search_ivf_index(spark, path, probes, k=5).collect())
    )
    assert after == before
    cents.unpersist()
    probes.unpersist()


def test_embedding_dedup_clusters_match_driver_union_find(spark):
    """Semantic dedup clusters = transitive closure of neardup_pairs:
    checked against a driver-side union-find over the same edges;
    survivors (id == cluster_id) are exactly one per cluster."""
    emb = load_table(spark, "embeddings", SF_SMOKE)
    got = {
        r.vec_id: r.cluster_id
        for r in similarity.embedding_dedup_clusters(emb, threshold=0.45).collect()
    }
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    edges = [
        (r.id1, r.id2)
        for r in similarity.neardup_pairs(emb, threshold=0.45).collect()
    ]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in ids}
    assert got == want
    assert edges, "corpus must contain planted near-dups"
    survivors = {i for i, c in got.items() if i == c}
    assert survivors == set(want.values())


def test_ivf_projected_recall_vs_bruteforce(spark):
    """JL-compressed coarse stage + full-width exact re-rank must
    recover most of the exact top-5 (the lsh/ivf recall discipline);
    scores of returned pairs are the EXACT full-width cosines."""
    from bigdata_commerce_spark.operators.similarity import (
        cosine_topk,
        ivf_projected_topk,
    )
    from bigdata_commerce_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    probes = emb.where("vec_id < 8")
    exact = {
        (r.probe_id, r.corpus_id)
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    approx_rows = ivf_projected_topk(
        emb, probes, k=5, out_dim=16, n_centroids=8, nprobe=4
    ).collect()
    approx = {(r.probe_id, r.corpus_id) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall@5 = {recall}"
    # returned scores are full-width exact cosines: spot-check against
    # the brute-force score table
    exact_scores = {
        (r.probe_id, r.corpus_id): r.score
        for r in cosine_topk(emb, probes, k=200).collect()
    }
    for r in approx_rows:
        key = (r.probe_id, r.corpus_id)
        if key in exact_scores:
            assert abs(r.score - exact_scores[key]) < 1e-6
