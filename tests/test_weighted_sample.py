"""A-ES weighted sampling (operators/mixing.weighted_sample). The
corpus-scale oracle check lives in test_twin_queries.py
(docs_weighted_sample); here: exact parity with a python reference
of the same construction, weight-bias sanity, exclusion of
non-positive weights, global vs grouped selection, and determinism
across partitionings."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.mixing import weighted_sample



# Slow tier (VERDICT r12 item 2 / r13 suite tiering): statistical
# repeat-sweeps (~55 s).
pytestmark = pytest.mark.slow


def _key(doc_id: int, w: float, salt: str = "aes") -> float:
    h = int(hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:15], 16)
    u = (h + 1) / float(1 << 60)
    return round(math.log(u) / w, 10)


def _reference(rows, k, grouped):
    # rows: (id, group, weight)
    out = {}
    groups = {}
    for i, g, w in rows:
        if w is not None and w > 0:
            groups.setdefault(g if grouped else None, []).append((i, w))
    for g, members in groups.items():
        ranked = sorted(members, key=lambda t: (-_key(t[0], t[1]), t[0]))
        for rank, (i, _) in enumerate(ranked[:k], 1):
            out[i] = (g, rank)
    return out


@pytest.fixture()
def frame(spark):
    rows = [
        (i, ["a", "b", "c"][i % 3], float((i * 37) % 11 + 1)) for i in range(60)
    ]
    rows += [(100, "a", None), (101, "b", 0.0), (102, "c", -3.0)]
    return (
        rows,
        spark.createDataFrame(rows, "doc_id long, grp string, w double"),
    )


def test_grouped_matches_python_reference(spark, frame):
    rows, df = frame
    got = {
        r["doc_id"]: (r["grp"], r["rank"])
        for r in weighted_sample(
            df, k=5, weight_col="w", group_cols=["grp"]
        ).collect()
    }
    assert got == _reference(rows, 5, grouped=True)


def test_global_matches_python_reference(spark, frame):
    rows, df = frame
    got = {
        r["doc_id"]: r["rank"]
        for r in weighted_sample(df, k=7, weight_col="w").collect()
    }
    want = {i: rank for i, (_, rank) in _reference(rows, 7, grouped=False).items()}
    assert got == want


def test_nonpositive_and_null_weights_excluded(spark, frame):
    _, df = frame
    sampled = weighted_sample(df, k=1000, weight_col="w")
    ids = {r["doc_id"] for r in sampled.collect()}
    assert ids.isdisjoint({100, 101, 102})
    assert len(ids) == 60  # k past the population returns everyone valid


def test_heavy_weight_dominates(spark):
    # One row with overwhelming weight: its key ln(u)/w ~ 0 beats any
    # moderate-weight competitor for this salt (and for almost every
    # salt — u^(1/w) -> 1 as w -> inf).
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(50)] + [(999, 1e12)], "doc_id long, w double"
    )
    top = weighted_sample(df, k=1, weight_col="w").collect()
    assert [r["doc_id"] for r in top] == [999]


def test_partitioning_independent(spark, frame):
    rows, df = frame
    one = weighted_sample(df.coalesce(1), k=5, weight_col="w", group_cols=["grp"])
    many = weighted_sample(df.repartition(13), k=5, weight_col="w", group_cols=["grp"])
    key = lambda d: sorted((r["doc_id"], r["rank"]) for r in d.collect())
    assert key(one) == key(many)


def test_k_validated(spark, frame):
    _, df = frame
    with pytest.raises(ValueError):
        weighted_sample(df, k=0, weight_col="w")


# --- token_budget_per_source (exact per-source token cap) ----------


def _tb_reference(rows, budget):
    """Pure-Python spec: per source, order by (md5(id||':mix')[:8], id),
    keep while the EXCLUSIVE prefix sum of tokens stays under budget."""
    by_src: dict[str, list[tuple[str, int, int]]] = {}
    for doc_id, src, toks in rows:
        h = hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[:8]
        by_src.setdefault(src, []).append((h, doc_id, toks))
    kept = {}
    for src, docs in by_src.items():
        run = 0
        for h, doc_id, toks in sorted(docs):
            if run < budget:
                kept[doc_id] = (src, toks, run)
            run += toks
    return kept


@pytest.fixture()
def token_frame(spark):
    rows = [(i, ["a", "b", "c"][i % 3], (i * 53) % 97 + 1) for i in range(45)]
    return (
        rows,
        spark.createDataFrame(rows, "doc_id long, source string, n_tokens long"),
    )


@pytest.mark.parametrize("budget", [1, 120, 10**6])
def test_token_budget_matches_python_reference(spark, token_frame, budget):
    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    rows, df = token_frame
    got = {
        r.doc_id: (r.source, r.n_tokens, r.tokens_before)
        for r in token_budget_per_source(df, budget).collect()
    }
    assert got == _tb_reference(rows, budget)


def test_token_budget_semantics(spark, token_frame):
    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    rows, df = token_frame
    budget = 120
    kept = token_budget_per_source(df, budget).collect()
    per_src: dict[str, list] = {}
    for r in kept:
        per_src.setdefault(r.source, []).append(r)
    srcs = {s for _, s, _ in rows}
    # a positive budget keeps at least one doc from EVERY source
    assert set(per_src) == srcs
    for src, docs in per_src.items():
        total = sum(r.n_tokens for r in docs)
        last = max(docs, key=lambda r: r.tokens_before)
        # every kept doc started under budget...
        assert all(r.tokens_before < budget for r in docs)
        # ...and the fill is exact: dropping the boundary doc goes under,
        # keeping it overshoots by < one document
        assert total - last.n_tokens < budget <= total or total < budget
    # non-vacuous: this budget actually drops documents
    assert len(kept) < len(rows)


def test_token_budget_keeps_all_when_budget_exceeds_total(spark, token_frame):
    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    rows, df = token_frame
    assert token_budget_per_source(df, 10**6).count() == len(rows)


def test_token_budget_prethin_escape_is_exact(spark, token_frame):
    """The documented mega-source escape: mixture_sample thresholds
    the SAME salted hash token_budget_per_source orders by, so the
    thinned slice is a hash-order PREFIX of each source and the
    prefix-fill result is bit-identical while the slice still holds
    >= budget tokens per source."""
    from bigdata_commerce_spark.operators.mixing import (
        mixture_sample,
        token_budget_per_source,
    )

    rows, df = token_frame
    budget = 120
    full = sorted(map(tuple, token_budget_per_source(df, budget).collect()))
    thin = mixture_sample(df, {}, default=0.8)
    # precondition: the thin kept >= budget tokens per source AND
    # actually dropped rows (otherwise the test is vacuous)
    kept_tokens = {
        r.source: r.s
        for r in thin.groupBy("source").agg(F.sum("n_tokens").alias("s")).collect()
    }
    assert all(s >= budget for s in kept_tokens.values())
    assert thin.count() < len(rows)
    thinned = sorted(map(tuple, token_budget_per_source(thin, budget).collect()))
    assert thinned == full


def test_cap_per_source_prethin_escape_is_exact(spark, token_frame):
    """Same prefix property for the row-quota cap: pre-thin + exact
    rank == exact rank, while the slice keeps >= quota rows."""
    from bigdata_commerce_spark.operators.mixing import (
        cap_per_source,
        mixture_sample,
    )

    rows, df = token_frame
    quota = 5
    full = sorted(map(tuple, cap_per_source(df, quota).collect()))
    thin = mixture_sample(df, {}, default=0.8)
    per_src = {r.source: r.c for r in thin.groupBy("source").count().withColumnRenamed("count", "c").collect()}
    assert all(c >= quota for c in per_src.values())
    assert thin.count() < len(rows)
    thinned = sorted(map(tuple, cap_per_source(thin, quota).collect()))
    assert thinned == full


def test_token_budget_per_source_dict_budgets(spark, token_frame):
    """Per-source dict budgets: each source fills to ITS budget;
    sources absent from the dict get default_budget (0 = dropped)."""
    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    rows, df = token_frame
    budgets = {"a": 60, "b": 200}  # "c" absent -> dropped
    got = {
        r.doc_id: (r.source, r.n_tokens, r.tokens_before)
        for r in token_budget_per_source(df, budgets).collect()
    }
    expected = {}
    for src, b in budgets.items():
        for doc_id, (s, t, before) in _tb_reference(
            [r for r in rows if r[1] == src], b
        ).items():
            expected[doc_id] = (s, t, before)
    assert got == expected
    assert not any(s == "c" for s, _, _ in got.values())
    # and each listed source is non-vacuously capped at its own level
    per_src = {}
    for s, t, _ in got.values():
        per_src[s] = per_src.get(s, 0) + t
    assert per_src["a"] < per_src["b"]


# --- token_budget_fill_report (underfill detector, VERDICT r9 #4) ---


def test_fill_report_flags_underfilled_source(spark, token_frame):
    """An over-aggressive pre-thin leaves a source under budget with
    rows left behind — the report flags it; a well-filled source is
    not flagged."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    rows, df = token_frame
    # starve source "a": keep only its 2 hash-smallest docs, so the
    # exact prefix cannot reach the 300-token budget although the
    # full source could have filled it
    a_rows = sorted(
        (r for r in rows if r[1] == "a"),
        key=lambda r: hashlib.md5(f"{r[0]}:mix".encode()).hexdigest()[:8],
    )
    keep_a = {r[0] for r in a_rows[:2]}
    thin = df.where((F.col("source") != "a") | F.col("doc_id").isin(*keep_a))
    kept = token_budget_per_source(thin, 300)
    rep = {
        r.source: r
        for r in token_budget_fill_report(kept, 300, available=df).collect()
    }
    assert rep["a"].underfilled
    assert rep["a"].kept_tokens < 300 and rep["a"].budget_tokens == 300
    # b and c were not thinned: either they crossed the budget or the
    # full source is exhausted — never flagged against `available`
    assert not rep["b"].underfilled and not rep["c"].underfilled


def test_fill_report_exhausted_source_not_flagged_with_available(spark, token_frame):
    """A source genuinely smaller than its budget is NOT underfill
    when the full input is supplied (no rows were left behind), but
    the conservative no-available variant flags it."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    rows, df = token_frame
    big = 10**6  # exceeds every source's total: everything kept
    kept = token_budget_per_source(df, big)
    with_avail = {
        r.source: r.underfilled
        for r in token_budget_fill_report(kept, big, available=df).collect()
    }
    assert with_avail == {"a": False, "b": False, "c": False}
    without = {
        r.source: r.underfilled
        for r in token_budget_fill_report(kept, big).collect()
    }
    assert without == {"a": True, "b": True, "c": True}


def test_fill_report_dict_budgets(spark, token_frame):
    """Dict budgets flow through the report's threshold expression."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    _, df = token_frame
    budgets = {"a": 60, "b": 10**6}
    kept = token_budget_per_source(df, budgets)
    rep = {r.source: r for r in token_budget_fill_report(kept, budgets, available=df).collect()}
    # ADVICE r10 item 1: "c" is dropped by default_budget=0 but the
    # report keys off `available`, so the starved source SURFACES —
    # kept nothing, rows left behind — instead of vanishing
    assert set(rep) == {"a", "b", "c"}
    assert rep["c"].kept_rows == 0 and rep["c"].kept_tokens == 0
    assert rep["c"].available_rows > 0 and rep["c"].underfilled
    assert rep["a"].budget_tokens == 60 and not rep["a"].underfilled
    # b's budget exceeds its total but nothing was left behind
    assert not rep["b"].underfilled


def test_fill_report_surfaces_budget_zero_starved_source(spark, token_frame):
    """VERDICT r10 item 2 Done criterion: a budget-0 source that HAS
    rows must appear in the report flagged underfilled with
    kept_rows=0 — the fully-starved case an underfill detector most
    needs to surface."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    _, df = token_frame
    kept = token_budget_per_source(df, 0)  # budget 0: everything dropped
    assert kept.count() == 0
    rep = {
        r.source: r
        for r in token_budget_fill_report(kept, 0, available=df).collect()
    }
    assert set(rep) == {"a", "b", "c"}
    for r in rep.values():
        assert r.kept_rows == 0 and r.kept_tokens == 0
        assert r.available_rows > 0 and r.underfilled


def test_fill_report_dict_budget_surfaces_starved_source_without_available(
    spark, token_frame
):
    """Without `available`, a DICT budget still names the intended
    sources — a spec'd source that kept nothing must appear
    (kept_rows=0, underfilled for a positive budget) instead of
    vanishing; an int budget without `available` keeps the old
    kept-only enumeration (nothing else to enumerate)."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    _, df = token_frame
    budgets = {"a": 60, "c": 0, "ghost": 50}  # b unspecified -> dropped
    kept = token_budget_per_source(df, budgets)
    rep = {r.source: r for r in token_budget_fill_report(kept, budgets).collect()}
    # every dict key appears, spec'd-but-starved included
    assert set(rep) == {"a", "c", "ghost"}
    assert rep["a"].kept_rows > 0 and not rep["a"].underfilled
    # c: budget 0, kept nothing — present, exactly filled per spec
    assert rep["c"].kept_rows == 0 and not rep["c"].underfilled
    # ghost: positive budget, no such source in the corpus — flagged
    assert rep["ghost"].kept_rows == 0 and rep["ghost"].underfilled
    # int budget without available: kept-only rows, as before
    kept_all = token_budget_per_source(df, 10**6)
    assert {r.source for r in token_budget_fill_report(kept_all, 10**6).collect()} == {
        "a", "b", "c",
    }


def test_fill_report_kept_only_source_surfaces_with_available(spark, token_frame):
    """ADVICE r11 item 2: a source present in `kept` but absent from
    `available` (mismatched frames — e.g. a filtered availability
    view) must surface with available_rows=0 instead of silently
    vanishing from the report; underfilled stays false ("rows left
    behind" cannot hold with nothing available), so the inconsistency
    is visible as kept_rows > available_rows."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    _, df = token_frame
    kept = token_budget_per_source(df, 10**6)  # everything kept
    avail_no_b = df.where(F.col("source") != "b")
    rep = {
        r.source: r
        for r in token_budget_fill_report(
            kept, 10**6, available=avail_no_b
        ).collect()
    }
    assert set(rep) == {"a", "b", "c"}
    assert rep["b"].available_rows == 0 and rep["b"].kept_rows > 0
    assert not rep["b"].underfilled
    # dict budgets still resolve the threshold for the kept-only
    # source (the coalesced key feeds the CASE)
    budgets = {"a": 60, "b": 70, "c": 80}
    rep2 = {
        r.source: r
        for r in token_budget_fill_report(
            kept, budgets, available=avail_no_b
        ).collect()
    }
    assert rep2["b"].budget_tokens == 70 and rep2["b"].available_rows == 0


def test_token_budget_rejects_tokens_before_collision(spark, token_frame):
    """ADVICE r9 item 3: a pre-existing tokens_before column must not
    be silently overwritten."""
    import pytest

    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    _, df = token_frame
    poisoned = df.withColumn("tokens_before", F.lit(0))
    with pytest.raises(ValueError, match="tokens_before"):
        token_budget_per_source(poisoned, 100)


# --- water_fill_token_budgets (exact global fill, ADVICE r9 #2) -----
