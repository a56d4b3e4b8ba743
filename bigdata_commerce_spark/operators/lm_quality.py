"""Language-model quality scoring: per-document pseudo-perplexity
under a character-bigram model, and DSIR importance weights between
two such models.

The CCNet pipeline (Wenzek et al., 2020) ranks crawl documents by
KenLM perplexity against a clean reference (Wikipedia) and keeps the
low-perplexity head. This module is the same pipeline seam with a
dependency-free model: a Laplace-smoothed character-bigram LM —
strong enough to separate gibberish/boilerplate from prose, and fully
replayable in ANSI SQL so the score is oracle-checked. A KenLM-backed
kernel would slot into the same (train on reference) -> (score corpus)
contract via mapInPandas if the dependency ever lands.

Model: over lowercased text, ``p(bg) = (c(bg) + 1) / (T + V + 1)``
with one catch-all unseen bucket (``p_unseen = 1 / (T + V + 1)``);
document score = mean negative log-likelihood over its bigrams (low =
reference-like, high = alien). The model is a (bigram, logp) frame —
at most alphabet² rows, broadcast at scoring time.

Scale shape: training is one hash aggregate over the exploded
bigrams; scoring is a broadcast join + one per-doc aggregate — no
shuffle grows with the corpus beyond the (doc, bigram) aggregate.
``char_bigram_nll`` scores the corpus against itself
(self-perplexity): train and score share ONE persisted bigram
explode, so the corpus tokenizes once.
Determinism across engines: per-bigram log-probs are rounded to 8 dp
at train time and summed as DECIMAL at score time (the same
discipline as BM25), so libm ln() ulps and float sum order cannot
drift the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BIGRAMS_EXPR = (
    "transform(sequence(1, length(__t) - 1), i -> substring(__t, i, 2))"
)


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bg) — one row per character bigram of the lowercased text.
    Documents shorter than 2 chars (or NULL) emit no rows; the guard
    matters because Spark's sequence(1, 0) is the DESCENDING [1, 0],
    not empty."""
    return (
        docs.select(F.col(id_col), F.lower(F.col(text_col)).alias("__t"))
        .where(F.length("__t") > 1)
        .select(id_col, F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
    )


def train_char_bigram_lm(reference: DataFrame) -> DataFrame:
    """(bg, logp, unseen_logp) — the model frame. ``unseen_logp`` is
    carried on every row so scoring needs no second artifact."""
    bg = _doc_bigrams(reference, "doc_id", "text")
    return _train_from_bigrams(bg)


def _train_from_bigrams(bg: DataFrame) -> DataFrame:
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("__c"))
    tot = counts.agg(
        F.sum("__c").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    denom = F.col("__T") + F.col("__V") + F.lit(1)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bg",
        F.round(F.log((F.col("__c") + F.lit(1)) / denom), 8).alias("logp"),
        F.round(F.log(F.lit(1) / denom), 8).alias("unseen_logp"),
    )


def char_bigram_nll(docs: DataFrame) -> DataFrame:
    """(id, n_bigrams, nll): mean negative log-likelihood of each
    document's char bigrams under the model trained on the corpus
    itself — self-perplexity, the no-clean-corpus mode. Documents
    with fewer than 2 characters are absent (no bigrams, no defined
    score). Rank ascending and keep the head, or feed the nll column
    to ``validate`` / ``drift`` as a monitored quality metric."""
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    # train and score consume the SAME exploded bigrams — persist so
    # the corpus tokenizes once, not twice (the module's heaviest
    # work; documented multi-consumer cache, the repo norm)
    bg = persist_bounded(_doc_bigrams(docs, "doc_id", "text"))
    lm = _train_from_bigrams(bg)
    # unseen_logp is a model constant (same on every lm row); an
    # aggregate recovers it as exactly one row
    const = lm.agg(
        F.coalesce(F.max("unseen_logp"), F.lit(0.0)).alias("unseen_logp")
    )
    scored = (
        bg.join(F.broadcast(lm.select("bg", "logp")), "bg", "left")
        .crossJoin(F.broadcast(const))
    )
    lp = F.coalesce(F.col("logp"), F.col("unseen_logp"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.sum(lp.cast("decimal(20,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
    )


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019): within
    each language, split documents into ``head`` / ``middle`` /
    ``tail`` by LM score terciles — head (lowest perplexity) is the
    highest-quality slice, the standard curriculum/selection knob for
    web corpora. CCNet uses a Wikipedia-trained KenLM per language;
    here the score is the corpus's own char-bigram NLL
    (:func:`char_bigram_nll`), which keeps the operator self-contained
    and oracle-exact.

    Boundaries are EXACT interpolated percentiles per language — one
    tiny hash aggregate (one row per language) broadcast back onto
    the scored corpus, never a global sort/window. Boundaries are
    rounded (6dp, like the nll itself) BEFORE comparison — the
    engine-portability discipline for percentile cutpoints. NULL
    languages form their own bucket group (sentinel-keyed through the
    join, surfaced as NULL). Documents shorter than 2 characters have
    no bigrams and are absent, matching char_bigram_nll's contract.
    """
    scored = char_bigram_nll(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    # sentinel-key the language so NULL groups survive the equi-join
    # (both Spark equi-joins and SQL USING drop NULL keys); chr(1)
    # collides with no real language tag
    grp = F.coalesce(F.col("lang"), F.lit("\x01"))
    keyed = scored.withColumn("__grp", grp)
    bounds = keyed.groupBy("__grp").agg(
        F.round(F.expr(f"percentile(nll, {1 / 3!r})"), 6).alias("__p_head"),
        F.round(F.expr(f"percentile(nll, {2 / 3!r})"), 6).alias("__p_mid"),
    )
    bucket = (
        F.when(F.col("nll") <= F.col("__p_head"), "head")
        .when(F.col("nll") <= F.col("__p_mid"), "middle")
        .otherwise("tail")
    )
    return (
        keyed.join(F.broadcast(bounds), "__grp")
        .select("doc_id", "lang", "nll", bucket.alias("bucket"))
    )


def dsir_logratio(
    raw: DataFrame,
    target: DataFrame,
    keep_fraction: float = 0.25,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much more likely its features are under a model
    of the TARGET distribution than under the raw-corpus model —
    ``logratio = sum_f [log p_target(f) - log p_raw(f)]`` over the
    document's char-bigram features — then keep the top
    ``keep_fraction`` by weight. The published recipe uses hashed
    n-gram bag features; char bigrams keep the operator oracle-exact
    with the same structure.

    Shape: two Laplace-smoothed bigram LMs (tiny — one row per
    distinct bigram) broadcast onto ONE exploded-bigram pass of the
    raw corpus; per-bigram terms rounded to 8dp and decimal-summed
    (the bm25 discipline, so float sum order cannot drift the hash);
    the keep threshold is ONE exact global percentile broadcast back
    — never a global sort. Documents shorter than 2 characters have
    no features and are absent.
    """
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    bg = persist_bounded(_doc_bigrams(raw, "doc_id", "text"))
    lm_raw = _train_from_bigrams(bg)
    lm_tgt = train_char_bigram_lm(target)
    consts = (
        lm_raw.agg(
            F.coalesce(F.max("unseen_logp"), F.lit(0.0)).alias("__u_raw")
        ).crossJoin(
            lm_tgt.agg(
                F.coalesce(F.max("unseen_logp"), F.lit(0.0)).alias("__u_tgt")
            )
        )
    )
    scored = (
        bg.join(
            F.broadcast(lm_tgt.select("bg", F.col("logp").alias("__lp_tgt"))),
            "bg",
            "left",
        )
        .join(
            F.broadcast(lm_raw.select("bg", F.col("logp").alias("__lp_raw"))),
            "bg",
            "left",
        )
        .crossJoin(F.broadcast(consts))
    )
    term = F.round(
        F.coalesce(F.col("__lp_tgt"), F.col("__u_tgt"))
        - F.coalesce(F.col("__lp_raw"), F.col("__u_raw")),
        8,
    )
    # round in the DECIMAL domain, then cast: the 8dp-decimal sum
    # lands exactly on 7th-decimal half-boundaries ~1 in 10 docs, and
    # rounding the double instead diverges between engines there
    # (Spark rounds the shortest repr, DuckDB the binary value —
    # caught by fuzz: 4.0404515 -> 4.040452 vs 4.040451)
    weights = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum(term.cast("decimal(20,8)")), 6)
        .cast("double")
        .alias("logratio"),
    )
    cut = weights.agg(
        F.round(
            F.expr(f"percentile(logratio, {1.0 - keep_fraction!r})"), 6
        ).alias("__cut")
    )
    return weights.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        "n_bigrams",
        "logratio",
        (F.col("logratio") >= F.col("__cut")).alias("keep"),
    )


def published_recipe_funnel(docs: DataFrame) -> DataFrame:
    """The four published curation recipes composed as one progressive
    funnel — Gopher (Rae 2021) -> C4 (Raffel 2019) -> CCNet (Wenzek
    2019, keep head+middle) -> DSIR (Xie 2023, keep top quartile) —
    with one survivor count per stage:

    ``(n_raw, n_gopher, n_c4, n_ccnet, n_dsir)``, each stage the AND
    of all previous gates (the data-card row a real pretraining
    pipeline publishes). Documents a recipe cannot score (no bigrams
    for the LM stages) fail that stage, explicitly.

    Shape: the two projection recipes (Gopher, C4) are zero-shuffle
    flag frames joined on the id; the two LM recipes reuse their own
    single-explode pipelines (tiny models broadcast, exact global
    percentiles broadcast back). The id-keyed joins co-partition
    after the first exchange, and the final aggregate is ONE row —
    nothing here grows faster than the (doc, bigram) aggregates the
    LM recipes already pay. The DSIR target is the English slice
    (the dsir_importance_weights twin's convention).
    """
    from bigdata_commerce_spark.operators import text as text_ops

    target = docs.where(F.col("lang") == "en")
    g = text_ops.gopher_quality_flags(docs).select("doc_id", "passes_gopher")
    c = text_ops.c4_line_filter(docs).select("doc_id", "kept")
    cc = perplexity_buckets(docs).select("doc_id", "bucket")
    ds = dsir_logratio(docs, target).select("doc_id", "keep")
    flags = (
        g.join(c, "doc_id")
        .join(cc, "doc_id", "left")
        .join(ds, "doc_id", "left")
    )
    s_gopher = F.col("passes_gopher")
    s_c4 = s_gopher & F.col("kept")
    s_ccnet = s_c4 & F.coalesce(F.col("bucket").isin("head", "middle"), F.lit(False))
    s_dsir = s_ccnet & F.coalesce(F.col("keep"), F.lit(False))

    def n(c):  # noqa: ANN001 — count of true flags, BIGINT both engines
        return F.sum(c.cast("long"))

    return flags.agg(
        F.count(F.lit(1)).alias("n_raw"),
        n(s_gopher).alias("n_gopher"),
        n(s_c4).alias("n_c4"),
        n(s_ccnet).alias("n_ccnet"),
        n(s_dsir).alias("n_dsir"),
    )


def unigram_kl_report(docs: DataFrame, source_a: str, source_b: str) -> DataFrame:
    """Vocabulary-shift report between two sources: KL(P_a || P_b)
    over Laplace-smoothed token unigram distributions, with the
    20 tokens driving the divergence — the signal mixture
    tuning and contamination triage actually read ("which words make
    source A unlike source B"). Returns 20 rows
    (token, c_a, c_b, contribution, kl_total, rank); ``kl_total`` (the
    full-vocabulary sum, nats) repeats on every row so the one frame
    carries both the headline number and its explanation.

    Engine-exactness discipline (the char-bigram-NLL/DSIR pattern):
    the per-token contribution is
    ``p_a * ln((c_a+1)(n_b+V) / ((c_b+1)(n_a+V)))`` — the log's
    argument is ONE correctly-rounded division of two exact int64
    products, so both engines feed ln() the identical double — rounded
    to 8dp; the total sums those terms as DECIMAL(20,8) (exact,
    order-independent) and rounds in the decimal domain before the
    double cast. Ranking orders by the rounded contribution with the
    token as tiebreak, so rank order cannot flip on libm ulps.

    Scale shape: one explode + one hash aggregate to per-token
    counts; totals ride a broadcast one-row cross join; the top-k is
    a TakeOrderedAndProject, never a full vocabulary sort.
    """
    from bigdata_commerce_spark.operators.text import tokens
    from bigdata_commerce_spark.operators.topk import global_top_k

    toks = docs.where(
        F.col("source").isin([source_a, source_b])
    ).select("source", F.explode(tokens("text")).alias("token"))
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("source") == source_a, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("source") == source_b, 1).otherwise(0)).alias("c_b"),
    )
    tot = counts.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.count(F.lit(1)).alias("V"),
    )
    num = (F.col("c_a") + 1) * (F.col("n_b") + F.col("V"))
    den = (F.col("c_b") + 1) * (F.col("n_a") + F.col("V"))
    p_a = (F.col("c_a") + 1) / (F.col("n_a") + F.col("V"))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "token",
        F.col("c_a").cast("bigint").alias("c_a"),
        F.col("c_b").cast("bigint").alias("c_b"),
        F.round(p_a * F.log(num / den), 8).alias("contribution"),
    )
    total = terms.agg(
        F.round(F.sum(F.col("contribution").cast("decimal(20,8)")), 6)
        .cast("double")
        .alias("kl_total")
    )
    top = global_top_k(
        terms, [F.col("contribution").desc(), F.col("token").asc()], 20
    )
    from pyspark.sql import Window

    w = Window.partitionBy().orderBy(
        F.col("contribution").desc(), F.col("token").asc()
    )
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select("token", "c_a", "c_b", "contribution", "kl_total", "rank")
    )
