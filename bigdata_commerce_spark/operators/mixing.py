"""Data mixing: deterministic source-weighted sampling for training
corpora.

A pretraining pipeline rarely trains on the raw corpus mix — it
up/down-samples per source (web/wiki/code/...) toward configured
mixture weights. Two layers here, split the way real pipelines split
them:

- ``mixture_sample``: given explicit per-source KEEP FRACTIONS (the
  mixture config), sample deterministically by content-independent
  hash threshold. Pure projection + filter — ZERO shuffle, no count
  pass, no windows — so at 100 TB it is exactly one map-side scan.
  The per-row uniform is the first 8 hex chars of
  md5(id || ':mix'); fixed-width lowercase hex compares
  lexicographically == numerically, so "hash < threshold(source)"
  needs no integer conversion and reproduces verbatim in any engine
  with md5 (the DuckDB oracle runs the same expression).
  Thresholds are NESTED: the f=0.2 sample is a strict subset of the
  f=0.5 sample — growing a source's weight only ADDS documents,
  which keeps ablation runs comparable (tested).

Expected sample size per source is fraction * n_s (binomial, not
exact-quota): the price of the shuffle-free plan. An exact-quota
variant is a per-source md5-ranked window (the stratified-extract
discipline of operators/sessionize.py) — per-source single-reducer
sort, only worth it when exactness matters more than the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_SALT = ":mix"
_SCALE = 1 << 32


def threshold_hex(fraction: float) -> str:
    """8-hex-char lowercase threshold for a keep fraction. f >= 1
    returns 'g' — lexicographically above every hex string, i.e. keep
    all, without widening past 8 chars (a 9-char '100000000' would
    compare LOWER than 'ffffffff' stringwise)."""
    if fraction >= 1.0:
        return "g"
    f = max(fraction, 0.0)
    return format(int(f * _SCALE), "08x")


def hash_uniform(id_col: str) -> Column:
    """The per-row uniform: md5 prefix of the salted id — independent
    of content, partitioning, and engine."""
    return F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(HASH_SALT))), 1, 8
    )


def mixture_sample(
    df: DataFrame,
    fractions: dict[str, float],
    default: float = 0.0,
) -> DataFrame:
    """Keep each row with probability ``fractions[source]`` (sources
    absent from the dict use ``default``), deterministically by id
    hash. Zero shuffle; rows of a source keep/drop identically across
    runs, engines, and any other query using the same salt."""
    thr = F.lit(threshold_hex(default))
    for s in sorted(fractions):
        hit = F.col("source") == s
        thr = F.when(hit, F.lit(threshold_hex(fractions[s]))).otherwise(thr)
    return df.where(hash_uniform("doc_id") < thr)


def mixture_oracle_case(fractions: dict[str, float], default: float = 0.0) -> str:
    """The ANSI-SQL CASE expression computing the same per-source
    threshold — generated from the SAME dict the Spark plan uses, so
    the oracle can never drift from the engine."""
    whens = "\n        ".join(
        f"WHEN source = '{s}' THEN '{threshold_hex(fractions[s])}'"
        for s in sorted(fractions)
    )
    return f"CASE {whens} ELSE '{threshold_hex(default)}' END"


def split_by_group(df: DataFrame, test_fraction: float, group_col: str) -> DataFrame:
    """Leakage-safe train/test split: the hash of the GROUP key (a
    domain, a url prefix, a near-dup cluster id) decides, so every
    row of a group lands in the SAME split. Splitting per document
    (train_test_split's shape) leaks when near-duplicate documents
    straddle the boundary — the eval set then contains soft copies of
    training rows; grouping by the dedup/source key closes that.

    Zero shuffle (pure projection on the same md5 threshold machinery
    as mixture_sample — engine-portable, rerun-stable); NULL group
    keys are their own group ('' after cast-concat) rather than rows
    silently vanishing. Compose with dedup_clusters/canonical ids for
    cluster-level splits.
    """
    h = F.substring(
        F.md5(F.concat(F.coalesce(F.col(group_col).cast("string"), F.lit("")),
                       F.lit(":groupsplit"))),
        1,
        8,
    )
    thr = F.lit(threshold_hex(test_fraction))
    return df.withColumn(
        "split", F.when(h < thr, F.lit("test")).otherwise(F.lit("train"))
    )


def cap_per_source(
    df: DataFrame,
    quota: int,
    source_col: str = "source",
    rank_col: str = "source_rank",
) -> DataFrame:
    """EXACT per-source quota cap: keep at most ``quota`` rows per
    source, chosen deterministically by the salted id hash (then id as
    total-order tiebreak) — the per-domain cap every crawl-curation
    pipeline applies so no single domain dominates the corpus.

    This is the exact-quota counterpart of ``mixture_sample``'s
    binomial thresholding: one shuffle on source + a ranking window.
    The window puts each SOURCE on one reducer — the right trade
    while quota * row-width fits an executor (quotas are typically
    1e4-1e6 rows); for a pathological giant source, pre-thin with
    ``mixture_sample`` (keep ~2x quota/n_s) first and the exact rank
    then runs on the thinned slice — EXACTLY (same salted hash, so
    the thinned slice is a hash-order prefix of each source; the
    ranked top-``quota`` is unchanged while the slice keeps >= quota
    rows). Rank order is content- and
    partitioning-independent, so reruns and engines agree row for
    row (the DuckDB oracle runs the same expression).
    """
    from bigdata_commerce_spark.operators.topk import top_k_per_group

    return top_k_per_group(
        df,
        [source_col],
        [hash_uniform("doc_id").asc(), F.col("doc_id").asc()],
        quota,
        rank_col=rank_col,
    )


def negative_samples(
    positives: DataFrame,
    n_items: DataFrame,
    k: int = 5,
    oversample: int = 2,
) -> DataFrame:
    """Deterministic negative sampling for recommendation/contrastive
    training: for every user in ``positives``, up to ``k``
    pseudo-random items the user did NOT interact with — the standard
    rejection-sampling construction made fully deterministic so
    re-runs, engines, and the DuckDB oracle agree row for row.

    Construction: slot j in [0, k * oversample) maps to candidate
    item ``md5(user || ':neg:' || j) mod n_items`` (items must be densely
    keyed 0..n_items-1 — the shard/partkey layout); duplicate hits of
    the same item keep their smallest slot; positives are removed by
    an anti-join; the survivors rank by (slot, item) and the first
    ``k`` win. With |positives per user| << n_items the chance of
    fewer than k survivors is negligible, but the semantics are exact
    either way: a user interacting with nearly the whole catalog
    simply yields a shorter (well-defined) list — never a positive
    leaking in.

    Scale shape: users x (k * oversample) candidate rows (linear in
    users, never users x items); ONE shuffle for the anti-join
    against the interaction set; the ranking window sees at most
    k * oversample rows per user. ``n_items`` rides a broadcast
    one-row cross join, in-plan.
    """
    if k < 1 or oversample < 1:
        raise ValueError(f"k and oversample must be >= 1 (got {k}, {oversample})")
    users = positives.select("user_id").distinct()
    slots = users.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(k * oversample - 1))).alias("__j")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":neg:"),
                    F.col("__j").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cands = (
        slots.crossJoin(F.broadcast(n_items))
        .withColumn("item_id", F.pmod(h, F.col("n_items")))
        .groupBy("user_id", "item_id")
        .agg(F.min("__j").alias("__j"))
    )
    surv = cands.join(
        positives.select("user_id", "item_id").distinct(),
        ["user_id", "item_id"],
        "left_anti",
    )
    from bigdata_commerce_spark.operators.topk import top_k_per_group

    return top_k_per_group(
        surv,
        ["user_id"],
        [F.col("__j").asc(), F.col("item_id").asc()],
        k,
        rank_col="neg_rank",
    ).drop("__j")


def token_budget_per_source(df: DataFrame, budget: int | dict[str, int]) -> DataFrame:
    """EXACT per-source TOKEN budget: keep documents per source, in
    the deterministic salted-id hash order (then id as total-order
    tiebreak), while the tokens BEFORE a document — its exclusive
    running sum — stay under ``budget``. Training mixtures are
    specified in tokens, not rows ("30B tokens of web, 5B of code"),
    so the row-quota ``cap_per_source`` is the wrong unit for the
    final mix; this is the token-denominated counterpart. ``budget``
    is one int for every source, or a per-source dict (sources absent
    from the dict are dropped) — the dict a
    real mix spec is.

    Keep rule: ``tokens_before < budget``. The first document of a
    source always survives a positive budget, and the kept set
    overshoots the budget by less than one document — the standard
    prefix-fill convention (same as ``packing.pack_sequences``' bin
    boundary). Adds ``tokens_before`` (BIGINT) to the output so the
    caller can see the fill level.

    Plan: one shuffle on ``source`` + one running-sum window whose
    sort key is narrow — (hash, id); tokens is the aggregated value,
    not a sort key — never the document
    payload. Each SOURCE lands on one reducer: the right trade while
    a source's (id, tokens) pairs fit an executor (they are ~16 bytes
    a row, so even a billion-doc source sorts in-memory at 100 TB
    corpus scale). For a pathologically giant source, pre-thin with
    ``mixture_sample`` (keep ~2x budget/total-token estimate) and run
    the exact prefix on the thinned slice — the same escape hatch
    ``cap_per_source`` documents. And because ``mixture_sample``
    thresholds the SAME salted hash this window orders by, the
    thinned slice is a hash-order PREFIX of each source: the escape
    is EXACT — bit-identical kept set, pinned in tests — whenever the
    thinned slice still holds >= ``budget`` tokens (underfill is
    detectable at runtime: a source whose kept tokens sum below
    budget while the thin dropped rows needs a larger fraction).
    Order is content- and partitioning-independent, so retries,
    reruns, and engines agree row for row (the DuckDB oracle runs the
    same expression).
    """
    from pyspark.sql.window import Window

    if "tokens_before" in df.columns:
        # withColumn would silently overwrite it (ADVICE r9 item 3)
        raise ValueError(
            "token_budget_per_source adds a 'tokens_before' column but the "
            "input already has one — rename or drop it first"
        )
    w = (
        Window.partitionBy("source")
        .orderBy(hash_uniform("doc_id").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(F.col("n_tokens")).over(w), F.lit(0)).cast("bigint")
    thr = _budget_threshold(budget, "source")
    return df.withColumn("tokens_before", before).where(F.col("tokens_before") < thr)


def _budget_threshold(budget: int | dict[str, int], source_col: str) -> Column:
    """The per-source budget as ONE JVM expression: a constant for an
    int spec, else a CASE built from the dict (same shape as
    ``mixture_sample``'s threshold), 0 for sources it omits. A None
    key would be unreachable anyway (col == NULL is never true), so
    NULL-source rows always take 0."""
    if not isinstance(budget, dict):
        return F.lit(int(budget))
    thr = F.lit(0)
    for s in sorted(k for k in budget if k is not None):
        thr = F.when(F.col(source_col) == s, F.lit(int(budget[s]))).otherwise(thr)
    return thr


def token_budget_fill_report(
    kept: DataFrame,
    budget: int | dict[str, int],
    available: DataFrame | None = None,
) -> DataFrame:
    """Per-source fill report for a ``token_budget_per_source`` result
    — the runtime underfill detector the pre-thin escape hatch needs
    (VERDICT r9 item 4). One tiny aggregation (<= n_sources output
    rows): ``kept_tokens`` / ``kept_rows`` per source next to
    ``budget_tokens``, plus an ``underfilled`` flag.

    A source is fully filled when ``kept_tokens >= budget_tokens``
    (the prefix-fill keep rule guarantees the kept set crosses the
    budget whenever enough tokens existed). ``kept_tokens < budget``
    therefore means EITHER the source genuinely holds fewer tokens
    than its budget (fine) or an upstream ``mixture_sample`` pre-thin
    dropped rows the exact prefix needed (the escape hatch's one
    failure mode — re-run that source with a larger keep fraction or
    unthinned). The two are distinguishable only against the
    pre-thin input: pass it as ``available`` and the flag tightens to
    "rows were left behind AND (under budget OR nothing kept)";
    without it the flag is the conservative "under budget"
    (exhausted sources flag too).

    With ``available``, the report enumerates the UNION of both
    sides (full outer, null-safe — ADVICE r10 item 1 / r11 item 2):
    a source whose every row was dropped — a 0 budget, a dict spec
    that omits it, or a pre-thin that removed the whole
    source — still appears, with ``kept_rows=0`` and
    ``underfilled=true``; and a kept-side source missing from
    ``available`` (mismatched frames) surfaces with
    ``available_rows=0`` instead of silently vanishing. Grouping
    only the kept frame would make the fully-starved source, the
    case an underfill detector most needs to surface, invisible. Without
    ``available`` the report can only enumerate sources that kept
    rows — EXCEPT when the budget is a DICT: the spec itself names
    the intended sources, so every dict key appears even with zero
    kept rows (a starved spec'd source surfaces as kept_rows=0 and,
    for a positive budget, underfilled=true; there is no
    ``available_rows`` column to tighten the flag with).
    """
    rep = kept.groupBy("source").agg(
        F.sum(F.col("n_tokens")).cast("bigint").alias("kept_tokens"),
        F.count("*").alias("kept_rows"),
    )
    thr = _budget_threshold(budget, "source")
    if available is None:
        if isinstance(budget, dict):
            # the spec names the sources: outer-union the dict keys so
            # a spec'd source that kept nothing still gets a row
            spec = kept.sparkSession.createDataFrame(
                [(s,) for s in sorted(k for k in budget if k is not None)],
                "source string",
            )
            rep = (
                spec.join(rep, on="source", how="full")
                .withColumn("kept_tokens",
                            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("bigint"))
                .withColumn("kept_rows",
                            F.coalesce(F.col("kept_rows"), F.lit(0)).cast("bigint"))
            )
        rep = rep.withColumn("budget_tokens", thr.cast("bigint"))
        under = F.coalesce(F.col("kept_tokens"), F.lit(0)) < F.col("budget_tokens")
        return rep.withColumn("underfilled", under)
    # FULL outer, not left (ADVICE r11 item 2): a source present in
    # ``kept`` but absent from ``available`` — mismatched frames, a
    # caller passing a filtered availability view — must still appear
    # in the report rather than silently vanish. Its available_rows
    # coalesces to 0, so the row reads kept_rows > available_rows:
    # the inconsistency is visible in the report itself (underfilled
    # stays false — "rows left behind" cannot hold with nothing
    # available). The source key coalesces across the two sides; the
    # join is null-safe, so a NULL-source group still matches itself
    # and lands in ONE row.
    avail = available.groupBy("source").agg(
        F.count("*").alias("available_rows")
    )
    joined = (
        avail.alias("a")
        .join(
            rep.alias("k"),
            F.col("a.source").eqNullSafe(F.col("k.source")),
            "full",
        )
        .withColumn(
            "__src",
            F.coalesce(F.col("a.source"), F.col("k.source")),
        )
    )
    # threshold keys off the coalesced source: after the self-aliased
    # full join the bare source name is ambiguous, and the a-side one
    # is NULL for kept-only sources
    thr = _budget_threshold(budget, "__src")
    out = joined.select(
        F.col("__src").alias("source"),
        F.coalesce(F.col("k.kept_tokens"), F.lit(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.coalesce(F.col("k.kept_rows"), F.lit(0))
        .cast("bigint")
        .alias("kept_rows"),
        thr.cast("bigint").alias("budget_tokens"),
        F.coalesce(F.col("a.available_rows"), F.lit(0))
        .cast("bigint")
        .alias("available_rows"),
    )
    under = (F.col("kept_rows") < F.col("available_rows")) & (
        (F.col("kept_tokens") < F.col("budget_tokens"))
        | (F.col("kept_rows") == F.lit(0))
    )
    return out.withColumn("underfilled", under)


def rate_cap_per_key_bucket(
    df: DataFrame,
    max_rows: int,
    bucket_seconds: int,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per (key, time bucket), earliest
    first — burst limiting at ingest (bot storms, duplicate event
    floods, scraper loops) before the expensive operators run.

    One shuffle on (key, bucket) + a ranking window. Order is ts then
    a tiebreak so equal timestamps cannot make reruns disagree: the
    tiebreak is a struct of every ORDERABLE column (map-typed columns
    can't sort and are excluded), which is deterministic but drags the
    full row width (text/array payloads included) through the window
    sort. Fully incremental: a new time bucket
    never touches old ones, so it composes with the partition-append
    ingest layout.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    from bigdata_commerce_spark.operators.topk import top_k_per_group

    def _orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    tie_cols = [f.name for f in df.schema.fields if _orderable(f.dataType)]
    tie = F.struct(*[F.col(c) for c in tie_cols]).asc()
    b = F.lit(bucket_seconds)
    bucketed = df.withColumn(
        "__tb", F.floor(F.unix_timestamp(F.col("ts")) / b).cast("bigint")
    )
    order = [F.col("ts").asc(), tie]
    return top_k_per_group(
        bucketed, ["user_id", "__tb"], order, max_rows, rank_col="__r", keep_rank=False
    ).drop("__tb")


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the top-k
    rows (per group, or globally) by the Efraimidis–Spirakis A-ES key
    (PODC'06 / IPL 97(5)) — each row's probability of inclusion is
    proportional to ``weight_col`` under sampling-without-replacement
    semantics. The curation use: pick k docs per source biased by
    quality score, reproducibly.

    A-ES draws u ~ U(0,1] per row and ranks by u^(1/w), here in log
    form ``ln(u)/w`` (descending). The uniform comes from the same
    engine-portable md5 machinery as every sampler in this module
    (60-bit prefix of md5(id:aes), +1 so u > 0), so the sample is a
    pure function of (id, weight) — stable across runs,
    partitionings, and engines. The key is rounded to 10 dp before
    ranking (libm ln() may differ by 1 ulp across engines; rounding
    plus the id tiebreak makes the order — and thus the SAMPLE —
    identical, the bm25 discipline applied to ordering). Rows with
    NULL or non-positive weight are excluded (A-ES is undefined
    there; pre-clamp if they should participate).

    Scale shape: key computation is a pure projection; per-group
    selection is one ranking window on (group, key) — top-k per
    group, WindowGroupLimit-prunable; global selection is
    TakeOrderedAndProject via ``topk.rank_top_m``. No shuffle
    beyond the one the selection itself needs.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from bigdata_commerce_spark.functions import md5_uniform60

    h = md5_uniform60("doc_id", "aes")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 10)
    rows = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col).cast("double") > 0)
    ).withColumn("__aes", key)
    order = [F.desc("__aes"), F.asc("doc_id")]
    if group_cols:
        from bigdata_commerce_spark.operators.topk import top_k_per_group

        out = top_k_per_group(rows, list(group_cols), order, k, rank_col="rank")
    else:
        from bigdata_commerce_spark.operators.topk import rank_top_m

        out = rank_top_m(rows, order, k, rank_col="rank")
    return out.drop("__aes")


def upsample_epochs(df: DataFrame, factors: dict[str, float]) -> DataFrame:
    """Epoch-aware UPsampling: emit each row ``factors[source]`` times
    in expectation — the complement of mixture_sample, whose keep
    fractions cap at 1. Training mixes routinely repeat scarce
    high-quality sources (wiki x2.5 while web stays x1); the integer
    part becomes full epochs, the fractional part a deterministic
    per-(id, epoch) hash draw, so the emitted multiset is a pure
    function of (id, source, factors) — rerun/engine stable, and
    nested: raising a factor only ADDS copies, never reshuffles the
    ones already emitted.

    Output rows carry ``epoch`` (0-based copy index) so a trainer
    can interleave epochs rather than concatenate them. Zero shuffle:
    one sequence-explode (fan-out = ceil(factor), map-side) + a
    filter. Factors must be >= 0; a factor of 0 drops the source.

    The fractional draw compares the package's 60-bit md5 uniform
    against floor(frac * 2^60) computed driver-side in exact integer
    arithmetic — the oracle regenerates the SAME thresholds from the
    SAME dict, so the two engines cannot drift.
    """
    for s, f in factors.items():
        if f < 0:
            raise ValueError(f"factor for {s!r} must be >= 0, got {f}")
    if 1.0 < 0:
        raise ValueError("default must be >= 0, got 1.0")

    def whole(f: float) -> int:
        return int(f)

    def frac_thr(f: float) -> int:
        return int((f - int(f)) * (1 << 60))

    k_expr = F.lit(whole(1.0))
    thr_expr = F.lit(frac_thr(1.0))
    for s in sorted(factors):
        k_expr = F.when(F.col("source") == s, F.lit(whole(factors[s]))).otherwise(
            k_expr
        )
        thr_expr = F.when(
            F.col("source") == s, F.lit(frac_thr(factors[s]))
        ).otherwise(thr_expr)
    with_epoch = df.withColumn("__k", k_expr).withColumn("__thr", thr_expr)
    # k full epochs (0..k-1) plus the candidate fractional epoch k;
    # sequence(0, k) emits k+1 entries and the filter decides the last
    exploded = with_epoch.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.col("__k")))
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":epoch:"),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    kept = exploded.where(
        (F.col("epoch") < F.col("__k")) | (u < F.col("__thr"))
    )
    return kept.drop("__k", "__thr")
