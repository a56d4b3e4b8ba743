"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Not in the reference (nearest thing is ``distinct()`` —
``SessionStat.scala:184``); these are the training-data-pipeline
extensions, built scale-first:

- every hash is md5 (propagates to the DuckDB oracle unchanged, and
  is stable across engines/runs — no seed-dependent JVM hashing);
- candidate generation is always bucket-equality *joins* (shuffle on
  the bucket key), never an all-pairs cross join: at 100 TB the
  all-pairs matrix is unrepresentable, buckets shuffle linearly;
- verification (exact Jaccard / Hamming) runs only on candidates.

All pure DataFrame ops — no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.functions import fan_out
from bigdata_commerce_spark.operators.text import (
    fingerprint,
    ngram_fold,
    normalize_text,
    tokens,
)

HEX_DIGITS = "0123456789abcdef"


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact dedup by content fingerprint: one row per distinct
    content, the surviving (minimum) id and the duplicate count."""
    return (
        df.select(F.col("doc_id"), fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct (id, shingle) pairs, with the tokenizer evaluated
    exactly once per document and **zero shuffles before the distinct**.

    A naive ``explode`` of a shingle-array expression re-runs the regex
    tokenization per consumer expression: Catalyst's CollapseProject
    inlines a shared token-array alias into every reference. The fix
    is a one-element ``explode(array(struct(tokens, norm)))`` barrier:
    a Generate node materializes its generator output as a bound
    attribute, so every downstream slice/zip_with references the
    already-computed array instead of re-deriving it. (An earlier
    formulation tokenized once via posexplode + ``lead`` windows — but
    that shuffles the entire (id, pos, token) stream by doc id, which
    at corpus scale is the whole token stream through the wire; the
    barrier form keeps shingle construction map-side.)
    """
    # fan_out first: a small single-file scan is 1-5 row-group
    # partitions, which would pin the CPU-heavy tokenize+explode to
    # that few tasks (no-op on real many-partition inputs).
    barrier = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                F.struct(
                    tokens(text_col).alias("t"),
                    normalize_text(text_col).alias("norm"),
                )
            )
        ).alias("x"),
    )
    t = F.col("x.t")
    # documents shorter than n tokens use the whole normalized text as
    # their single shingle.
    arr = F.when(F.size(t) >= n, F.array_distinct(ngram_fold(t, n))).otherwise(
        F.array(F.col("x.norm"))
    )
    # No trailing .distinct(): array_distinct already dedups within a
    # document and ids are unique across rows, so (id, shingle) pairs
    # are distinct by construction — a global distinct would shuffle
    # the entire shingle stream for nothing.
    return barrier.select("id", F.explode(arr).alias("shingle"))


def _threshold_fraction(threshold: float) -> tuple[int, int]:
    """Exact rational (p, q) for a similarity threshold. Uses the
    decimal string the caller wrote (0.8 -> 4/5), not the binary
    float's exact value, so filter algebra matches the stated
    threshold."""
    from fractions import Fraction

    frac = Fraction(str(threshold))
    return frac.numerator, frac.denominator


def _ceil_div(numer: Column, q: int) -> Column:
    """ceil(numer/q) for non-negative integer columns, exactly in
    int64: (numer + q - 1 - pmod(numer + q - 1, q)) / q — the division
    is by-construction exact, so the double round-trip cannot drift."""
    a = numer + F.lit(q - 1)
    return ((a - F.pmod(a, F.lit(q))) / F.lit(q)).cast("long")


def jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate pairs by **exact** n-gram Jaccard similarity,
    with PPJoin-style prefix filtering for candidate generation.

    Joining on *every* shared shingle degenerates toward all-pairs on
    Zipfian text (hot shingles appear in most documents). Prefix
    filter theorem: order every document's shingles by one global
    total order (ascending document frequency, rarest first); any pair
    with J >= t must share a shingle among each side's first
    ``|d| - ceil(t*|d|) + 1`` shingles. Candidates therefore join only
    on rare prefix shingles; the exact Jaccard verify on candidates
    keeps the result identical to the naive join (asserted in tests).

    Shape (optimization round 13, guide §2.3/§2.4 — "shuffle the
    payload once, decide on proxies"): the shingle stream is folded
    into ONE per-document row (rarest-first sorted shingle array +
    size) by a single groupBy(id); the prefix is an array slice of
    that row, candidates explode only the prefix, and the verify is
    ``size(array_intersect(s1, s2))`` over the two per-doc arrays.
    The previous formulation shuffled the full (id, shingle) stream
    THREE more times after the doc-frequency join — a row_number
    window (sort by id), then both sides of the verify join, then the
    common-count aggregate — and kept two persisted frames (ex +
    prefix) alive. Identical output: the sorted array's first
    ``plen`` elements are exactly the window's ``pos <= plen`` rows
    (same (df, shingle) ascending order), array elements are distinct
    by construction so ``size(array_intersect)`` equals the old
    per-pair join count, and the threshold/round arithmetic is
    byte-identical (cross-multiplied int64, round after filter).
    """
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    # ex feeds doc-frequency AND the per-doc fold — persist, or the
    # regex tokenize+shingle pipeline (the CPU-heavy part) runs twice.
    ex = persist_bounded(_exploded_shingles(df, "text", "doc_id", 3))
    doc_freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Exact integer arithmetic for the filters: t as a rational p/q
    # (float t*n breaks exactness at boundaries — 0.8*5 in double is
    # 4.0000000000000002, so F.ceil overshoots and the prefix loses
    # its last element, and the size filter rejects |y| == t*|x|).
    # ceil(p*n/q) == (p*n + q - 1) div q, all in int64.
    p, q = _threshold_fraction(threshold)
    # One per-document row: shingles sorted by the global rarest-first
    # order (struct sort = (df asc, shingle asc), the exact window
    # order the prefix theorem needs). collect_list over the distinct
    # (id, shingle) pairs — the single payload shuffle of the job.
    per_doc = (
        ex.join(doc_freq, "shingle")
        .groupBy("id")
        .agg(F.collect_list(F.struct("df", "shingle")).alias("__rs"))
        # explode barrier binds the sorted array once — the prefix
        # slice below and the verify both reference the bound attribute
        # instead of re-sorting (CollapseProject inlining).
        .select(
            "id",
            F.explode(
                F.array(F.transform(F.array_sort("__rs"), lambda s: s["shingle"]))
            ).alias("shingles"),
            F.size("__rs").alias("n_shingles"),
        )
    )
    ceil_tn = _ceil_div(F.lit(p) * F.col("n_shingles"), q)
    plen = (F.col("n_shingles") - ceil_tn + 1).cast("int")
    # per_doc feeds BOTH sides of the candidate self-join and both
    # sides of the verify — one small persisted frame (a row per doc)
    # instead of the exploded prefix + ex.
    per_doc = persist_bounded(per_doc.withColumn("prefix", F.slice("shingles", 1, plen)))
    prefix = per_doc.select(
        "id", "n_shingles", F.explode("prefix").alias("shingle")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # size filter: J >= t requires t*|d1| <= |d2| (and
            # symmetric) — cross-multiplied so it stays in int64
            & (F.lit(q) * F.col("b.n_shingles") >= F.lit(p) * F.col("a.n_shingles"))
            & (F.lit(q) * F.col("a.n_shingles") >= F.lit(p) * F.col("b.n_shingles")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    return _verify_jaccard_arrays(candidates, per_doc, threshold)


def containment_pairs(df: DataFrame) -> DataFrame:
    """Near-duplicate ORDERED pairs by exact shingle-set CONTAINMENT
    — Broder's second resemblance measure: C(A, B) = |A ∩ B| / |A|,
    the fraction of the CONTAINED document's shingles the container
    also has. Jaccard misses the case curation pipelines care about
    most after plain dup removal: a short document embedded verbatim
    in a much longer one (a quoted article inside a page, a snippet
    inside its source) — |A ∩ B| / |A ∪ B| is tiny when |B| >> |A|
    even though A is wholly inside B. Returns (id1, id2, containment)
    with id1 the contained side; a mutual near-dup appears in both
    directions (C == 1 both ways for exact dups).

    Candidate generation is the ASYMMETRIC prefix filter: with
    shingles globally ordered rarest-first, C(A, B) >= t forces
    |A ∩ B| >= ceil(t * |A|), so the intersection must touch A's
    first ``|A| - ceil(t|A|) + 1`` shingles — the probe joins A's
    PREFIX against the FULL postings list of every other document
    (the container side has no size bound, so unlike the symmetric
    Jaccard join its prefix cannot be used). Zipf safety comes from
    the rarest-first order: prefixes prefer low-df shingles, so the
    candidate count is sum(df) over RARE shingles, not hot ones; the
    worst case is a document made entirely of stopword shingles,
    whose prefix is still only ~(1 - t) of its length. The exact
    verify (cross-multiplied int64, threshold before rounding — the
    jaccard_pairs discipline) keeps the result identical to the
    all-pairs definition, which is what the DuckDB oracle computes.
    """
    from pyspark.sql import Window

    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    # the shingle stream feeds doc-frequency, the prefix rank AND the
    # verify — bounded-registry persist (cache_util), so repeated
    # calls don't accumulate cache entries for the session lifetime
    ex = persist_bounded(_exploded_shingles(df, "text", "doc_id", 3))
    doc_freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
    ranked = (
        ex.join(doc_freq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n_shingles", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    p, q = _threshold_fraction(0.8)
    ceil_tn = _ceil_div(F.lit(p) * F.col("n_shingles"), q)
    prefix = ranked.where(F.col("pos") <= F.col("n_shingles") - ceil_tn + 1).select(
        "id", "shingle"
    )
    candidates = (
        prefix.alias("a")
        .join(
            ex.select(F.col("id").alias("id2"), "shingle").alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") != F.col("id2")),
        )
        .select(F.col("a.id").alias("id1"), "id2")
        .distinct()
    )
    e1 = ex.select(F.col("id").alias("id1"), "shingle")
    e2 = ex.select(F.col("id").alias("id2"), "shingle")
    common = (
        candidates.join(e1, "id1")
        .join(e2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n1"))
    return (
        common.join(sizes.withColumnRenamed("id", "id1"), "id1")
        .where(F.lit(q) * F.col("common") >= F.lit(p) * F.col("n1"))
        .withColumn("containment", F.round(F.col("common") / F.col("n1"), 4))
        .select("id1", "id2", "containment")
    )


def _verify_jaccard_arrays(
    candidates: DataFrame, per_doc: DataFrame, threshold: float
) -> DataFrame:
    """Exact |A∩B|/|A∪B| over candidate pairs, from per-document
    shingle ARRAYS: two joins against the (id, shingles, n_shingles)
    frame and a ``size(array_intersect)`` per pair. Replaces the
    exploded form (join candidates to the full (id, shingle) stream
    twice + count aggregate) — identical counts because the arrays
    hold each document's distinct shingle set, and identical
    threshold/round arithmetic (cross-multiplied int64 filter on the
    exact ratio, round only for output)."""
    s1 = per_doc.select(
        F.col("id").alias("id1"),
        F.col("shingles").alias("__s1"),
        F.col("n_shingles").alias("n1"),
    )
    s2 = per_doc.select(
        F.col("id").alias("id2"),
        F.col("shingles").alias("__s2"),
        F.col("n_shingles").alias("n2"),
    )
    p, q = _threshold_fraction(threshold)
    common = F.size(F.array_intersect("__s1", "__s2")).cast("long")
    # one-element explode barrier (the _exploded_shingles trick): the
    # intersection is referenced by the filter AND the output round —
    # without the Generate the pushed filter re-evaluates it per row.
    joined = (
        candidates.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", "n1", "n2", F.explode(F.array(common)).alias("__common"))
    )
    union_size = F.col("n1") + F.col("n2") - F.col("__common")
    return (
        joined.where(F.lit(q) * F.col("__common") >= F.lit(p) * union_size)
        .withColumn("jaccard", F.round(F.col("__common") / union_size, 4))
        .select("id1", "id2", "jaccard")
    )


def _verify_jaccard(
    candidates: DataFrame, ex: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact |A∩B|/|A∪B| over candidate pairs only."""
    e1 = ex.select(F.col("id").alias("id1"), "shingle")
    e2 = ex.select(F.col("id").alias("id2"), "shingle")
    common = (
        candidates.join(e1, "id1")
        .join(e2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("n_shingles").alias("n2"))
    # Threshold on the exact ratio (cross-multiplied in int64), round
    # only for output — thresholding the rounded value would admit
    # pairs in [t - 5e-5, t) that every WHERE-before-ROUND oracle
    # rejects.
    p, q = _threshold_fraction(threshold)
    union_size = F.col("n1") + F.col("n2") - F.col("common")
    return (
        common.join(sa, "id1")
        .join(sb, "id2")
        .where(F.lit(q) * F.col("common") >= F.lit(p) * union_size)
        .withColumn("jaccard", F.round(F.col("common") / union_size, 4))
        .select("id1", "id2", "jaccard")
    )


def _minhash_digest_barrier(ex: DataFrame, num_hashes: int) -> tuple[DataFrame, list[Column]]:
    """(digest-bound frame, min-aggregates) for the signature agg.

    The ceil(k/4) md5 digests are bound ONCE per (id, shingle) row via
    the one-element explode barrier (the _exploded_shingles trick) and
    the 4 substring slices per digest reference the bound attribute.
    Without the barrier each of the k min-aggregates carries its own
    substring(md5(...)) input expression and codegen subexpression
    elimination only partially dedups the md5 calls — measured 13% on
    the isolated signature aggregate at the 10x corpus (0.70 -> 0.61 s
    median), a pure per-row CPU cut. Component i is the 8-hex-char
    slice i%4 of md5((i//4) || ':' || shingle); the oracle twin replays
    the same SQL."""
    n_seeds = (num_hashes + 3) // 4
    bound = ex.select(
        "id",
        "shingle",
        F.explode(
            F.array(
                F.struct(
                    *[
                        F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"d{s}")
                        for s in range(n_seeds)
                    ]
                )
            )
        ).alias("__md5"),
    )
    aggs = []
    for i in range(num_hashes):
        seed, slot = divmod(i, 4)
        aggs.append(
            F.min(F.substring(F.col(f"__md5.d{seed}"), slot * 8 + 1, 8)).alias(f"mh_{i}")
        )
    return bound, aggs


def minhash_signatures(df: DataFrame) -> DataFrame:
    """MinHash signature per document: component i is
    min(hash_i(shingle)) over the shingle set.

    One hash-aggregate with map-side partial min; the sliced hash
    family keeps it at ceil(k/4) md5 calls per (id, shingle) row
    (bound once via _minhash_digest_barrier).
    """
    ex = _exploded_shingles(df, "text", "doc_id", 3)
    bound, aggs = _minhash_digest_barrier(ex, 8)
    return bound.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, bands: int = 4) -> DataFrame:
    """MinHash + LSH near-dup pairs: band the signature, bucket-join
    candidates, then verify candidates with *exact* Jaccard.

    bands=4 over 8 hashes (rows/band=2): P(candidate | j) =
    1-(1-j^2)^4 — ~1.0 at j=0.9, ~2% at j=0.07. The exact-Jaccard
    verify runs only on candidates, so the expensive step scales with
    the number of near-dups, not documents^2.
    """
    # bands must tile the signature exactly: bands > num_hashes gives
    # 0-row bands whose empty concat hashes to ONE shared bucket —
    # the candidate join silently degenerates to the all-pairs cross
    # product this module exists to avoid; non-divisible bands would
    # silently drop trailing components.
    if not 1 <= bands <= 8 or 8 % bands:
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, num_hashes=8)"
        )
    rows_per_band = 8 // bands
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    # ONE pass over the shingle stream (optimization round 13, guide
    # §2.3/§2.4): the signature mins, the document's shingle array and
    # its size all come out of a single groupBy(id) — the previous
    # shape persisted the exploded (id, shingle) frame and re-read it
    # FOUR times (signature aggregate, both verify join sides, sizes
    # aggregate), shuffling the shingle payload three times. Identical
    # output: the min/substring expressions are byte-identical, and
    # the verify's size(array_intersect) over the distinct per-doc
    # arrays equals the old exploded join count.
    ex = _exploded_shingles(df, "text", "doc_id", 3)
    bound, aggs = _minhash_digest_barrier(ex, 8)
    per_doc = persist_bounded(
        bound.groupBy("id").agg(
            *aggs,
            F.collect_list("shingle").alias("shingles"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
    )
    band_cols = []
    for bnd in range(bands):
        parts = [F.col(f"mh_{bnd * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(bnd).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket"))
        )
    buckets = per_doc.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    return _verify_jaccard_arrays(candidates, per_doc, 0.8)


# ---------------------------------------------------------------------------
# SimHash (60-bit, arithmetic-portable)
# ---------------------------------------------------------------------------

SIMHASH_NIBBLES = 15  # 15 hex chars = 60 bits, stays in signed int64


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash per document from md5(shingle) nibbles.

    bit(p,b) of the hash contributes +1/-1 per shingle; the final bit
    is 1 iff the sum is positive. conv() decodes each hex nibble —
    everything stays in integer arithmetic so the oracle (strpos-based
    nibble decode) reproduces it exactly.
    """
    ex = _exploded_shingles(df, "text", "doc_id", 3)
    # One-element explode barrier (same trick as _exploded_shingles):
    # without it CollapseProject inlines the md5 alias into all 15
    # nibble decodes, hashing every shingle 15x. Generate binds the
    # digest as a real attribute, so md5 runs once per shingle.
    hashed = ex.select("id", F.explode(F.array(F.md5(F.col("shingle")))).alias("h"))
    # The 15-nibble / 60-bit fold is built from SQL strings, not nested
    # Column operators: the Column form issues one py4j round-trip per
    # operator node (~500 calls for 60 aggregates + the 60-term value
    # chain), which measured 2.5 s of *driver-side build time* per
    # invocation at any data size — 6x the query's actual execution.
    # One expr() parse per output column keeps the identical plan with
    # ~80 gateway calls.
    nibbled = hashed.selectExpr(
        "id",
        *[
            f"CAST(conv(substring(h, {p + 1}, 1), 16, 10) AS INT) AS v{p}"
            for p in range(SIMHASH_NIBBLES)
        ],
    )
    summed = nibbled.groupBy("id").agg(
        *[
            F.expr(f"sum((shiftright(v{p}, {b}) & 1) * 2 - 1) AS s{p}_{b}")
            for p in range(SIMHASH_NIBBLES)
            for b in range(4)
        ]
    )
    value = " + ".join(
        f"(CASE WHEN s{p}_{b} > 0 THEN 1 ELSE 0 END) * CAST({1 << (4 * p + b)} AS BIGINT)"
        for p in range(SIMHASH_NIBBLES)
        for b in range(4)
    )
    return summed.selectExpr("id", f"{value} AS simhash")


def simhash_pairs(df: DataFrame) -> DataFrame:
    """SimHash near-dup pairs: band the 60-bit hash into 4 x 15-bit
    chunks (pigeonhole: any pair with Hamming distance <= 3 shares at
    least one chunk; the hash table is persisted — the chunk self-join
    references it twice and would otherwise compute the whole shingle
    + 60-aggregate pipeline twice), bucket-join candidates, verify with
    bit_count(xor) — never an all-pairs comparison."""
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    sh = persist_bounded(simhash(df))
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_no"),
                        F.shiftright(F.col("simhash"), 15 * c)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", F.col("cc.chunk_no").alias("chunk_no"), F.col("cc.chunk").alias("chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-TABLE fuzzy match (entity resolution): every
    (left, right) pair whose texts have 3-gram Jaccard >= threshold —
    linking product titles, merchant names, near-identical documents
    across two corpora.

    Rides the ENTIRE self-join machinery above unchanged: tag each
    side into one corpus via an id encoding (left ids -> 2*id, right
    -> 2*id+1; ids must be non-negative integers), run jaccard_pairs
    (prefix filter + exact verify), keep only cross-side pairs and
    decode. Cost envelope is identical to the self-join on the union
    — candidate generation still meets only on rare prefix shingles.
    Same-side near-dups are computed but filtered; when both inputs
    are also self-deduped the extra pairs are the price of sharing
    one pipeline (and one shuffle set) instead of three.

    Returns (left_id, right_id, jaccard). Ids must be NON-NEGATIVE
    integers (< 2^62): negatives would break the parity-based side
    detection, so the encoding enforces the contract in-plan
    (assert_true — a row with a negative id fails the job loudly);
    2*id past int64 throws under Spark 4's default ANSI overflow
    checking rather than wrapping.
    """
    from bigdata_commerce_spark.functions import require_integer_id

    for side, df in (("left", left), ("right", right)):
        require_integer_id(df, "doc_id", context=f"{side} id column")

    def _tag(df: DataFrame, offset: int) -> DataFrame:
        i = F.col("doc_id").cast("long")
        # coalesce(assert_true, 0) rides the encoding expression so
        # column pruning can never drop the guard
        guard = F.coalesce(F.assert_true(i >= 0).cast("long"), F.lit(0))
        return df.select((i * 2 + offset + guard).alias("doc_id"), F.col("text"))

    tagged = _tag(left, 0).unionByName(_tag(right, 1))
    pairs = jaccard_pairs(tagged, threshold)
    cross = pairs.where(F.pmod("id1", F.lit(2)) != F.pmod("id2", F.lit(2)))
    left_tag = F.when(F.pmod("id1", F.lit(2)) == 0, F.col("id1")).otherwise(F.col("id2"))
    right_tag = F.when(F.pmod("id1", F.lit(2)) == 1, F.col("id1")).otherwise(F.col("id2"))
    # integer div, not float /: double division loses ulps above 2^53
    # and would decode large ids to the WRONG document
    return (
        cross.select(left_tag.alias("__lt"), right_tag.alias("__rt"), "jaccard")
        .select(
            F.expr("__lt div 2").alias("left_id"),
            F.expr("(__rt - 1) div 2").alias("right_id"),
            "jaccard",
        )
    )


def cross_source_dup_matrix(df: DataFrame, key_expr: Column | None = None) -> DataFrame:
    """Provenance view of exact duplication: for every unordered
    source pair, how many duplicate DOCUMENT PAIRS cross it (and how
    many distinct contents are shared) — the report that tells a
    curation team which feeds mirror which (agency syndication, site
    scrapes re-crawled under two domains) and therefore which source
    the dedup canonical policy is silently draining. ``key_expr``
    swaps the content key — the full-text fingerprint by default; a
    token-prefix fingerprint or a minhash band for near-dup-grade
    provenance.

    Returns (source_a, source_b, shared_fps, dup_pairs) with
    source_a <= source_b; the diagonal row counts within-source
    duplication (n choose 2 per content). Pair arithmetic is exact
    integer counting — no pair is ever materialized.

    Shape: ONE (fingerprint, source) hash aggregate (map-side
    combined — the exchange carries contents x sources, not docs),
    then a self equi-join ON THE FINGERPRINT whose per-key group size
    is bounded by the number of SOURCES carrying that content (a
    config-scale constant), then one small aggregate. The quadratic
    term is sources-per-content, never corpus size.
    """
    from bigdata_commerce_spark.operators.text import fingerprint

    key = key_expr if key_expr is not None else fingerprint("text")
    # persisted: both sides of the fingerprint self-join read this
    # aggregate — without the cache the corpus scan+agg runs twice
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    per = persist_bounded(
        df.groupBy(key.alias("__fp"), F.col("source"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    a = per.select(
        F.col("__fp"), F.col("source").alias("source_a"), F.col("__n").alias("__na")
    )
    b = per.select(
        F.col("__fp"), F.col("source").alias("source_b"), F.col("__n").alias("__nb")
    )
    joined = a.join(b, "__fp").where(F.col("source_a") <= F.col("source_b"))
    pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        (F.col("__na") * (F.col("__na") - 1) / 2).cast("long"),
    ).otherwise(F.col("__na") * F.col("__nb"))
    return (
        joined.select("source_a", "source_b", pairs.alias("__p"))
        .where(F.col("__p") > 0)
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("shared_fps"),
            F.sum("__p").alias("dup_pairs"),
        )
    )
