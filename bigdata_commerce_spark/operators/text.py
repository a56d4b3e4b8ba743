"""Text-analysis operators for training-data pipelines.

Not present in the reference (its only text processing is CSV splits
and a JSON field UDF — SURVEY.md §2.8); these are the north-star
extensions: token counting, quality scoring, language ID, document
fingerprinting. Everything is built-in Catalyst expressions — no
Python UDFs — so the hot path stays inside whole-stage codegen and
the same logic is expressible in the DuckDB oracle.

Shared constants (stopword lists, thresholds) are module-level so the
oracle SQL in plans/catalog.py is *generated from the same values* —
the Spark implementation and the oracle cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Language-ID heuristic: tiny per-language stopword lists + CJK
# character detection. Deterministic tie order: first list wins.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "eine", "zu"),
    "fr": ("le", "les", "et", "est", "une", "je", "vous", "pour", "dans", "avec"),
    "es": ("el", "los", "las", "y", "es", "una", "que", "por", "con", "para"),
}
LANG_ORDER: tuple[str, ...] = ("en", "de", "fr", "es")
CJK_PATTERN = r"[\x{4e00}-\x{9fff}]"
PUNCT_CLASS = r"[^.,!?;:]"
DIGIT_CLASS = r"[^0-9]"

# The Gopher rule constants (Rae et al. 2021, appendix A1.1 — the
# published pretraining quality-filter recipe, also the base of
# Dolma's and RefinedWeb's filters). Module-level so the oracle SQL
# is generated from the same values.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_BULLET_CHARS: tuple[str, ...] = ("-", "*", "•")

# Whitespace, spelled so both engines mean the same thing (round-7
# advice): Java's \s is exactly [ \t\n\x0b\f\r] while RE2's (DuckDB)
# omits \x0b — a bare '\s+' silently diverges on vertical tabs, which
# encoding_quality treats as legitimate corpus content. This explicit
# class IS Java's \s, so switching costs the Spark side nothing; the
# oracles interpolate the same string (udtfs.py precedent).
ASCII_WS = r"[ \t\n\x0b\f\r]+"


def normalize_text(col: Column | str) -> Column:
    """lower + trim + collapse whitespace — the canonical form used by
    fingerprints, shingles and tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), ASCII_WS, " ")


def tokens(col: Column | str) -> Column:
    return F.split(normalize_text(col), " ")


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def ngram_fold(t: Column, n: int) -> Column:
    """Word n-gram array from a token-array column, as n shifted
    ``slice``s zipped together (concat_ws-joined). The single home of
    this fold — dedup's shingling and the repetition filters both
    build on it, so the oracle-parity contract can't drift per call
    site. Callers own the short-document (< n tokens) policy: the
    fold yields an empty array there.

    Why slices, not element_at in a transform lambda: lambda-body
    subexpressions re-evaluate per *element*, so the element_at form
    re-tokenizes (regex split over the full text) n times per n-gram
    — O(tokens^2) per document. This form references the token array
    O(n) times per row."""
    # greatest(..., 0): without the clamp a document with < n-1 tokens
    # makes the slice length negative and F.slice THROWS — the clamp
    # makes the documented empty-array contract actually hold
    length = F.greatest(F.size(t) - (n - 1), F.lit(0))
    acc = F.slice(t, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(t, 1 + j, length), lambda a, b: F.concat_ws(" ", a, b)
        )
    return acc


_STAT_COLS = (
    "n_chars",
    "n_tokens",
    "mean_token_len",
    "punct_ratio",
    "digit_ratio",
    "stopword_ratio",
)


def _doc_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    extra_cols: tuple[str, ...] = (),
    *,
    stats: bool = False,
    lang: bool = False,
    fp: bool = False,
) -> DataFrame:
    """Shared per-document enrichment (stats / language / fingerprint)
    with every expensive subexpression BOUND exactly once.

    The naive single-projection form re-evaluates shared expression
    trees per consumer: CollapseProject inlines the token-array alias
    into every reference, conditional branches (the language when-
    chain, the ratio guards) defeat codegen subexpression elimination,
    and higher-order functions (filter/transform lambdas) are
    interpreted, so the regex normalization + split ran up to ~20x
    per row (measured 2.2-2.5x whole-query cost on lang_id /
    corpus_curation / repetition_stats at sf0.1). The fix is the
    one-element ``explode(array(struct(...)))`` barrier (the
    _exploded_shingles trick): a Generate node materializes its
    generator output as bound attributes, so downstream expressions
    reference the computed value instead of re-deriving it. Three
    levels, each binding what the next needs at most once:

    - L1 binds the normalized text (one regex pass);
    - L2 binds the token array, raw-text scalar counts, md5 and the
      CJK test;
    - L3 binds the per-language stopword hit counts and token count.

    Output ratios / predictions are the byte-identical expressions of
    the pre-barrier form over the bound inputs, so every oracle
    contract is unchanged. Still one scan, zero shuffles, and the
    arrays never outlive the projection.
    """
    # Contract guard (ADVICE r12 item 3): fp=True alone (or all flags
    # False) would build F.struct() over an empty field list in L3 and
    # bind t to a nonexistent __x1.t — every current caller passes
    # stats or lang, but a future fingerprint-only caller deserves a
    # clear failure, not an analysis error from an empty-struct explode.
    if not (stats or lang):
        raise ValueError(
            "_doc_profile requires stats=True or lang=True "
            "(fingerprint-only callers: use F.md5(normalize_text(...)) directly)"
        )
    keep = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    raw = F.col(text_col)

    # L1: one regex normalization pass, bound.
    b1 = df.select(
        *keep,
        raw,
        F.explode(F.array(F.struct(normalize_text(text_col).alias("n")))).alias("__x0"),
    )
    norm = F.col("__x0.n")

    # L2: token array + raw-text scalars + fingerprint + CJK test.
    f2: list[Column] = []
    scalar2: list[str] = []  # L2 struct fields carried past L3
    if stats or lang:
        f2.append(F.split(norm, " ").alias("t"))
    if stats:
        f2 += [
            F.length(raw).alias("n_chars"),
            F.length(F.regexp_replace(raw, PUNCT_CLASS, "")).alias("punct"),
            F.length(F.regexp_replace(raw, DIGIT_CLASS, "")).alias("digits"),
            F.length(norm).alias("norm_len"),
        ]
        scalar2 += ["n_chars", "punct", "digits", "norm_len"]
    if fp:
        f2.append(F.md5(norm).alias("fp"))
        scalar2.append("fp")
    if lang:
        f2.append(
            (F.length(F.regexp_replace(raw, CJK_PATTERN, "")) < F.length(raw)).alias(
                "cjk"
            )
        )
        scalar2.append("cjk")
    b2 = b1.select(*keep, F.explode(F.array(F.struct(*f2))).alias("__x1"))
    t = F.col("__x1.t")

    # L3: counts over the bound token array — each filter runs once.
    hit_langs: list[str] = []
    if stats:
        hit_langs.append("en")  # stopword_ratio
    if lang:
        hit_langs += [lg for lg in LANG_ORDER if lg not in hit_langs]
    f3: list[Column] = []
    if stats or lang:
        f3.append(F.size(t).alias("nt"))
    for lg in hit_langs:
        stops = LANG_STOPWORDS[lg]
        f3.append(F.size(F.filter(t, lambda x: x.isin(*stops))).alias(f"h_{lg}"))
    passthrough = [F.col(f"__x1.{c}").alias(f"__{c}") for c in scalar2]
    b3 = b2.select(
        *keep, *passthrough, F.explode(F.array(F.struct(*f3))).alias("__x2")
    )

    n_tokens = F.col("__x2.nt")
    hit = {lg: F.col(f"__x2.h_{lg}") for lg in hit_langs}

    out: list[Column] = [*keep]
    if stats:
        n_chars = F.col("__n_chars")
        # try_divide on the n_chars ratios: an empty-string document
        # has n_chars=0 and plain `/` THROWS under Spark 4's default
        # ANSI mode (one dirty row kills the whole curation job).
        # NULL-on-zero is also exactly DuckDB's division semantics, so
        # the oracle agrees; downstream quality gates then fail the
        # doc (NULL comparisons are false), which is the right fate
        # for empty text. n_tokens is never 0 (split of "" yields
        # [""]), so those divisions stay plain.
        out += [
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
            F.round((F.col("__norm_len") - (n_tokens - 1)) / n_tokens, 4).alias(
                "mean_token_len"
            ),
            F.round(F.try_divide(F.col("__punct"), n_chars), 4).alias("punct_ratio"),
            F.round(F.try_divide(F.col("__digits"), n_chars), 4).alias("digit_ratio"),
            F.round(hit["en"] / n_tokens, 4).alias("stopword_ratio"),
        ]
    if lang:
        best = F.greatest(*[hit[lg] for lg in LANG_ORDER])
        pred = F.when(F.col("__cjk"), F.lit("zh"))
        for lg in LANG_ORDER:
            pred = pred.when((best > 0) & (hit[lg] == best), F.lit(lg))
        out.append(pred.otherwise(F.lit("unknown")).alias("predicted_lang"))
    if fp:
        out.append(F.col("__fp").alias("fp"))
    return b3.select(*out)


def text_stats(df: DataFrame) -> DataFrame:
    """Per-document quality statistics: lengths, token counts,
    punctuation/digit ratios, stopword ratio, mean token length.
    One scan, no shuffle, no UDF (expression binding: _doc_profile)."""
    return _doc_profile(df, "text", "doc_id", stats=True).select(
        "doc_id", *_STAT_COLS
    )


def _quality_expr() -> Column:
    """Composite quality score in [0,1] over the _STAT_COLS columns."""
    score = (
        F.lit(0.4) * F.least(F.col("stopword_ratio") * 4, F.lit(1.0))
        + F.lit(0.3)
        * F.when(F.col("mean_token_len").between(3, 10), 1.0).otherwise(0.3)
        + F.lit(0.15) * (1 - F.least(F.col("digit_ratio") * 5, F.lit(1.0)))
        + F.lit(0.15) * (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0)))
    )
    return F.round(score, 4)


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality score in [0,1]: rewards stopword presence and
    sane token length, penalizes digit/punct density. A simple,
    deterministic stand-in for a trained quality classifier."""
    s = text_stats(df)
    return s.select("doc_id", _quality_expr().alias("quality"))


def lang_id(df: DataFrame) -> DataFrame:
    """n-gram/stopword language heuristic: CJK characters -> zh, else
    the language with the most stopword hits (ties: LANG_ORDER), else
    'unknown' when nothing matches. Expression-bound via _doc_profile
    (the tie-break when-chain otherwise re-evaluates every language's
    stopword filter per branch — measured 2.2x whole-query cost)."""
    return _doc_profile(df, "text", "doc_id", lang=True).select(
        "doc_id", "predicted_lang"
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 family of
    filters): the fraction of duplicated tokens / 2-grams / 3-grams in
    each document. High values mark boilerplate, keyword stuffing and
    degenerate generations — standard kill criteria in pretraining
    corpus cleaning.

    dup fraction over a bag B = 1 - |distinct(B)| / |B|; computed with
    array expressions only (size + array_distinct over the shingle
    fold), so the whole operator is ONE projection — no explode, no
    shuffle, stays in whole-stage codegen at any corpus size.
    """
    t = tokens("text")

    def _dup_fraction(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0, F.round((n - F.size(F.array_distinct(arr))) / n, 4)
        ).otherwise(F.lit(0.0))

    # Two-level explode barrier: L1 binds the token array (one
    # tokenize), L2 binds the 2-/3-gram fold arrays. Without L2 the
    # `when` guard around _dup_fraction defeats codegen subexpression
    # elimination and each fold array is rebuilt 3x per row (size
    # twice + array_distinct) — measured 2.5x whole-query cost at
    # sf0.1. The fold of a short document is an empty array (clamped
    # slice), so unconditional binding is cheap and the guarded
    # fractions are byte-identical.
    barrier = df.select(
        "doc_id", F.explode(F.array(F.struct(t.alias("t")))).alias("x0")
    ).select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("x0.t").alias("t"),
                    ngram_fold(F.col("x0.t"), 2).alias("g2"),
                    ngram_fold(F.col("x0.t"), 3).alias("g3"),
                )
            )
        ).alias("x"),
    )
    tb = F.col("x.t")
    grams = {2: F.col("x.g2"), 3: F.col("x.g3")}

    def _dup_of(n: int) -> Column:
        if n == 1:
            return _dup_fraction(tb)
        return F.when(F.size(tb) >= n, _dup_fraction(grams[n])).otherwise(F.lit(0.0))

    return barrier.select(
        "doc_id",
        F.size(tb).alias("n_tokens"),
        _dup_of(1).alias("dup_token_frac"),
        _dup_of(2).alias("dup_2gram_frac"),
        _dup_of(3).alias("dup_3gram_frac"),
    )


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """The Gopher quality-filter rules (Rae et al. 2021 §A1.1) as one
    boolean flag per rule plus the combined verdict — the standard
    pretraining document filter (Dolma and RefinedWeb derive theirs
    from the same table):

    - ``flag_word_count``     word count in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]
    - ``flag_mean_word_len``  mean word length in [3, 10]
    - ``flag_symbol_ratio``   (# + ellipsis) per word <= 0.1
    - ``flag_bullet_lines``   <= 90% of lines start with a bullet
    - ``flag_ellipsis_lines`` <= 30% of lines end with an ellipsis
    - ``flag_alpha_words``    >= 80% of words contain a letter
    - ``flag_stopwords``      >= 2 distinct Gopher stopwords present
    - ``flag_dup_lines``      <= 30% of lines are duplicates
    - ``passes_gopher``       AND of all eight

    Engine-parity design: every ratio threshold is restated as pure
    INTEGER arithmetic (e.g. symbol/word <= 0.1  <=>  10*symbols <=
    words), so there is no float anywhere and the DuckDB oracle
    cannot drift by a ULP. Words = non-empty whitespace splits of the
    raw text (case kept for the letter test, lowercased only for the
    stopword test); lines = non-empty trimmed newline splits; NULL
    text behaves as '' (zero words -> fails the word-count rule). One
    projection — array expressions only, no shuffle, no UDF, stays in
    whole-stage codegen at any corpus size.
    """
    raw = F.coalesce(F.col("text"), F.lit(""))
    words = F.filter(F.split(raw, ASCII_WS), lambda x: x != "")
    # single-arg lambda, NOT bare F.trim: transform passes (element,
    # index) to two-parameter callables, and F.trim's second parameter
    # is the trim-character set — bare F.trim silently trimmed the
    # stringified index instead of whitespace (caught by fuzz).
    # btrim also strips \r so CRLF corpora see the same lines as LF
    # ones (round-7 advice; mirrored in the oracle's trim char set).
    lines = F.filter(
        F.transform(F.split(raw, "\n"), lambda x: F.btrim(x, F.lit(" \r"))),
        lambda x: x != "",
    )
    # one-element explode barrier (the repetition_stats trick): words
    # and lines feed many expressions below; without it each one
    # re-splits the text.
    barrier = df.select(
        "doc_id",
        F.explode(
            F.array(F.struct(words.alias("w"), lines.alias("l"), raw.alias("t")))
        ).alias("x"),
    )
    w, line_arr, t = F.col("x.w"), F.col("x.l"), F.col("x.t")

    n_words = F.size(w).cast("long")
    n_lines = F.size(line_arr).cast("long")
    sum_word_len = F.aggregate(
        w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    # symbols: '#' chars + '…' chars + literal '...' occurrences
    # (each replace removes a fixed width, so the divisions are exact)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_uni_ellipsis = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    n_dot_ellipsis = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    symbols = (n_hash + n_uni_ellipsis).cast("long") + n_dot_ellipsis
    alpha_words = F.size(
        F.filter(w, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(w, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    bullet_lines = F.size(
        F.filter(
            line_arr,
            lambda x: F.substring(x, 1, 1).isin(*GOPHER_BULLET_CHARS),
        )
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(line_arr, lambda x: x.endswith("...") | x.endswith("…"))
    ).cast("long")
    dup_lines = n_lines - F.size(F.array_distinct(line_arr)).cast("long")

    flags = {
        "flag_word_count": (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS),
        "flag_mean_word_len": (n_words > 0)
        & (3 * n_words <= sum_word_len)
        & (sum_word_len <= 10 * n_words),
        "flag_symbol_ratio": 10 * symbols <= n_words,
        "flag_bullet_lines": 10 * bullet_lines <= 9 * n_lines,
        "flag_ellipsis_lines": 10 * ellipsis_lines <= 3 * n_lines,
        "flag_alpha_words": 5 * alpha_words >= 4 * n_words,
        "flag_stopwords": stop_hits >= 2,
        "flag_dup_lines": 10 * dup_lines <= 3 * n_lines,
    }
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return barrier.select(
        "doc_id",
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        *[c.alias(name) for name, c in flags.items()],
        passes.alias("passes_gopher"),
    )


C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


def c4_line_filter(df: DataFrame) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2019 §2.2) as a LINE-level
    scrub + document verdict — the complement of the document-level
    :func:`gopher_quality_flags`:

    line KEPT iff it ends in terminal punctuation (``. ! ? "``), has
    >= 5 words, and does not mention "javascript"; document KEPT iff
    >= 3 lines survive, and the page contains neither "lorem ipsum"
    nor a ``{``. Output: ``kept`` verdict, the scrubbed text
    (``text_clean`` — surviving lines re-joined; NULL for dropped
    documents, so a dropped page can never leak into training), and
    the line accounting.

    One projection — split / filter / array_join only, no shuffle, no
    UDF; NULL text behaves as '' (zero lines -> dropped). String
    predicates are case-insensitive the way C4's are (lowercased
    contains), and every count is an integer, so the DuckDB oracle
    matches bit-for-bit by construction.
    """
    raw = F.coalesce(F.col("text"), F.lit(""))
    # \r stripped with the line trim so CRLF corpora behave like LF;
    # \z (absolute end — identical in Java and RE2) instead of $,
    # which Java alone also matches before a trailing line
    # terminator (\r, U+0085, U+2028, U+2029) - round-7 advice.
    lines = F.filter(
        F.transform(F.split(raw, "\n"), lambda x: F.btrim(x, F.lit(" \r"))),
        lambda x: x != "",
    )
    kept_lines = F.filter(
        lines,
        lambda x: x.rlike(r'[.!?"]\z')
        & (F.size(F.filter(F.split(x, ASCII_WS), lambda w: w != "")) >= C4_MIN_LINE_WORDS)
        & ~F.contains(F.lower(x), F.lit("javascript")),
    )
    barrier = df.select(
        "doc_id",
        F.explode(
            F.array(F.struct(lines.alias("l"), kept_lines.alias("k"), raw.alias("t")))
        ).alias("x"),
    )
    line_arr, kept_arr, t = F.col("x.l"), F.col("x.k"), F.col("x.t")
    n_lines = F.size(line_arr).cast("long")
    n_kept = F.size(kept_arr).cast("long")
    kept = (
        (n_kept >= C4_MIN_KEPT_LINES)
        & ~F.contains(F.lower(t), F.lit("lorem ipsum"))
        & ~F.contains(t, F.lit("{"))
    )
    return barrier.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_lines_kept"),
        kept.alias("kept"),
        F.when(kept, F.array_join(kept_arr, "\n")).alias("text_clean"),
    )


def top_ngram_char_fraction(df: DataFrame) -> DataFrame:
    """The Gopher repetition rules 2-4 (Rae et al. 2021 §A1.1): for
    each document and each n in (2, 3, 4), the most frequent word n-gram
    and the fraction of the (normalized) text its occurrences cover —
    ``top_count * len(top_ngram) / n_chars_norm``. High coverage marks
    keyword stuffing and TEMPLATE boilerplate that the dup-fraction
    metrics (:func:`repetition_stats`) underweight: a gram repeated
    40x has dup_frac ~= the same as one repeated 4x once bags
    saturate, but 10x the coverage.

    Tie-break for "top": highest count, then longest gram, then
    lexicographically greatest — a total order, so both engines pick
    the same gram. Shape: ONE scan builds all n-gram levels as a
    single concatenated struct array (one explode — the text is
    tokenized once, not three times), then one (doc, n, gram) count
    and one (doc, n) arg-max aggregate, both keyed by doc_id —
    per-document gram counts are bounded by document length, so the
    shuffle is skew-safe at any corpus size. Documents with fewer
    than n tokens are absent at that n.
    """
    # Two-level explode barrier: L1 binds the normalized text (one
    # regex pass), L2 binds the token array + norm length — the
    # ngram_fold slices below otherwise re-tokenize the text ~n+2
    # times per level (no barrier existed here; the lambda-bearing
    # transform/concat is interpreted, outside codegen CSE).
    b1 = df.select(
        "doc_id",
        F.explode(F.array(F.struct(normalize_text("text").alias("n")))).alias("x0"),
    )
    norm = F.col("x0.n")
    b2 = b1.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.split(norm, " ").alias("t"),
                    F.length(norm).alias("nl"),
                )
            )
        ).alias("x1"),
    )
    t = F.col("x1.t")

    def level(n: int):
        return F.transform(
            ngram_fold(t, n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    combined = F.concat(*[level(n) for n in (2, 3, 4)])
    ex = b2.select(
        "doc_id",
        F.col("x1.nl").alias("n_chars_norm"),
        F.explode(combined).alias("x"),
    ).select(
        "doc_id", "n_chars_norm", F.col("x.n").alias("n"), F.col("x.gram").alias("gram")
    )
    counts = ex.groupBy("doc_id", "n", "n_chars_norm", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = counts.groupBy("doc_id", "n", "n_chars_norm").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"),
                F.length("gram").alias("l"),
                F.col("gram").alias("g"),
            )
        ).alias("m")
    )
    return top.select(
        "doc_id",
        "n",
        F.col("m.g").alias("top_ngram"),
        F.col("m.c").cast("long").alias("top_count"),
        F.round(
            F.col("m.c") * F.col("m.l") / F.col("n_chars_norm"), 4
        ).alias("top_char_frac"),
    )


# UTF-8-as-Latin-1 double-encoding leaves these marker characters in
# the text (the ftfy heuristic family): 'Ã' leads re-decoded 2-byte
# sequences, 'â€' re-decoded punctuation, 'Â' re-decoded NBSP/degree.
MOJIBAKE_MARKERS: tuple[str, ...] = ("Ã", "â€", "Â")
_CONTROL_CLASS = r"[\x00-\x08\x0e-\x1f]"  # C0 controls minus \t\n\r\v\f


def encoding_quality(df: DataFrame) -> DataFrame:
    """Encoding-damage detection (the ftfy-style pre-filter every web
    corpus runs before tokenization): per document, counts of U+FFFD
    replacement characters (a decoder already gave up), mojibake
    marker sequences (UTF-8 bytes re-decoded as Latin-1 — 'Ã', 'â€',
    'Â'), and stray C0 control characters; ``flag_clean`` = all
    three zero. Detection only — the *repair* (re-encode/decode
    round-trips) is byte-level work for an Arrow kernel downstream;
    the detector is what must run at scan speed over 100 TB to decide
    which sliver of the corpus that kernel ever sees.

    One projection, no shuffle, no UDF. Marker counts use exact
    replace-length arithmetic (integers — no float or regex-dialect
    surface); only the control-char count uses a regex, with an
    explicit escape-class both Java and RE2 parse identically. NULL
    text counts as clean-but-empty ('' has no damage).
    """
    t = F.coalesce(F.col("text"), F.lit(""))

    def marker_count(m: str):
        return (
            (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit(""))))
            / len(m)
        ).cast("long")

    n_repl = marker_count("�")
    n_moji = None
    for m in MOJIBAKE_MARKERS:
        c = marker_count(m)
        n_moji = c if n_moji is None else (n_moji + c)
    n_ctrl = F.size(F.regexp_extract_all(t, F.lit(_CONTROL_CLASS), 0)).cast("long")
    return df.select(
        "doc_id",
        n_repl.alias("n_replacement_chars"),
        n_moji.alias("n_mojibake_hits"),
        n_ctrl.alias("n_control_chars"),
        ((n_repl == 0) & (n_moji == 0) & (n_ctrl == 0)).alias("flag_clean"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token windows — the step
    between cleaning and sequence packing in a pretraining pipeline
    (long documents become training-sized pieces; the overlap
    preserves cross-boundary context).

    Chunk c covers tokens [c*stride, c*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short, and
    a chunk is only emitted if it starts inside the document, so every
    token lands in >=1 chunk and no empty chunks appear. Pure array
    expressions + one explode — map-side, no shuffle, and exactly
    expressible in the DuckDB oracle (range + list_slice).

    Returns (doc_id, chunk_no, chunk_n_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    # one-element explode barrier: bind the token array once (see
    # _exploded_shingles in operators/dedup.py for the rationale)
    barrier = df.select(
        "doc_id", F.explode(F.array(F.struct(tokens("text").alias("t")))).alias("x")
    )
    t = F.col("x.t")
    # NULL text -> NULL token array -> NULL starts: explode then emits
    # NO rows for the document, matching the DuckDB oracle (range over
    # a NULL list is NULL). Without the guard, size(NULL) arithmetic
    # fabricates a phantom all-NULL chunk row.
    starts = F.when(
        t.isNotNull(),
        F.sequence(F.lit(0), F.greatest(F.size(t) - 1, F.lit(0)), F.lit(stride)),
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_no"),
            F.slice(t, s + 1, chunk_tokens).alias("toks"),
        ),
    )
    return (
        barrier.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_no").alias("chunk_no"),
            F.size("c.toks").alias("chunk_n_tokens"),
            F.array_join("c.toks", " ").alias("chunk_text"),
        )
    )


# PII patterns: deliberately simple, deterministic regexes (the same
# class DuckDB's RE2-style engine accepts) — emails, North-America-ish
# phone numbers, IPv4. A production scrubber adds locale packs and a
# validation pass; the Spark-side shape (one projection, chained
# regexp_replace, counts from the PRE-scrub text) is what matters.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_scrub(df: DataFrame) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses with typed
    placeholders and report per-document match counts (the audit
    trail a compliance pass needs). Pure projection: regexp_count +
    chained regexp_replace, codegen end to end.

    Order matters and is fixed: emails first (an email never parses
    as a phone), then phones, then IPv4 (phone scrub cannot create an
    IP). Counts are computed on the ORIGINAL text, not the partially
    scrubbed intermediate, so they are order-independent — which also
    means counts tally PATTERN OCCURRENCES, not emitted placeholders:
    a span matching two classes (e.g. a phone-shaped email local
    part) is counted under both but redacted once by the earlier
    class. Audit consumers should treat counts as detections, not as
    a placeholder census of scrubbed_text.
    """
    c = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_IPV4,
        "<IP>",
    )
    return df.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        F.regexp_count(c, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(c, F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count(c, F.lit(PII_IPV4)).alias("n_ipv4"),
    )


def curate(df: DataFrame) -> DataFrame:
    """End-to-end corpus curation — the composed shape of a 100 TB
    cleaning job: quality gate + language gate + exact-dedup survivor
    selection in ONE scan and ONE shuffle.

    All gates are computed in a single projection (stats, quality,
    language, fingerprint side by side), the filters run before the
    only shuffle (the fingerprint groupBy), and survivor attributes
    ride along via min_by — no self-joins back to the corpus.

    Returns (doc_id, quality, n_tokens, fp, dup_count) — the kept
    document per duplicate group (min id), with how many kept
    duplicates it represents.
    """
    enriched = _doc_profile(
        df, "text", "doc_id", stats=True, lang=True, fp=True
    ).withColumn("quality", _quality_expr())
    kept = enriched.where(
        (F.col("quality") >= 0.5) & (F.col("predicted_lang") == "en")
    )
    return kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("quality", "doc_id").alias("quality"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_count"),
    ).select("doc_id", "quality", "n_tokens", "fp", "dup_count")


def remove_frequent_lines(
    df: DataFrame,
    min_docs: int = 2,
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet / RefinedWeb
    line-dedup family): split every document into lines, count how
    many DISTINCT documents each normalized line appears in, and strip
    lines whose document frequency reaches ``min_docs`` — navigation
    chrome, cookie banners and license headers disappear while
    document-unique prose survives. With ``delimiter=' '`` the same
    machinery is IDF-style high-document-frequency token pruning.

    Matching is on the normalized line (lower + trim); reassembly
    keeps the ORIGINAL line text and order. Lines that are empty
    after trimming never participate in frequency counting and are
    always kept, so blank-line structure is preserved. ``delimiter``
    is a LITERAL string (escaped before the regex split, so '.' or
    '|' work); a NULL text is treated as '' — the document keeps its
    output row instead of silently vanishing through the explode.

    Scale shape: posexplode is map-side fan-out; the frequency table
    is one hash aggregate on the line key (map-side partial combine);
    membership is a shuffle equi-join on the same key (at 100 TB the
    frequent-line set is the small side — AQE broadcasts it when it
    fits); reassembly is one hash aggregate on doc_id with the order
    restored by array_sort over (pos, line) structs — never a
    per-document sort via window.

    Returns (doc_id, clean_text, n_kept_lines, n_removed_lines).
    """
    import re as _re

    lines = df.select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), _re.escape(delimiter))
        ).alias("pos", "line"),
    ).withColumn("line_norm", F.lower(F.trim(F.col("line"))))
    frequent = (
        lines.where(F.col("line_norm") != "")
        .groupBy("line_norm")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= min_docs)
        .select("line_norm", F.lit(True).alias("is_boiler"))
    )
    marked = lines.join(frequent, "line_norm", "left").withColumn(
        "keep", F.col("is_boiler").isNull() | (F.col("line_norm") == "")
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(kept_struct)).alias("kept"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removed_lines"),
        )
        .select(
            "doc_id",
            F.array_join(F.transform("kept", lambda s: s.line), delimiter).alias(
                "clean_text"
            ),
            F.size("kept").alias("n_kept_lines"),
            F.col("n_removed_lines").cast("int").alias("n_removed_lines"),
        )
    )


def ngram_counts(df: DataFrame) -> DataFrame:
    """Corpus-wide word bigram frequency table: (ngram, n_total,
    n_docs) — the statistic behind contamination thresholds, boilerplate
    detection and tokenizer/LM corpus reports. Counts are over ALL
    occurrences (not per-doc distinct); documents shorter than n tokens
    contribute nothing.

    Scale shape: the fold is map-side (shared ngram_fold over the
    one-element explode barrier — tokenizer runs once per doc), one
    explode fans occurrences out locally, and the single shuffle is
    the hash aggregate on the ngram key with map-side partial
    aggregation. n_docs rides the same aggregate as a distinct count
    of doc ids per ngram."""
    barrier = df.select(
        "doc_id", F.explode(F.array(F.struct(tokens("text").alias("t")))).alias("x")
    )
    t = F.col("x.t")
    grams = F.when(F.size(t) >= 2, ngram_fold(t, 2)).otherwise(
        F.array().cast("array<string>")
    )
    ex = barrier.select("doc_id", F.explode(grams).alias("ngram"))
    return ex.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def top_ngrams(df: DataFrame) -> DataFrame:
    """The 50 most frequent word bigrams with a dense rank —
    TakeOrderedAndProject over the ngram_counts aggregate (per-partition
    heaps, never a global sort of the full vocabulary)."""
    from pyspark.sql import Window

    counts = ngram_counts(df)
    top = counts.orderBy(F.desc("n_total"), F.asc("ngram")).limit(50)
    w = Window.orderBy(F.desc("n_total"), F.asc("ngram"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "ngram", "n_total", "n_docs", "rank"
    )


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF —
    the classic keyword extractor (topic labels for a data card,
    routing keys for domain-balanced sampling). Terms come from the
    module's canonical normalization (normalize_text -> whitespace
    split), so fingerprints, shingles and keywords all agree on what
    a token is.

    tf = count(term in doc) / count(tokens in doc); idf follows the
    sklearn smooth convention ln((N+1)/(df+1)) + 1 (never zero, never
    a division blowup on empty corpora). Score rounded to 6 dp for
    engine-portable comparison; ties broken by term text ascending so
    the top-k set is total-order deterministic.

    Scale shape: one explode + ONE (doc, term) hash-aggregate SHAPE,
    physically computed once per consuming branch (measured cheaper
    than caching it — see the inline note); N is a broadcast
    one-row frame; top-k is a ranking
    window partitioned BY DOCUMENT (bounded by distinct terms per
    doc, never corpus-wide — WindowGroupLimit prunes below the
    exchange). Returns (id, term, tfidf, rank).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col("doc_id"), tokens("text").alias("__tk")
    ).select(
        F.col("doc_id"),
        F.size("__tk").alias("__n"),
        F.explode("__tk").alias("term"),
    ).where(F.col("term") != "")
    # MEASURED non-persist: the tf branch and the document-frequency
    # branch both derive from this aggregate, and Catalyst recomputes
    # the explode+agg per branch — but caching the (doc, term) frame
    # was 2.6x SLOWER at 10x corpus (4.4s vs 1.7s: the cache
    # write/read of millions of small rows costs more than the
    # map-side-combined recompute). Contrast dupspans.duplicate_spans,
    # where the recomputed projection is md5-heavy and the persist
    # measured 1.8x FASTER — cache-vs-recompute is decided per
    # operator by measurement, not doctrine. A window-over-term
    # alternative would avoid the dual consumption entirely but
    # buffers df(term) rows per partition — a stopword's partition is
    # the whole corpus, the skew trap the join shape avoids.
    doc_term = toks.groupBy("doc_id", "term").agg(
        (F.count(F.lit(1)).cast("double") / F.first("__n")).alias("__tf")
    )
    dfreq = doc_term.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = df.select(F.count(F.lit(1)).alias("__N"))
    scored = (
        doc_term.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("__tf")
                * (
                    F.log((F.col("__N") + 1).cast("double") / (F.col("__df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def curation_funnel(df: DataFrame) -> DataFrame:
    """Pipeline telemetry for the curate() gate chain: per source, how
    many documents survive each stage — raw -> quality gate ->
    quality+language -> unique (exact-dedup canonical). The data-card
    number that explains WHERE a source's volume went, which the
    final kept-count alone cannot.

    Returns (source, n_raw, n_quality, n_quality_lang, n_unique),
    n_unique counted at the canonical survivor's source (min doc id
    per fingerprint among gate survivors — curate()'s exact policy,
    so funnel numbers and curate() output always reconcile).

    Shape: ALL gates in one projection (curate()'s single-scan
    discipline); the flag frame is persisted and both aggregates —
    per-source counts and the fingerprint-canonical count — are
    materialized eagerly via localCheckpoint so the cache releases
    before return and the corpus is scanned ONCE, not once per
    aggregate (the psi_report discipline). The checkpoint stays on
    the executors: source cardinality is data-dependent (per-domain
    funnels run to millions of rows), so nothing may route through
    the driver (round-7 verdict item 2).
    """
    enriched = _doc_profile(
        df, "text", "doc_id", extra_cols=("source",), stats=True, lang=True, fp=True
    ).withColumn("quality", _quality_expr())
    q = F.col("quality") >= 0.5
    ql = q & (F.col("predicted_lang") == "en")
    flagged = enriched.select(
        F.col("doc_id"), F.col("source"), F.col("fp"), q.alias("__q"), ql.alias("__ql")
    ).persist()
    try:
        base = (
            flagged.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_raw"),
                F.sum(F.when(F.col("__q"), 1).otherwise(0)).alias("n_quality"),
                F.sum(F.when(F.col("__ql"), 1).otherwise(0)).alias("n_quality_lang"),
            )
        )
        uniq = (
            flagged.where(F.col("__ql"))
            .groupBy("fp")
            .agg(F.min_by("source", F.col("doc_id")).alias("source"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        # eager=True materializes both aggregates off the shared cache
        # NOW (before the unpersist below) without collecting to the
        # driver — partitions stay executor-resident, so an arbitrary
        # source cardinality cannot OOM the driver
        base_df = base.localCheckpoint(eager=True)
        uniq_df = uniq.localCheckpoint(eager=True)
    finally:
        flagged.unpersist()
    # null-SAFE source join: a NULL-source survivor belongs to the
    # NULL-source funnel row (sources can be absent in real crawls);
    # a plain equi-join would silently drop its n_unique count
    return (
        base_df.join(
            uniq_df, base_df["source"].eqNullSafe(uniq_df["source"]), "left"
        )
        .select(
            base_df["source"].alias("source"),
            "n_raw",
            "n_quality",
            "n_quality_lang",
            F.coalesce(F.col("n_unique"), F.lit(0)).alias("n_unique"),
        )
    )
