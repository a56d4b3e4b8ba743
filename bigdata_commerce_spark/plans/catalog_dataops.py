"""Catalog: training-data pipeline operators (dedup, similarity,
text analysis, multimodal) over the documents/embeddings testdata.

Oracle SQL here is *generated from the same module constants* the
Spark operators use (stopword lists, hash counts, thresholds,
nibble decode) so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import (
    dedup,
    multimodal,
    psl,
    similarity,
    urltools,
)
from bigdata_commerce_spark.plans.catalog import _EVENTS_ORACLE_CTE, _events
from bigdata_commerce_spark.operators import text as text_ops
from bigdata_commerce_spark.plans.registry import query, twin_query
from bigdata_commerce_spark.sources import commerce as _commerce
from bigdata_commerce_spark.sources.testdata import load_table

# DuckDB twins of operators.text normalization/tokenization — same
# semantics as normalize_text()/tokens() (regexp_replace in DuckDB
# needs the explicit 'g' flag; Spark's replaces all matches).
_NORM_CTE = r"""
norm_docs AS (
    SELECT doc_id, text,
           regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g') AS norm
    FROM documents
), tok_docs AS (
    SELECT doc_id, text, norm, string_split(norm, ' ') AS toks FROM norm_docs
)
"""

# Shingle CTE twin of dedup._exploded_shingles (n=3).
_SHINGLE_CTE = (
    _NORM_CTE
    + """
, shingled AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3 THEN
                list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           ELSE [norm] END AS shingles
    FROM tok_docs
), ex AS (
    SELECT doc_id AS id, unnest(shingles) AS shingle FROM shingled
), sizes AS (
    SELECT id, COUNT(*) AS n_shingles FROM ex GROUP BY id
)
"""
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_EN = ", ".join(f"'{w}'" for w in text_ops.LANG_STOPWORDS["en"])

# Oracle-side emulation of Spark's double ROUND (round-8 fuzz find):
# Java rounds the SHORTEST DECIMAL REPR (BigDecimal.valueOf =
# Double.toString) with HALF_UP; DuckDB's double ROUND rounds the
# binary value — they disagree whenever the true value sits within an
# ULP of a half boundary (the prose fuzz family hit quality scores at
# 0.98545+/-ulp: 0.9854 vs 0.9855). VARCHAR of a double is the same
# shortest round-trip repr in both engines, and DECIMAL round is exact
# half-away-from-zero = HALF_UP on that repr — bit-equal to Spark by
# construction. DECIMAL(38,18) holds the full 17-significant-digit
# repr at every stat magnitude here, so no double-rounding.
#   CAST(ROUND(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)

_TEXT_STATS_SQL = f"""
WITH {_NORM_CTE}
SELECT doc_id,
       length(text) AS n_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(ROUND(CAST(CAST(((length(norm) - (len(toks) - 1)) * 1.0 / len(toks)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS mean_token_len,
       CAST(ROUND(CAST(CAST((length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS punct_ratio,
       CAST(ROUND(CAST(CAST((length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS digit_ratio,
       CAST(ROUND(CAST(CAST((len(list_filter(toks, x -> x IN ({_EN}))) * 1.0 / len(toks)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS stopword_ratio
FROM tok_docs
"""


@query("text_stats", oracle=_TEXT_STATS_SQL)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics — pure projection, no shuffle,
    stays in whole-stage codegen (operators/text.py)."""
    docs = load_table(spark, "documents", sf_dir)
    out = text_ops.text_stats(docs)
    return out.withColumn("n_chars", F.col("n_chars").cast("bigint"))


def _dup_frac_sql(list_expr: str, min_len: int) -> str:
    arr = f"CASE WHEN len(toks) >= {min_len} THEN {list_expr} ELSE NULL END"
    return (
        f"COALESCE(CAST(ROUND(CAST(CAST(((len({arr}) - len(list_distinct({arr}))) * 1.0"
        f" / NULLIF(len({arr}), 0)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE), 0.0)"
    )


def _ngram_list_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return f"list_transform(range(1, len(toks) - {n - 2}), i -> {parts})"


@twin_query(
    "repetition_stats",
    oracle=f"""
    WITH {_NORM_CTE}
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           {_dup_frac_sql("toks", 1)} AS dup_token_frac,
           {_dup_frac_sql(_ngram_list_sql(2), 2)} AS dup_2gram_frac,
           {_dup_frac_sql(_ngram_list_sql(3), 3)} AS dup_3gram_frac
    FROM tok_docs
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: duplicated token /
    2-gram / 3-gram fractions per document, all from array
    expressions in one projection (operators/text.py)."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.repetition_stats(docs)


@twin_query(
    "pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{text_ops.PII_EMAIL}', '<EMAIL>', 'g'),
               '{text_ops.PII_PHONE}', '<PHONE>', 'g'),
               '{text_ops.PII_IPV4}', '<IP>', 'g') AS scrubbed_text,
           CAST(len(regexp_extract_all(text, '{text_ops.PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{text_ops.PII_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{text_ops.PII_IPV4}')) AS INT) AS n_ipv4
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone/IPv4 redaction with per-document audit counts —
    one codegen projection (operators/text.py). The synthetic corpus
    contains no PII, so counts are zero here; the regex semantics are
    additionally pinned by tests/test_dataops.py on crafted rows."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.pii_scrub(docs)


_TS_SIM_VEC = "list_reduce(list_transform(list_zip({a}, {b}), q -> q[1] * q[2]), (acc, x) -> acc + x)"


@twin_query(
    "ts_similar_users",
    oracle=f"""
    WITH per_bucket AS (
        SELECT user_id AS series_id,
               CAST((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                    // CAST(21600000000 AS BIGINT) AS BIGINT) AS bucket,
               ROUND(SUM(value), 6) AS v
        FROM events
        WHERE (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
              // CAST(21600000000 AS BIGINT) BETWEEN 0 AND 119
        GROUP BY 1, 2
    ), keys AS (
        SELECT DISTINCT series_id FROM per_bucket
    ), grid AS (
        SELECT series_id, i AS bucket
        FROM keys CROSS JOIN (SELECT unnest(range(0, 120)) AS i)
    ), dense AS (
        SELECT g.series_id, g.bucket, COALESCE(p.v, 0.0) AS v
        FROM grid g LEFT JOIN per_bucket p USING (series_id, bucket)
    ), series AS (
        SELECT series_id, list(v ORDER BY bucket) AS s
        FROM dense GROUP BY series_id
    ), scored AS (
        SELECT p.series_id AS probe_id, c.series_id AS corpus_id,
               ROUND({_TS_SIM_VEC.format(a="p.s", b="c.s")}
                 / (sqrt({_TS_SIM_VEC.format(a="p.s", b="p.s")})
                    * sqrt({_TS_SIM_VEC.format(a="c.s", b="c.s")})), 4) AS score
        FROM series p JOIN series c ON c.series_id != p.series_id
        WHERE p.series_id < 5
    )
    SELECT probe_id, corpus_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY score DESC, corpus_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def ts_similar_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: users resampled onto a fixed
    120x6h grid over the events month, cosine top-5 most similar
    users per probe via the shared vector machinery
    (operators/timeseries.py -> similarity.cosine_topk)."""
    from bigdata_commerce_spark.operators.timeseries import similar_series

    ev = load_table(spark, "events", sf_dir)
    return similar_series(
        ev,
        probe_keys=[0, 1, 2, 3, 4],
        k=5,
        n_buckets=120,
        bucket_seconds=21600,
    )


_CHUNK_ORACLE = f"""
    WITH {_NORM_CTE}
    , starts AS (
        SELECT doc_id, toks, unnest(range(0, len(toks), 224)) AS s
        FROM tok_docs
    )
    SELECT doc_id,
           CAST(s // 224 AS INT) AS chunk_no,
           CAST(len(toks[s + 1 : s + 256]) AS INT) AS chunk_n_tokens,
           array_to_string(toks[s + 1 : s + 256], ' ') AS chunk_text
    FROM starts
    """


@query("chunk_documents", oracle=_CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows per document (256-token chunks,
    32-token overlap -> stride 224) — map-side array expressions + one
    explode (operators/text.py)."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.chunk_documents(docs, chunk_tokens=256, overlap=32)


@twin_query("chunk_documents_udtf", oracle=_CHUNK_ORACLE)
def chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking computed through the Python UDTF surface
    (Spark 4 table function, Arrow-optimized, LATERAL join —
    functions/udtfs.py): completes SURVEY §2.10's UDF-surface story
    with a procedural row generator checked against the identical
    DuckDB oracle as the expression form. The expression form stays
    the production path (whole-stage codegen, zero Python)."""
    from bigdata_commerce_spark.functions.udtfs import (
        chunk_documents_udtf as _chunk_udtf,
    )

    docs = load_table(spark, "documents", sf_dir)
    return _chunk_udtf(docs)


@query(
    "pack_sequences",
    oracle=f"""
    WITH {_NORM_CTE}
    , counted AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok_docs
    ), offsets AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_start
        FROM counted
    )
    SELECT doc_id, n_tokens,
           CAST(token_start AS BIGINT) AS token_start,
           CAST(token_start // 2048 AS BIGINT) AS pack_id,
           CAST(token_start % 2048 AS BIGINT) AS pack_offset
    FROM offsets
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget contiguous-fill packing (operators/packing.py).
    The oracle is the one-window global-prefix-sum spec; the Spark
    side computes the SAME numbers with a two-level bucketed prefix
    sum that never runs a global window over the corpus — the check
    proves the distributed decomposition equals the spec."""
    from bigdata_commerce_spark.operators.packing import pack_sequences as _pack

    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select("doc_id", F.size(text_ops.tokens("text")).alias("n_tokens"))
    return _pack(counted, budget=2048)


@query(
    "text_quality_score",
    oracle=f"""
    WITH stats AS ({_TEXT_STATS_SQL})
    SELECT doc_id,
           CAST(ROUND(CAST(CAST((0.4 * LEAST(stopword_ratio * 4, 1.0)
               + 0.3 * (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 1.0 ELSE 0.3 END)
               + 0.15 * (1 - LEAST(digit_ratio * 5, 1.0))
               + 0.15 * (1 - LEAST(punct_ratio * 5, 1.0))) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS quality
    FROM stats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score in [0,1]."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.quality_score(docs)


@twin_query(
    "corpus_report",
    oracle=f"""
    WITH stats AS ({_TEXT_STATS_SQL}),
    scored AS (
        SELECT d.source, d.lang, s.n_tokens, s.n_chars,
               CAST(ROUND(CAST(CAST((0.4 * LEAST(s.stopword_ratio * 4, 1.0)
                   + 0.3 * (CASE WHEN s.mean_token_len BETWEEN 3 AND 10
                            THEN 1.0 ELSE 0.3 END)
                   + 0.15 * (1 - LEAST(s.digit_ratio * 5, 1.0))
                   + 0.15 * (1 - LEAST(s.punct_ratio * 5, 1.0))) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS quality
        FROM documents d JOIN stats s USING (doc_id)
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           -- via VARCHAR: DuckDB's direct wide-decimal->double cast
           -- double-rounds (1 ULP off Spark) once the scaled hugeint
           -- exceeds 2^53 — reachable here at ~1e9 docs per group
           CAST(CAST(SUM(CAST(quality AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE) AS quality_sum
    FROM scored GROUP BY 1, 2
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus data card: per (source, lang) document counts, token
    and character totals, and the exact quality sum — the summary
    every training-data intake publishes (mean = quality_sum/n_docs,
    left to the consumer: sums of exact DECIMALs are summation-order-
    independent, while a rounded mean sits on half-boundaries where
    Spark's decimal-string HALF_UP and DuckDB's binary rounding
    disagree — measured 0.7011 vs 0.7010 at sf0.01). One projection
    (stats + quality are pure expressions) and one hash aggregate."""
    from bigdata_commerce_spark.operators.text import _doc_profile, _quality_expr

    docs = load_table(spark, "documents", sf_dir)
    base = _doc_profile(
        docs, "text", "doc_id", extra_cols=("source", "lang"), stats=True
    ).withColumn("quality", _quality_expr())
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.col("quality").cast("decimal(20,4)")).cast("double").alias("quality_sum"),
    )


def _lang_sql() -> str:
    hits = ",\n           ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in stops)}))) AS hits_{lang}"
        for lang, stops in text_ops.LANG_STOPWORDS.items()
    )
    best = ", ".join(f"hits_{lang}" for lang in text_ops.LANG_ORDER)
    whens = "\n           ".join(
        f"WHEN best > 0 AND hits_{lang} = best THEN '{lang}'"
        for lang in text_ops.LANG_ORDER
    )
    return f"""
    WITH {_NORM_CTE}
    , scored AS (
        SELECT doc_id,
           regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') AS has_cjk,
           {hits}
        FROM tok_docs
    ), best_of AS (
        SELECT *, GREATEST({best}) AS best FROM scored
    )
    SELECT doc_id,
           CASE WHEN has_cjk THEN 'zh'
           {whens}
           ELSE 'unknown' END AS predicted_lang
    FROM best_of
    """


@query("lang_id", oracle=_lang_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/CJK language-ID heuristic (operators/text.py); the
    stopword lists feed both this and the generated oracle."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.lang_id(docs)


@query(
    "doc_fingerprints",
    oracle=f"""
    WITH {_NORM_CTE}
    SELECT doc_id, md5(norm) AS fp FROM norm_docs
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) per document."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", text_ops.fingerprint("text").alias("fp"))


_CURATION_ORACLE = f"""
WITH stats AS ({_TEXT_STATS_SQL}),
langp AS ({_lang_sql()}),
fps AS (
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp
    FROM documents
), q AS (
    SELECT doc_id,
           CAST(ROUND(CAST(CAST((0.4 * LEAST(stopword_ratio * 4, 1.0)
               + 0.3 * (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 1.0 ELSE 0.3 END)
               + 0.15 * (1 - LEAST(digit_ratio * 5, 1.0))
               + 0.15 * (1 - LEAST(punct_ratio * 5, 1.0))) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS quality,
           n_tokens
    FROM stats
), kept AS (
    SELECT q.doc_id, q.quality, q.n_tokens, fps.fp
    FROM q JOIN langp USING (doc_id) JOIN fps USING (doc_id)
    WHERE q.quality >= 0.5 AND langp.predicted_lang = 'en'
)
SELECT MIN(doc_id) AS doc_id,
       arg_min(quality, doc_id) AS quality,
       arg_min(n_tokens, doc_id) AS n_tokens,
       fp,
       COUNT(*) AS dup_count
FROM kept GROUP BY fp
"""


@query("corpus_curation", oracle=_CURATION_ORACLE)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning job: quality gate +
    language gate + exact-dedup survivor selection in one scan and one
    shuffle (operators/text.curate). Gates evaluate in a single
    projection ahead of the only shuffle; survivor attributes ride the
    fingerprint groupBy via min_by — no self-joins back to the
    corpus."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.curate(docs)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@twin_query(
    "dedup_exact",
    oracle=f"""
    WITH {_NORM_CTE}
    SELECT md5(norm) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM norm_docs GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint, min-id
    survivor per group (map-side partial agg; one shuffle on fp)."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.exact_duplicates(docs)


_JACCARD_VERIFY_SQL = """
, common AS (
    SELECT a.id AS id1, b.id AS id2, COUNT(*) AS common
    FROM {cand_a} a JOIN {cand_b} b
      ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
)
SELECT id1, id2,
       ROUND(common * 1.0 / (sa.n_shingles + sb.n_shingles - common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id1
JOIN sizes sb ON sb.id = id2
WHERE common * 1.0 / (sa.n_shingles + sb.n_shingles - common) >= {threshold}
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    {_JACCARD_VERIFY_SQL.format(cand_a="ex", cand_b="ex", threshold=0.8)}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard >= 0.8 via inverted-index
    self-join (docs only meet when they share a shingle)."""
    return _jaccard_pairs_cached(spark, sf_dir)


@twin_query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    , common AS (
        SELECT a.id AS id1, b.id AS id2, COUNT(*) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id <> b.id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           ROUND(common * 1.0 / s.n_shingles, 4) AS containment
    FROM common JOIN sizes s ON s.id = id1
    WHERE common * 1.0 / s.n_shingles >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered near-dup pairs by exact shingle-set CONTAINMENT
    |A∩B|/|A| >= 0.8 (operators/dedup.containment_pairs) — Broder's
    second measure, the one that catches a short document embedded
    verbatim in a much longer one, where Jaccard resemblance reads
    near zero. Candidates come from the ASYMMETRIC prefix filter
    (contained side's rarest-first prefix probed against the full
    inverted index — the container side has no size bound, so only
    one side's prefix applies); the exact cross-multiplied verify
    keeps the result identical to the all-pairs definition the
    oracle computes."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.containment_pairs(docs)


@twin_query(
    "top_bigrams",
    oracle=f"""
    WITH {_NORM_CTE}
    , grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1])) AS ngram
        FROM tok_docs WHERE len(toks) >= 2
    ), counts AS (
        SELECT ngram, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY 1
    )
    SELECT ngram, n_total, n_docs, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_total DESC, ngram ASC) AS rank
        FROM counts
    ) WHERE rank <= 50
    """,
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram frequency report (operators/text.ngram_counts
    / top_ngrams): top-50 bigrams by total occurrences with document
    frequency — the statistic behind contamination thresholds and
    boilerplate detection. Map-side fold, one explode, one hash
    aggregate on the ngram key, distributed top-k."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.top_ngrams(docs)


# Document frequency threshold for the boilerplate twin: with the
# testdata's small vocabulary, >=400 of 500 docs marks the truly
# ubiquitous tokens — the documents corpus has no newlines, so the
# twin exercises the operator in its delimiter=' ' IDF-pruning mode;
# the multi-line CCNet mode is pytest-covered on a crafted fixture.
_BOILER_MIN_DOCS = 400

@twin_query(
    "boilerplate_scrub",
    oracle=f"""
    WITH lines AS (
      -- COALESCE restates the operator's NULL-text contract: a NULL
      -- document keeps its output row (as ''), it does not vanish
      -- through the unnest
      SELECT doc_id,
             unnest(string_split(COALESCE(text, ''), ' ')) AS line,
             unnest(range(len(string_split(COALESCE(text, ''), ' ')))) AS pos
      FROM documents
    ), freq AS (
      SELECT lower(trim(line)) AS line_norm, COUNT(DISTINCT doc_id) AS df
      FROM lines WHERE lower(trim(line)) <> '' GROUP BY 1
    ), boiler AS (SELECT line_norm FROM freq WHERE df >= {_BOILER_MIN_DOCS}),
    marked AS (
      SELECT l.doc_id, l.pos, l.line,
             (b.line_norm IS NULL OR lower(trim(l.line)) = '') AS keep
      FROM lines l LEFT JOIN boiler b ON lower(trim(l.line)) = b.line_norm
    )
    SELECT doc_id,
           COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep), '')
               AS clean_text,
           CAST(COUNT(*) FILTER (WHERE keep) AS INT) AS n_kept_lines,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS INT) AS n_removed_lines
    FROM marked GROUP BY doc_id
    """,
)
def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level frequent-line removal (operators/text.py
    remove_frequent_lines — the CCNet/RefinedWeb boilerplate family):
    strip lines whose document frequency reaches the threshold,
    preserving original order. posexplode fan-out, one hash agg for
    the frequency table, one equi-join on the line key, one hash agg
    to reassemble — no window, no per-doc sort."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.remove_frequent_lines(
        docs, min_docs=_BOILER_MIN_DOCS, delimiter=" "
    )


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    , corpus_ex AS (SELECT id AS corpus_id, shingle FROM ex WHERE id % 40 != 7),
    bench_ex AS (SELECT id AS bench_id, shingle FROM ex WHERE id % 40 = 7),
    bsizes AS (
        SELECT bench_id, COUNT(*) AS bench_ngrams FROM bench_ex GROUP BY bench_id
    ),
    shared AS (
        SELECT corpus_id, bench_id, COUNT(*) AS shared_ngrams
        FROM corpus_ex JOIN bench_ex USING (shingle) GROUP BY 1, 2
    )
    SELECT corpus_id, bench_id, shared_ngrams, bench_ngrams,
           ROUND(shared_ngrams * 1.0 / bench_ngrams, 4) AS coverage
    FROM shared JOIN bsizes USING (bench_id)
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set leakage scan (operators/contamination.py): every
    (corpus doc, benchmark doc) pair sharing word 3-grams, scored by
    the fraction of the benchmark doc's distinct n-grams present. The
    benchmark here is the deterministic doc_id % 40 == 7 slice playing
    the role of a held-out eval set; the corpus is everything else."""
    from bigdata_commerce_spark.operators.contamination import contamination_report

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.where(F.col("doc_id") % 40 == 7)
    corpus = docs.where(F.col("doc_id") % 40 != 7)
    return contamination_report(corpus, bench)


# Mixture config for the twin: a spread of per-source keep fractions
# incl. the edges (0 = drop source, 1 = keep all). The oracle CASE is
# generated from this same dict (mixing.mixture_oracle_case), so the
# two sides cannot drift.
_MIX_FRACTIONS = {f"src{i}": round(i / 19, 4) for i in range(20)}


def _mix_oracle() -> str:
    from bigdata_commerce_spark.operators.mixing import mixture_oracle_case

    return f"""
    SELECT doc_id, source, lang, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)
        < {mixture_oracle_case(_MIX_FRACTIONS)}
    """


@twin_query("mixture_sample", oracle=_mix_oracle())
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix sampling (operators/mixing.py): per-source keep
    fractions applied by deterministic id-hash threshold — zero
    shuffle, pure scan+filter, nested samples across fraction changes.
    Fractions here sweep 0..1 over the 20 sources (src0 dropped
    entirely, src19 kept entirely)."""
    from bigdata_commerce_spark.operators.mixing import mixture_sample as _mix

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "lang", "n_chars"
    )
    return _mix(docs, _MIX_FRACTIONS, default=0.0)


def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified Jaccard>=0.8 pairs, persisted through the bounded
    registry. dedup_ngram_jaccard, dedup_clusters and
    dedup_canonical_docs all build this frame; Spark's CacheManager
    keys cached data by canonicalized plan, so every build reads the
    one materialization the first consumer made."""
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    docs = load_table(spark, "documents", sf_dir)
    return persist_bounded(dedup.jaccard_pairs(docs, threshold=0.8))


def _minhash_sig_sql() -> str:
    # Twin of dedup's minhash signature: component i = 8-hex-char slice
    # slot i%4 of md5((i//4) || ':' || shingle).
    cols = ",\n           ".join(
        f"MIN(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS mh_{i}"
        for i in range(8)
    )
    return f"SELECT id, {cols} FROM ex GROUP BY id"


@query(
    "minhash_signatures",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    {_minhash_sig_sql()}
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-component MinHash signature per document (min of md5(i||':'||
    shingle) — fixed-width hex makes string-min == numeric-min, so the
    signature is engine-portable)."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.minhash_signatures(docs)


def _minhash_lsh_sql() -> str:
    rpb = 8 // 4
    band_selects = "\n        UNION ALL ".join(
        "SELECT id, {b} AS band, md5({concat}) AS bucket FROM sig".format(
            b=b,
            concat=" || '|' || ".join(f"mh_{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(4)
    )
    return f"""
    WITH {_SHINGLE_CTE}
    , sig AS ({_minhash_sig_sql()})
    , buckets AS (
        {band_selects}
    ), cand AS (
        SELECT DISTINCT a.id AS id1, b.id AS id2
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ), common AS (
        SELECT c.id1, c.id2, COUNT(*) AS common
        FROM cand c
        JOIN ex e1 ON e1.id = c.id1
        JOIN ex e2 ON e2.id = c.id2 AND e2.shingle = e1.shingle
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           ROUND(common * 1.0 / (sa.n_shingles + sb.n_shingles - common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = id1
    JOIN sizes sb ON sb.id = id2
    WHERE common * 1.0 / (sa.n_shingles + sb.n_shingles - common) >= 0.8
    """


@query("dedup_minhash_lsh", oracle=_minhash_lsh_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: banded bucket join for candidates,
    exact-Jaccard verify on candidates only — the scale path (cost
    follows near-dup count, not documents^2)."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.minhash_lsh_pairs(docs, bands=4)


def _simhash_sql() -> str:
    nibbles = ",\n           ".join(
        f"strpos('{dedup.HEX_DIGITS}', h[{p + 1}]) - 1 AS v{p}"
        for p in range(dedup.SIMHASH_NIBBLES)
    )
    sums = ",\n           ".join(
        f"SUM(((v{p} >> {b}) & 1) * 2 - 1) AS s{p}_{b}"
        for p in range(dedup.SIMHASH_NIBBLES)
        for b in range(4)
    )
    value = "\n         + ".join(
        f"(CASE WHEN s{p}_{b} > 0 THEN 1 ELSE 0 END) * CAST({1 << (4 * p + b)} AS BIGINT)"
        for p in range(dedup.SIMHASH_NIBBLES)
        for b in range(4)
    )
    return f"""
    WITH {_SHINGLE_CTE}
    , hashed AS (SELECT id, md5(shingle) AS h FROM ex),
    nibs AS (
        SELECT id,
           {nibbles}
        FROM hashed
    ), sums AS (
        SELECT id,
           {sums}
        FROM nibs GROUP BY id
    )
    SELECT id, {value} AS simhash
    FROM sums
    """


@query("simhash_values", oracle=_simhash_sql())
def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (nibble-arithmetic portable)."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.simhash(docs)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH sim AS ({_simhash_sql()})
    , chunks AS (
        SELECT id, simhash, c.c AS chunk_no, (simhash >> (15 * c.c)) & 32767 AS chunk
        FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) c(c)
    )
    SELECT DISTINCT a.id AS id1, b.id AS id2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_no = b.chunk_no AND a.chunk = b.chunk AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) via 15-bit chunk banding
    (pigeonhole-complete for the threshold) + bit_count verify."""
    docs = load_table(spark, "documents", sf_dir)
    return dedup.simhash_pairs(docs)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_ORACLE = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), p AS (
    SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 5
), scored AS (
    SELECT p.probe_id, v.vec_id AS corpus_id,
           ROUND(
             list_reduce(list_transform(list_zip(v.e, p.pe), q -> q[1] * q[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(v.e, x -> x * x), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(p.pe, x -> x * x), (acc, x) -> acc + x))), 4) AS score
    FROM v CROSS JOIN p
    WHERE v.vec_id != p.probe_id
)
SELECT probe_id, corpus_id, score, CAST(rank AS INT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, corpus_id ASC) AS rank
    FROM scored
) WHERE rank <= 5
"""


@query("embedding_cosine_topk", oracle=_COSINE_ORACLE)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for probe vectors (vec_id < 5):
    probes broadcast, corpus scanned once; sequential-fold dot product
    is bit-identical to the oracle's list_reduce."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, probes, k=5)


def _lsh_buckets_cte() -> str:
    """planes/v/bits/buckets CTEs shared by every sign-LSH oracle
    (ANN top-k and embedding near-dup): the seeded plane matrix is
    embedded as CAST('…' AS DOUBLE) string casts — NOT bare numeric
    literals, whose parse in DuckDB 1.0 lands 1 ULP off the true
    double for ~11% of values (the varchar->double cast is correctly
    rounded for all 1024 plane entries; measured). Sign bits come
    from the same fold the cosine oracle uses (measured min
    |projection| on the testdata is 1.7e-5, so ULP-scale noise cannot
    flip signs — but the literals should be exact regardless), then
    4-bit banding exactly as _sign_buckets."""
    import numpy as np

    planes = np.random.default_rng(42).standard_normal((16, 64))
    rows = ",\n        ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in row)
        )
        for i, row in enumerate(planes)
    )
    return f"""
    planes(plane_id, pv) AS (
        SELECT * FROM (VALUES {rows})
    ), v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), bits AS (
        SELECT vec_id,
               string_agg(
                   CASE WHEN list_reduce(
                            list_transform(list_zip(e, pv), q -> q[1] * q[2]),
                            (acc, x) -> acc + x) >= 0
                        THEN '1' ELSE '0' END,
                   '' ORDER BY plane_id) AS b
        FROM v CROSS JOIN planes GROUP BY vec_id
    ), buckets AS (
        SELECT vec_id, band, substr(b, band * 4 + 1, 4) AS bucket
        FROM bits CROSS JOIN (SELECT unnest(range(4)) AS band)
    )"""


def _ann_oracle() -> str:
    """DuckDB twin of lsh_ann_topk(num_planes=16, bands=4, dim=64,
    seed=42): shared LSH bucket CTEs, then banded bucket join + exact
    re-rank exactly as the Spark operator."""
    return f"""
    WITH {_lsh_buckets_cte()}, cand AS (
        SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS corpus_id
        FROM buckets c
        JOIN buckets p ON c.band = p.band AND c.bucket = p.bucket
        WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
    ), scored AS (
        SELECT cand.probe_id, cand.corpus_id,
               ROUND(
                 list_reduce(list_transform(list_zip(cv.e, pv2.e), q -> q[1] * q[2]), (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_transform(cv.e, x -> x * x), (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_transform(pv2.e, x -> x * x), (acc, x) -> acc + x))), 4) AS score
        FROM cand
        JOIN v cv ON cv.vec_id = cand.corpus_id
        JOIN v pv2 ON pv2.vec_id = cand.probe_id
    )
    SELECT probe_id, corpus_id, score, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, corpus_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


@query("embedding_ann_lsh", oracle=_ann_oracle())
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN (seeded planes, bucket-join
    candidates, exact re-rank) — the 100 TB-scale path. The bucketing
    is fully deterministic (seeded planes, integer banding), so the
    whole approximate pipeline is replicated in the DuckDB oracle;
    recall vs the brute-force baseline is additionally tested in
    pytest."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    return similarity.lsh_ann_topk(emb, probes)


@twin_query(
    "embedding_ann_recall",
    oracle=f"""
    WITH exact AS (
        SELECT * FROM ({_COSINE_ORACLE})
    ), approx AS (
        SELECT * FROM ({_ann_oracle()})
    )
    SELECT e.probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN a.corpus_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.probe_id = e.probe_id AND a.corpus_id = e.corpus_id
    GROUP BY e.probe_id
    """,
)
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe recall@5 of the sign-LSH ANN path against the exact
    brute-force top-5 (operators/similarity.topk_recall) — the quality
    report an approximate index ships with: at 100 TB the exact pass
    runs once over a probe SAMPLE to calibrate plane/band counts, and
    this measures whether the calibrated recall holds. Both inputs
    are top-k results (n_probes x k rows — tiny however large the
    corpus), so the report itself is one cheap equi-join + per-probe
    agg; the oracle composes the two driver-verified search oracles
    verbatim."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, probes, k=5)
    approx = similarity.lsh_ann_topk(emb, probes)
    return similarity.topk_recall(exact, approx)


def _neardup_oracle() -> str:
    """DuckDB twin of similarity.neardup_pairs: same LSH bucket CTEs,
    corpus self-join (id1 < id2) for candidates, exact-cosine verify
    thresholded on the UNROUNDED score (WHERE before ROUND)."""
    return f"""
    WITH {_lsh_buckets_cte()}, cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id
    ), scored AS (
        SELECT cand.id1, cand.id2,
               list_reduce(list_transform(list_zip(v1.e, v2.e), q -> q[1] * q[2]), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(v1.e, x -> x * x), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(v2.e, x -> x * x), (acc, x) -> acc + x))) AS raw
        FROM cand
        JOIN v v1 ON v1.vec_id = cand.id1
        JOIN v v2 ON v2.vec_id = cand.id2
    )
    SELECT id1, id2, ROUND(raw, 4) AS score FROM scored WHERE raw >= 0.45
    """


@query("embedding_neardup", oracle=_neardup_oracle())
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-duplicate pairs — the fifth
    member of the dedup family. Sign-LSH banded self-join for
    candidates (cost follows bucket collisions, never corpus^2), exact
    cosine verify at threshold 0.45 on candidates only. Deterministic
    end-to-end (seeded planes), so the full approximate pipeline is
    oracle-checked."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.neardup_pairs(emb, threshold=0.45)


_IVF_ORACLE = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
    SELECT vec_id AS centroid_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':ivf') LIMIT 16
), cscore AS (
    SELECT v.vec_id, c.centroid_id,
           ROUND(
             list_reduce(list_transform(list_zip(v.e, c.ce), q -> q[1] * q[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(v.e, x -> x * x), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(c.ce, x -> x * x), (acc, x) -> acc + x))), 4) AS s
    FROM v CROSS JOIN cent c
), cranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC
    ) AS rk
    FROM cscore
), assigned AS (
    SELECT vec_id AS corpus_id, centroid_id FROM cranked WHERE rk = 1
), probe_cells AS (
    SELECT vec_id AS probe_id, centroid_id FROM cranked
    WHERE vec_id < 5 AND rk <= 4
), cand AS (
    SELECT probe_id, corpus_id
    FROM probe_cells JOIN assigned USING (centroid_id)
    WHERE corpus_id != probe_id
), scored AS (
    SELECT cand.probe_id, cand.corpus_id,
           ROUND(
             list_reduce(list_transform(list_zip(cv.e, pv.e), q -> q[1] * q[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(cv.e, x -> x * x), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(pv.e, x -> x * x), (acc, x) -> acc + x))), 4) AS score
    FROM cand
    JOIN v cv ON cv.vec_id = cand.corpus_id
    JOIN v pv ON pv.vec_id = cand.probe_id
)
SELECT probe_id, corpus_id, score, CAST(rank AS INT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score DESC, corpus_id ASC) AS rank
    FROM scored
) WHERE rank <= 5
"""


# Cosine rounded with the engine-parity emulation of Spark's F.round
# (BigDecimal over the shortest double repr, HALF_UP): DuckDB's native
# double ROUND rounds the binary value and can flip at half
# boundaries (r8 ADVICE item — same class the quality-score oracles
# hit). Cosines are in [-1, 1], far inside the DECIMAL(38,18) range,
# and a NULL (zero-magnitude division) propagates through the casts.
_COS4 = (
    "CAST(ROUND(CAST(CAST("
    "list_reduce(list_transform(list_zip({a}, {b}), q -> q[1] * q[2]),"
    " (acc, x) -> acc + x)"
    " / (sqrt(list_reduce(list_transform({a}, x -> x * x), (acc, x) -> acc + x))"
    " * sqrt(list_reduce(list_transform({b}, x -> x * x), (acc, x) -> acc + x)))"
    " AS VARCHAR) AS DECIMAL(38,18)), {dp}) AS DOUBLE)"
)

_SEMDEDUP_ORACLE = f"""
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
    SELECT vec_id AS centroid_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':ivf') LIMIT 16
), cscore AS (
    SELECT v.vec_id, c.centroid_id,
           {_COS4.format(a="v.e", b="c.ce", dp=4)} AS s
    FROM v CROSS JOIN cent c
), assigned AS (
    SELECT vec_id, centroid_id, s FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY s DESC, centroid_id ASC
        ) AS rk
        FROM cscore WHERE s IS NOT NULL
    ) WHERE rk = 1
), mem AS (
    SELECT a.vec_id, a.centroid_id, a.s, v.e
    FROM assigned a JOIN v USING (vec_id)
), dropped AS (
    SELECT DISTINCT x.vec_id
    FROM mem x JOIN mem y
      ON x.centroid_id = y.centroid_id AND x.vec_id <> y.vec_id
    WHERE {_COS4.format(a="x.e", b="y.e", dp=6)} >= CAST('0.9' AS DOUBLE)
      AND (y.s < x.s OR (y.s = x.s AND y.vec_id < x.vec_id))
)
SELECT v.vec_id, a.centroid_id,
       a.s + CAST(0.0 AS DOUBLE) AS centroid_sim,
       (d.vec_id IS NULL) AS kept
FROM v
LEFT JOIN assigned a USING (vec_id)
LEFT JOIN dropped d USING (vec_id)
"""


@twin_query("embedding_semdedup", oracle=_SEMDEDUP_ORACLE)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023; operators/similarity.semdedup):
    md5-picked coarse clusters, within-cell dominance prune — a
    vector drops iff a >=0.9-cosine neighbor sits closer to the
    centroid (ties toward smaller id), zero-magnitude vectors always
    kept with a NULL cell. The only shuffle is the cell-keyed
    self-join; centroid sims rounded to 4dp and pair cosines to 6dp
    before any comparison (engine parity)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.semdedup(emb, tau=0.9)


@query("embedding_ann_ivf", oracle=_IVF_ORACLE)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file index) — the partition-the-corpus scale
    path next to sign-LSH: deterministic md5-picked centroids, nearest
    -cell assignment (broadcast centroids, no corpus shuffle), probes
    search their 4 nearest of 16 cells, exact re-rank of cell members
    only. At scale the assignment doubles as a partitioning key —
    probe-time scans touch nprobe/n_centroids of the corpus."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, probes)


@query("embedding_ann_ivf_indexed", oracle=_IVF_ORACLE)
def embedding_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once / search-many form of ``embedding_ann_ivf``: the
    corpus is written to parquet ``partitionBy`` cell (one broadcast
    -fold assignment pass, no shuffle), and the probe-time read prunes
    to the probes' nprobe cells at the PARTITION level — bytes scanned
    per query scale with nprobe, not corpus size. Same quantizer, same
    re-rank => same oracle as the in-memory form; the pruning itself
    is asserted in tests/test_dataops.py."""
    import os

    from bigdata_commerce_spark.operators import ivf_index

    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
        "ivf_index",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    ivf_index.write_ivf_index(emb, path, n_centroids=16)
    return ivf_index.search_ivf_index(spark, path, probes, k=5)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(sha256(text), 1, 16) AS content_sha
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched feature extraction
    (deterministic stub kernel; a real codec plugs in behind the same
    schema). The catalog projection keeps the scalar
    columns only (the driver's value hash cannot digest array cells,
    and DuckDB sha256 reproduces them exactly); the feature vector is
    shape/determinism-tested in pytest."""
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_media(docs)
    return multimodal.extract_features(media).select(
        "media_id", "n_bytes", "content_sha"
    )


_PHASH_SQL = """
WITH m AS (
    SELECT doc_id AS media_id, sha256(text) AS hx
    FROM documents WHERE text IS NOT NULL
), h AS (
    SELECT media_id,
           CASE WHEN substr(hx, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE 0 END
             + CASE WHEN substr(hx, 9, 1) IN ('8','9','a','b','c','d','e','f') THEN 2 ELSE 0 END
             + CASE WHEN substr(hx, 17, 1) IN ('8','9','a','b','c','d','e','f') THEN 4 ELSE 0 END
             + CASE WHEN substr(hx, 25, 1) IN ('8','9','a','b','c','d','e','f') THEN 8 ELSE 0 END
             + CASE WHEN substr(hx, 33, 1) IN ('8','9','a','b','c','d','e','f') THEN 16 ELSE 0 END
             + CASE WHEN substr(hx, 41, 1) IN ('8','9','a','b','c','d','e','f') THEN 32 ELSE 0 END
             + CASE WHEN substr(hx, 49, 1) IN ('8','9','a','b','c','d','e','f') THEN 64 ELSE 0 END
             + CASE WHEN substr(hx, 57, 1) IN ('8','9','a','b','c','d','e','f') THEN 128 ELSE 0 END AS phash
    FROM m
)
SELECT x.media_id AS media_a, y.media_id AS media_b,
       CAST(bit_count(CAST(xor(x.phash, y.phash) AS BIGINT)) AS INT) AS hamming
FROM h x JOIN h y
  ON x.media_id < y.media_id
 AND ((x.phash % 16) = (y.phash % 16) OR (x.phash // 16) = (y.phash // 16))
WHERE bit_count(CAST(xor(x.phash, y.phash) AS BIGINT)) <= 1
"""


@twin_query("multimodal_phash_pairs", oracle=_PHASH_SQL)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup pairs by perceptual-hash hamming distance
    (operators/multimodal.media_phash_pairs): FEATURE_DIM sign bits
    of the feature vector, pigeonhole-banded equi-joins (never a
    cross join), exact bit_count verify at hamming <= 1. The bits are
    computed from sha2 hex directly (exactly "feature >= 0.5" for the
    deterministic kernel, with no float32 round-trip), so the DuckDB
    oracle replays them nibble for nibble; the oracle's OR-banded
    brute join is the semantic spec the banded union must equal."""
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_media(docs)
    return multimodal.media_phash_pairs(media, max_hamming=1)


def _phash_wide_words_cte(m_body: str) -> str:
    """The sha-nibble -> 4x60-bit-word construction as a CTE chain,
    parameterized over the media frame (the pairs twin plants in-plan
    copies so its pair set is non-vacuous on the dup-free testdata;
    the words twin runs over the raw corpus)."""
    return _PHASH_WIDE_WORDS_TEMPLATE.format(m_body=m_body)


_PHASH_WIDE_M_PLAIN = """
    SELECT doc_id AS media_id, sha256(text) AS hx
    FROM documents WHERE text IS NOT NULL
"""

# every 7th doc gets an offset-keyed exact copy -> guaranteed
# hamming-0 pairs (only exact content collides in a 240-bit space,
# and the testdata corpus has no exact text dups)
_PHASH_WIDE_M_PLANTED = """
    SELECT doc_id AS media_id, sha256(text) AS hx
    FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + 10000000 AS media_id, sha256(text) AS hx
    FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
"""

_PHASH_WIDE_WORDS_TEMPLATE = """
m AS (
{m_body}
), nib AS (
    -- word w = the 15-nibble slice hex[16w+1 .. 16w+15] parsed as an
    -- integer (60 bits; the 16th nibble of each group is skipped so
    -- the value stays inside SIGNED int64 on both engines) — the
    -- exact construction of multimodal.media_phash_wide_det. Integer
    -- shifts, never pow() (16^14 > 2^53 would lose bits in a double)
    SELECT media_id, w, i,
           CAST(strpos('0123456789abcdef', substr(hx, 16 * w + i, 1)) - 1
                AS BIGINT) AS v
    FROM m,
         (SELECT unnest(range(4)) AS w),
         (SELECT unnest(generate_series(1, 15)) AS i)
), words AS (
    SELECT media_id, w, SUM(v << (4 * (15 - i))) AS word
    FROM nib GROUP BY media_id, w
), h AS (
    SELECT media_id,
           CAST(SUM(CASE WHEN w = 0 THEN word ELSE 0 END) AS BIGINT) AS w0,
           CAST(SUM(CASE WHEN w = 1 THEN word ELSE 0 END) AS BIGINT) AS w1,
           CAST(SUM(CASE WHEN w = 2 THEN word ELSE 0 END) AS BIGINT) AS w2,
           CAST(SUM(CASE WHEN w = 3 THEN word ELSE 0 END) AS BIGINT) AS w3
    FROM words GROUP BY media_id
)
"""


@twin_query(
    "multimodal_phash_wide",
    oracle=f"""
    WITH {_phash_wide_words_cte(_PHASH_WIDE_M_PLAIN)}
    SELECT media_id, w0, w1, w2, w3 FROM h
    """,
)
def multimodal_phash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 256-bit-class perceptual-hash WORD LAYOUT, oracle-checked
    bit-for-bit (operators/multimodal.media_phash_wide_det): 4 int64
    words per media from the content sha2 hex (a pixel-decoded hash
    cannot be SQL-oracled; this pins the multi-word construction and
    NULL contract across engines instead). Words flattened to scalar
    columns for the driver's canonicalizer."""
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_media(docs)
    h = multimodal.media_phash_wide_det(media).where(
        F.col("phash_words").isNotNull()
    )
    return h.select(
        "media_id",
        *[F.col("phash_words")[w].alias(f"w{w}") for w in range(4)],
    )


@twin_query(
    "multimodal_phash_wide_pairs",
    oracle=f"""
    WITH {_phash_wide_words_cte(_PHASH_WIDE_M_PLANTED)}
    -- DuckDB bit_count returns TINYINT: cast each term before the
    -- 4-way sum (worst case 4 x 60 bits overflows INT8)
    SELECT x.media_id AS media_a, y.media_id AS media_b,
           CAST(CAST(bit_count(xor(x.w0, y.w0)) AS INT)
              + CAST(bit_count(xor(x.w1, y.w1)) AS INT)
              + CAST(bit_count(xor(x.w2, y.w2)) AS INT)
              + CAST(bit_count(xor(x.w3, y.w3)) AS INT) AS INT) AS hamming
    FROM h x JOIN h y
      ON x.media_id < y.media_id
     AND (x.w0 = y.w0 OR x.w1 = y.w1 OR x.w2 = y.w2 OR x.w3 = y.w3)
    WHERE CAST(bit_count(xor(x.w0, y.w0)) AS INT)
        + CAST(bit_count(xor(x.w1, y.w1)) AS INT)
        + CAST(bit_count(xor(x.w2, y.w2)) AS INT)
        + CAST(bit_count(xor(x.w3, y.w3)) AS INT) <= 3
    """,
)
def multimodal_phash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the multi-word hash
    (operators/multimodal.phash_words_hamming_pairs at n_words=4,
    max_hamming=3 — each band exactly one word, array-keyed
    equi-joins, never a cross join) vs the oracle's OR-banded brute
    join as the semantic spec. In a 240-bit space only exact content
    duplicates collide (hamming 0) — the testdata corpus has none, so
    every 7th doc gets an offset-keyed exact copy planted IN-PLAN on
    both engines (~14% of the corpus -> a guaranteed non-empty pair
    set; the dup-heavy fuzz profile adds organic dup chains on top)."""
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_media(docs)
    planted = media.unionByName(
        media.where(F.col("media_id") % 7 == 0).withColumn(
            "media_id", F.col("media_id") + F.lit(10_000_000)
        )
    )
    h = multimodal.media_phash_wide_det(planted).where(
        F.col("phash_words").isNotNull()
    )
    return multimodal.phash_words_hamming_pairs(h, n_words=4, max_hamming=3)


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(64 AS INT) AS width,
           CAST(64 AS INT) AS height,
           substr(sha256(text || ':resize:64x64'), 1, 16) AS resized_sha
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize plumbing: Arrow-batched mapInPandas kernel (the
    PIL/libvips decode->resample->encode seam), deterministic stub
    fingerprint reproduced by the DuckDB oracle via sha256."""
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_media(docs)
    return multimodal.resize_media(media, width=64, height=64)


@twin_query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(i AS INT) AS frame_no,
           CAST(octet_length(encode(text)) * i // 4 AS BIGINT) AS offset_ms,
           substr(sha256(text || ':frame:' || CAST(i AS VARCHAR)), 1, 16) AS frame_sha
    FROM documents CROSS JOIN (SELECT unnest(range(4)) AS i)
    WHERE text IS NOT NULL  -- operator contract: absent media has no frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: each media row fans out to 4 evenly
    spaced frame rows INSIDE the mapInPandas kernel (no explode
    shuffle; output partitioning follows input splits). Offsets derive
    from duration (content length for the text adapter); frame
    fingerprints are deterministic and oracle-checked."""
    docs = load_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_media(docs)
    return multimodal.frame_sample(media, n_frames=4)


# ---------------------------------------------------------------------------
# Commerce-schema pipeline (reqs 1-6 on the reference's own data model).
# The seeded fixtures are persisted as parquet at import time
# (sources/commerce.ensure_commerce_fixtures) so the Spark query and
# the DuckDB oracle read the same bytes — full hash-checked oracles,
# not rows-only.
# ---------------------------------------------------------------------------

_COMMERCE_DIR = _commerce.ensure_commerce_fixtures()
_UVA = f"read_parquet('{_COMMERCE_DIR}/user_visit_action.parquet')"
_UINFO = f"read_parquet('{_COMMERCE_DIR}/user_info.parquet')"
_PINFO = f"read_parquet('{_COMMERCE_DIR}/product_info.parquet')"
_CITY = f"read_parquet('{_COMMERCE_DIR}/city_info.parquet')"


def _commerce_tables(spark: SparkSession):
    d = _COMMERCE_DIR
    t = {
        "user_visit_action": spark.read.schema(
            _commerce.USER_VISIT_ACTION_SCHEMA
        ).parquet(f"{d}/user_visit_action.parquet"),
        "user_info": spark.read.schema(_commerce.USER_INFO_SCHEMA).parquet(
            f"{d}/user_info.parquet"
        ),
        "product_info": spark.read.schema(_commerce.PRODUCT_INFO_SCHEMA).parquet(
            f"{d}/product_info.parquet"
        ),
        "city_info": spark.read.schema(
            "city_id long, city_name string, area string"
        ).parquet(f"{d}/city_info.parquet"),
    }
    return t, _commerce.normalize_actions(t["user_visit_action"])


# Reqs 1-4 share one session filter (ages 10-50), as the reference's
# SessionStat runs them off one filtered-session RDD.
_COMMERCE_ORACLE_CTE = f"""
WITH actions AS (
    SELECT session_id, user_id, page_id, search_keyword,
           CAST(action_time AS TIMESTAMP) AS action_time,
           NULLIF(click_category_id, -1) AS click_category_id,
           order_category_ids, pay_category_ids
    FROM {_UVA}
), sess AS (
    SELECT session_id,
           MIN(user_id) AS user_id,
           MIN(action_time) AS start_time,
           MAX(action_time) AS end_time,
           COUNT(*) AS step_length,
           CAST(epoch(MAX(action_time)) - epoch(MIN(action_time)) AS BIGINT)
               AS visit_length,
           list_sort(list_distinct(list(search_keyword))) AS search_keywords,
           list_sort(list_distinct(list(click_category_id))) AS click_category_ids
    FROM actions GROUP BY session_id
), filtered AS (
    SELECT s.*, u.username, u.name, u.age, u.professional, u.city, u.sex
    FROM sess s JOIN {_UINFO} u ON s.user_id = u.user_id
    WHERE u.age >= 10 AND u.age <= 50
), session_actions AS (
    SELECT * FROM actions WHERE session_id IN (SELECT session_id FROM filtered)
), cats AS (
    SELECT click_category_id AS category_id, 'click' AS kind
    FROM session_actions WHERE click_category_id IS NOT NULL
    UNION ALL
    SELECT CAST(unnest(string_split(order_category_ids, ',')) AS BIGINT), 'order'
    FROM session_actions WHERE length(order_category_ids) > 0
    UNION ALL
    SELECT CAST(unnest(string_split(pay_category_ids, ',')) AS BIGINT), 'pay'
    FROM session_actions WHERE length(pay_category_ids) > 0
), top10 AS (
    SELECT category_id,
           CAST(SUM(CASE WHEN kind = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
           CAST(SUM(CASE WHEN kind = 'order' THEN 1 ELSE 0 END) AS BIGINT) AS order_count,
           CAST(SUM(CASE WHEN kind = 'pay' THEN 1 ELSE 0 END) AS BIGINT) AS pay_count
    FROM cats GROUP BY category_id
    ORDER BY click_count DESC, order_count DESC, pay_count DESC, category_id
    LIMIT 10
)
"""


def _commerce_sessions(spark: SparkSession):
    """(actions, filtered sessions, params) for reqs 1-4."""
    from bigdata_commerce_spark.plans import commerce as C

    t, actions = _commerce_tables(spark)
    params = C.TaskParams(start_age=10, end_age=50)
    actions = C.filter_actions_by_date(actions, params)
    sessions = C.filter_sessions(C.session_full_info(actions, t["user_info"]), params)
    return actions, sessions, params


def _ratio_sql(flag: str, label: str, prefix: str) -> str:
    return (
        f"CASE WHEN COUNT(*) = 0 THEN 0.0 "
        f"ELSE ROUND(CAST(SUM({flag}) AS BIGINT) / COUNT(*), 2) END "
        f"AS {prefix}_{label}"
    )


def _session_stats_oracle() -> str:
    from bigdata_commerce_spark.functions import (
        STEP_LENGTH_BUCKETS,
        VISIT_LENGTH_BUCKETS,
    )

    def band(col: str, lo, hi) -> str:
        if hi is None:
            return f"CASE WHEN {col} >= {lo} THEN 1 ELSE 0 END"
        if lo is None:
            return f"CASE WHEN {col} <= {hi} THEN 1 ELSE 0 END"
        return f"CASE WHEN {col} BETWEEN {lo} AND {hi} THEN 1 ELSE 0 END"

    ratios = [
        _ratio_sql(band("visit_length", lo, hi), label, "visit_ratio")
        for label, lo, hi in VISIT_LENGTH_BUCKETS
    ] + [
        _ratio_sql(band("step_length", lo, hi), label, "step_ratio")
        for label, lo, hi in STEP_LENGTH_BUCKETS
    ]
    return f"""
    {_COMMERCE_ORACLE_CTE}
    SELECT COUNT(*) AS session_count, {', '.join(ratios)}
    FROM filtered
    """


@twin_query("commerce_session_stats", oracle=_session_stats_oracle())
def commerce_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference req 1 end-to-end on the commerce schema: seeded
    fixtures -> typed ingest -> session aggregate -> user join ->
    param filter -> one-row histogram (``SessionStat.scala:23-92``)."""
    from bigdata_commerce_spark.plans import commerce as C

    _, sessions, params = _commerce_sessions(spark)
    return C.session_aggr_stats(sessions, params).drop("task_id")


_AREA_TOP3_ORACLE = f"""
WITH clicks AS (
    SELECT city_id, click_product_id AS product_id
    FROM {_UVA}
    WHERE click_product_id <> -1
), counts AS (
    SELECT c.area, b.product_id, COUNT(*) AS click_count,
           array_to_string(
               list_sort(list_distinct(list(c.city_id || ':' || c.city_name))), ','
           ) AS city_infos
    FROM clicks b JOIN {_CITY} c ON b.city_id = c.city_id
    GROUP BY c.area, b.product_id
), ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY area ORDER BY click_count DESC, product_id ASC
    ) AS INT) AS rank
    FROM counts
)
SELECT r.area,
       CASE WHEN r.area IN ('North', 'East') THEN 'A'
            WHEN r.area IN ('South', 'Center') THEN 'B'
            ELSE 'C' END AS area_level,
       r.product_id,
       p.product_name,
       CASE WHEN json_extract_string(p.extend_info, '$.product_status') = '0'
            THEN 'Self' ELSE 'Third Party' END AS product_status,
       r.click_count,
       r.city_infos,
       r.rank
FROM ranked r JOIN {_PINFO} p ON r.product_id = p.product_id
WHERE r.rank <= 3
"""


@twin_query("commerce_area_top3", oracle=_AREA_TOP3_ORACLE)
def commerce_area_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference req 6 end-to-end on the commerce schema (JSON status
    decode, sorted distinct city list, area banding, top-3 window;
    ``AreaTop3Stat.scala:15-123``)."""
    from bigdata_commerce_spark.plans import commerce as C

    t, actions = _commerce_tables(spark)
    params = C.TaskParams()
    return C.area_top3_products(
        actions, t["product_info"], t["city_info"], params
    ).drop("task_id")


@twin_query(
    "commerce_session_extract",
    oracle=f"""
    {_COMMERCE_ORACLE_CTE}
    , keyed AS (
        SELECT *, CAST(start_time AS DATE) AS s_date,
               CAST(hour(start_time) AS INT) AS s_hour
        FROM filtered
    ), ranked AS (
        SELECT *,
               COUNT(*) OVER (PARTITION BY s_date, s_hour) AS hour_count,
               COUNT(*) OVER (PARTITION BY s_date) AS day_count,
               ROW_NUMBER() OVER (
                   PARTITION BY s_date, s_hour ORDER BY md5(session_id)
               ) AS pick
        FROM keyed
    )
    SELECT * EXCLUDE (hour_count, day_count, pick) FROM ranked
    WHERE pick <= GREATEST(CAST(FLOOR(hour_count * 100 / day_count) AS BIGINT), 1)
    """,
)
def commerce_session_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference req 2 on the commerce schema: proportional
    per-(day, hour) extraction of the filtered sessions, ranked on
    md5(session_id) (``SessionStat.scala:314-454``)."""
    from bigdata_commerce_spark.plans import commerce as C

    _, sessions, params = _commerce_sessions(spark)
    return C.session_random_extract(sessions, params).drop("task_id")


@twin_query(
    "commerce_top10_categories",
    oracle=f"{_COMMERCE_ORACLE_CTE} SELECT * FROM top10",
)
def commerce_top10_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference req 3 on the commerce schema: top-10 categories of
    the filtered sessions' actions by (click, order, pay) counts
    (``SessionStat.scala:241-312``)."""
    from bigdata_commerce_spark.plans import commerce as C

    actions, sessions, params = _commerce_sessions(spark)
    return C.top10_categories(
        C.actions_of_sessions(actions, sessions), params
    ).drop("task_id")


@twin_query(
    "commerce_top10_sessions",
    oracle=f"""
    {_COMMERCE_ORACLE_CTE}
    , per_session AS (
        SELECT click_category_id AS category_id, session_id,
               COUNT(*) AS click_count
        FROM session_actions
        WHERE click_category_id IN (SELECT category_id FROM top10)
        GROUP BY 1, 2
    ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY category_id ORDER BY click_count DESC, session_id
        ) AS INT) AS rank
        FROM per_session
    )
    SELECT * FROM ranked WHERE rank <= 10
    """,
)
def commerce_top10_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference req 4 on the commerce schema: per top-10 category,
    the 10 filtered sessions with the most clicks
    (``SessionStat.scala:95-161``)."""
    from bigdata_commerce_spark.plans import commerce as C

    actions, sessions, params = _commerce_sessions(spark)
    session_actions = C.actions_of_sessions(actions, sessions)
    top = C.top10_categories(session_actions, params)
    return C.top10_sessions_per_category(session_actions, top, params).drop("task_id")


# The reference's task.params.json page flow.
_COMMERCE_PAGE_FLOW = [1, 2, 3, 4, 5, 6, 7]


@twin_query(
    "commerce_page_convert_rate",
    oracle=f"""
    WITH trans AS (
        SELECT CAST(page_id AS VARCHAR) AS from_page,
               CAST(LEAD(page_id) OVER (
                   PARTITION BY session_id ORDER BY action_time, page_id
               ) AS VARCHAR) AS to_page
        FROM (SELECT session_id, page_id,
                     CAST(action_time AS TIMESTAMP) AS action_time
              FROM {_UVA})
    ), counts AS (
        SELECT from_page, to_page, COUNT(*) AS split_count
        FROM trans WHERE to_page IS NOT NULL GROUP BY 1, 2
    ), spec(from_page, to_page, step) AS (
        VALUES {", ".join(f"('{a}', '{b}', {i + 1})" for i, (a, b) in enumerate(zip(_COMMERCE_PAGE_FLOW, _COMMERCE_PAGE_FLOW[1:])))}
    ), start AS (
        SELECT COUNT(*) AS start_count FROM {_UVA}
        WHERE page_id = {_COMMERCE_PAGE_FLOW[0]}
    )
    SELECT CAST(spec.step AS INT) AS step,
           spec.from_page || '_' || spec.to_page AS split,
           COALESCE(counts.split_count, 0) AS split_count,
           CASE WHEN start_count = 0 THEN 0.0
                ELSE ROUND(COALESCE(counts.split_count, 0) * 1.0 / start_count, 2)
           END AS rate_vs_start
    FROM spec LEFT JOIN counts USING (from_page, to_page) CROSS JOIN start
    """,
)
def commerce_page_convert_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference req 5 on the commerce schema: single-step conversion
    rates along the page flow (``PageOneStepConvertRate.scala:44-99``)."""
    from bigdata_commerce_spark.plans import commerce as C

    _, actions = _commerce_tables(spark)
    params = C.TaskParams(target_page_flow=_COMMERCE_PAGE_FLOW)
    actions = C.filter_actions_by_date(actions, params)
    return C.page_convert_rate(spark, actions, params).drop("task_id")


# ---------------------------------------------------------------------------
# Dedup clustering, splits, tokenization, skew
# ---------------------------------------------------------------------------


# Jaccard>=0.8 transitive-closure clusters as a recursive CTE —
# shared by the dedup_clusters driver oracle and the canonical-doc
# twin (same fixpoint, no drift).
_CLUSTERS_CTE = f"""
{_SHINGLE_CTE}
, common AS (
    SELECT a.id AS id1, b.id AS id2, COUNT(*) AS common
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), pairs AS (
    SELECT id1, id2 FROM common
    JOIN sizes sa ON sa.id = id1
    JOIN sizes sb ON sb.id = id2
    WHERE common * 1.0 / (sa.n_shingles + sb.n_shingles - common) >= 0.8
), sym AS (
    SELECT id1 AS a, id2 AS b FROM pairs
    UNION SELECT id2, id1 FROM pairs
), reach AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), clusters AS (
    SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
)
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CLUSTERS_CTE.strip()}
    SELECT doc_id, cluster_id FROM clusters
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over Jaccard>=0.8 pairs
    via iterative min-label propagation (operators/dedup_cluster.py) —
    a genuinely iterative algorithm; the oracle reaches the same
    fixpoint with a recursive CTE."""
    from bigdata_commerce_spark.operators.dedup_cluster import connected_components

    docs = load_table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_cached(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("id"))
    out = connected_components(nodes, pairs)
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


@query(
    "train_test_split",
    oracle=f"""
    WITH {_NORM_CTE}
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1)
                     IN ('0', '1', '2', '3')
                THEN 'test' ELSE 'train' END AS split
    FROM norm_docs
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% holdout: first hex nibble of
    md5(id || ':split') < '4' — exact 4/16 fraction, stable across
    runs/engines/partitionings (no rand())."""
    docs = load_table(spark, "documents", sf_dir)
    nib = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 1)
    return docs.select(
        "doc_id",
        F.when(nib.isin("0", "1", "2", "3"), "test").otherwise("train").alias("split"),
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0b\f\r]"


@query(
    "bpe_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INT) AS bpe_tokens,
           CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS INT) AS ws_tokens
    FROM documents
    """,
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (the pipeline's cost estimator):
    whitespace tokens and a BPE-ish pre-tokenizer regex (letter runs /
    single digits / punctuation), both in-plan."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))).alias(
            "bpe_tokens"
        ),
        F.size(F.split(F.trim(F.col("text")), text_ops.ASCII_WS)).alias("ws_tokens"),
    )


_TOKEN_ECON_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(COALESCE(text, ''), '{_BPE_PATTERN}'))
                ) AS BIGINT) AS bpe_tokens,
       CAST(SUM(strlen(COALESCE(text, ''))) AS BIGINT) AS n_bytes,
       (CAST(SUM(len(regexp_extract_all(COALESCE(text, ''), '{_BPE_PATTERN}'))
                 ) AS DOUBLE) * 1024.0)
           / NULLIF(CAST(SUM(strlen(COALESCE(text, ''))) AS DOUBLE), 0.0)
           AS bpe_tokens_per_kb
FROM documents
GROUP BY lang
"""


@query("corpus_token_economics", oracle=_TOKEN_ECON_SQL)
def corpus_token_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — the mixture-budgeting
    data-card row (tokens-per-byte drives how many corpus bytes buy a
    token budget, and a language whose fertility is off signals an
    encoding or tokenizer-fit problem): document count, BPE-ish token
    total, byte total (octet_length — bytes, not codepoints), and
    tokens per KiB. One scan, one tiny per-language aggregate; NULL
    lang is its own observable group. Float parity: the ratio is
    (double)sum*1024.0/(double)sum — two IEEE ops with identical
    parenthesization in both engines, no ROUND surface; NULL for a
    zero-byte language on both (try_divide <-> NULLIF)."""
    docs = load_table(spark, "documents", sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    per_doc = docs.select(
        "lang",
        F.size(F.regexp_extract_all(t, F.lit(_BPE_PATTERN), F.lit(0))).alias("__bpe"),
        F.octet_length(t).alias("__bytes"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("__bytes").cast("bigint").alias("n_bytes"),
        F.try_divide(
            F.sum("__bpe").cast("double") * F.lit(1024.0),
            F.sum("__bytes").cast("double"),
        ).alias("bpe_tokens_per_kb"),
    )


@twin_query(
    "ad_launch_window_counts",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    , windows AS (
        SELECT ad_id, MIN(ts) AS window_start,
               MIN(ts) + INTERVAL 2 HOUR AS window_end
        FROM events_n GROUP BY ad_id
    )
    SELECT w.ad_id, w.window_start, w.window_end,
           COUNT(*) AS events_in_window
    FROM windows w JOIN events_n e
      ON e.ad_id = w.ad_id
     AND e.ts >= w.window_start AND e.ts <= w.window_end
    GROUP BY 1, 2, 3
    """,
)
def ad_launch_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/range_join.py): events matched into each
    ad's first-2-hours launch window via bucketized interval join —
    time quantized to buckets, intervals exploded to covered buckets,
    one equi shuffle on (ad_id, bucket), exact BETWEEN on candidates —
    instead of the planner's broadcast-nested-loop for the raw
    non-equi predicate."""
    from bigdata_commerce_spark.operators.cache_util import persist_bounded
    from bigdata_commerce_spark.operators.range_join import range_join

    # Both the window build (min per ad) and the probe side read the
    # same narrow (ad_id, ts) projection; persisting it (bounded
    # registry) halves the event scans and runs the JSON ad_id
    # extraction once instead of twice — measured ~2x at sf0.1. At
    # scale this is the guide's "fingerprints only" pattern: the
    # 12-byte projection spills to disk cache, never re-reads raw.
    ev = persist_bounded(_events(spark, sf_dir).select("ad_id", "ts"))
    windows = ev.groupBy("ad_id").agg(F.min("ts").alias("window_start")).withColumn(
        "window_end", F.col("window_start") + F.expr("INTERVAL 2 HOURS")
    )
    joined = range_join(
        ev, windows, ts_col="ts",
        start_col="window_start", end_col="window_end", bucket_seconds=3600,
    )
    return joined.groupBy("ad_id", "window_start", "window_end").agg(
        F.count(F.lit(1)).alias("events_in_window")
    )


_ROLLUP_LEVEL_SQL = """
SELECT '{lvl}' AS level, date_trunc('{lvl}', ts) AS bucket, province,
       COUNT(*) AS event_count,
       CAST(SUM(ad_id) AS BIGINT) AS value_sum
FROM events_n GROUP BY 2, 3
"""


@query(
    "event_rollup_ladder",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    {_ROLLUP_LEVEL_SQL.format(lvl="minute")}
    UNION ALL {_ROLLUP_LEVEL_SQL.format(lvl="hour")}
    UNION ALL {_ROLLUP_LEVEL_SQL.format(lvl="day")}
    """,
)
def event_rollup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate ladder
    (operators/rollup_hierarchy.py): minute aggregates from raw,
    hour from minute, day from hour — coarse levels cost
    finer-table I/O, never a raw re-scan. The oracle computes every
    level DIRECTLY from raw, so the hash match proves the
    re-aggregation algebra is lossless at each step."""
    from bigdata_commerce_spark.operators.rollup_hierarchy import rollup_ladder

    ev = _events(spark, sf_dir)
    ladder = rollup_ladder(ev)
    out = None
    for lvl, df in ladder.items():
        tagged = df.select(
            F.lit(lvl).alias("level"), "bucket", "province", "event_count",
            F.col("value_sum").cast("bigint").alias("value_sum"),
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


@query(
    "heavy_hitter_users",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    , counts AS (
        SELECT user_id, COUNT(*) AS event_count FROM events_n GROUP BY user_id
    )
    SELECT user_id, event_count, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            ORDER BY event_count DESC, user_id ASC
        ) AS INT) AS rank
        FROM counts
    ) WHERE rank <= 10
    """,
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 users by event count: one partial/final count
    aggregate, then ``topk.rank_top_m`` (TakeOrderedAndProject, the
    ranking window over 10 rows). Building it submits no Spark job
    beyond the parquet open."""
    from bigdata_commerce_spark.operators.topk import rank_top_m

    counts = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("event_count")
    )
    return rank_top_m(
        counts, [F.desc("event_count"), F.asc("user_id")], 10
    ).select("user_id", "event_count", "rank")


@twin_query(
    "salted_user_event_counts",
    oracle=f"""
    WITH {_EVENTS_ORACLE_CTE}
    SELECT user_id, COUNT(*) AS n FROM events_n GROUP BY user_id
    """,
)
def salted_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event count as the plain aggregate. count(*) is
    combined map-side, so a hot user reaches the shuffle as one
    partial per map task; a salted (user, salt) two-phase aggregate
    could only add a second aggregate. It lost at every size
    measured (median cold build + collect over 11 alternating pairs,
    local[4], 4-core VM): sf0.01 0.42 -> 0.29 s, sf0.1 0.57 -> 0.41 s,
    and the 10x corpus of ``scale_probe.py`` 1.22 -> 0.67 s."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))


@twin_query(
    "incremental_dedup_novel",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
        FROM documents
    ), half1 AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
    batch AS (
        SELECT fp, MIN(doc_id) AS doc_id
        FROM fp WHERE doc_id >= 250 GROUP BY fp
    )
    SELECT b.doc_id, b.fp, substr(b.fp, 1, 2) AS fp_prefix
    FROM batch b LEFT JOIN half1 h USING (fp)
    WHERE h.fp IS NULL
    """,
)
def incremental_dedup_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a persisted fingerprint store
    (operators/incremental_dedup.py): commit the first half of the
    corpus, then ask which second-half documents are NOVEL relative to
    the store — the ingest-loop question batch dedup can't answer
    without rescanning history. Store reads are partition-pruned by
    md5 prefix (asserted in tests/test_incremental_dedup.py); the
    oracle is the equivalent one-shot set difference."""
    import hashlib
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from bigdata_commerce_spark.operators import incremental_dedup as inc

    docs = load_table(spark, "documents", sf_dir)
    # One deterministic store per (sf_dir, process), REBUILT per call
    # (cheap at twin scale) — not mkdtemp (which would leak a dir per
    # invocation), and pid-suffixed so two concurrent harness runs
    # can never rmtree each other's live store mid-job.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = Path(tempfile.gettempdir()) / f"bcs_fpstore_twin_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    store = str(root / "store")
    inc.init_store(spark, store)
    inc.commit_batch(docs.where(F.col("doc_id") < 250), store)
    return inc.novel_documents(docs.where(F.col("doc_id") >= 250), store)


@twin_query(
    "source_capped_docs",
    oracle="""
    SELECT doc_id, source, CAST(rnk AS INT) AS source_rank
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8),
                            doc_id
               ) AS rnk
        FROM documents
    ) WHERE rnk <= 20
    """,
)
def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source quota cap (operators/mixing.cap_per_source):
    at most 20 documents per source, selected by the deterministic
    salted-id hash rank — the per-domain cap of crawl curation. One
    shuffle on source + a ranking window; order is partitioning-
    independent so the DuckDB oracle reproduces it exactly."""
    from bigdata_commerce_spark.operators.mixing import cap_per_source

    docs = load_table(spark, "documents", sf_dir)
    return cap_per_source(docs, quota=20).select("doc_id", "source", "source_rank")


@twin_query(
    "token_budget_docs",
    oracle=f"""
    WITH {_NORM_CTE}
    , counted AS (
        SELECT t.doc_id, d.source,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix'), 1, 8) AS h
        FROM tok_docs t JOIN documents d ON t.doc_id = d.doc_id
    ), runs AS (
        SELECT doc_id, source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM counted
    )
    SELECT doc_id, source, n_tokens, tokens_before
    FROM runs WHERE tokens_before < 800
    """,
)
def token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN budget cap (operators/mixing.
    token_budget_per_source): keep ~800 tokens of documents per
    source, filled in the deterministic salted-id hash order — the
    token-denominated mixture cap training recipes actually specify
    (row quotas are the wrong unit when document lengths vary). Keep
    rule is ``tokens_before < budget`` (exclusive prefix), so every
    source survives with at least one document and overshoots by
    less than one document. One shuffle on source + a narrow-key
    running-sum window; order is partitioning-independent so the
    DuckDB oracle reproduces it exactly."""
    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        "source",
        F.size(text_ops.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return token_budget_per_source(counted, budget=800)


@twin_query(
    "token_budget_fill",
    oracle=f"""
    WITH {_NORM_CTE}
    , counted AS (
        SELECT t.doc_id, d.source,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix'), 1, 8) AS h
        FROM tok_docs t JOIN documents d ON t.doc_id = d.doc_id
    ), runs AS (
        SELECT doc_id, source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM counted
    ), kept AS (
        SELECT * FROM runs WHERE tokens_before < 800
    ), rep AS (
        SELECT source,
               CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
               CAST(COUNT(*) AS BIGINT) AS kept_rows
        FROM kept GROUP BY source
    ), avail AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS available_rows
        FROM counted GROUP BY source
    )
    SELECT COALESCE(a.source, r.source) AS source,
           CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(COALESCE(r.kept_rows, 0) AS BIGINT) AS kept_rows,
           CAST(800 AS BIGINT) AS budget_tokens,
           CAST(COALESCE(a.available_rows, 0) AS BIGINT) AS available_rows,
           (COALESCE(r.kept_rows, 0) < COALESCE(a.available_rows, 0))
               AND ((COALESCE(r.kept_tokens, 0) < 800)
                    OR COALESCE(r.kept_rows, 0) = 0) AS underfilled
    FROM avail a FULL JOIN rep r ON r.source IS NOT DISTINCT FROM a.source
    """,
)
def token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime underfill detector over the 800-token budget run
    (operators/mixing.token_budget_fill_report with ``available`` =
    the full counted input): per source, kept tokens/rows next to the
    budget and an ``underfilled`` flag that fires when rows were left
    behind AND the kept set is under budget or empty — the signal
    that automates the mixture_sample pre-thin escape hatch (VERDICT
    r9 item 4). Full-outer over both sides (ADVICE r10 item 1 / r11
    item 2) so a fully-starved source still surfaces with
    ``kept_rows=0`` / ``underfilled=true`` and a kept-only source
    surfaces with ``available_rows=0``; the join is null-safe so a
    NULL-source group matches itself, the same contract on both
    engines. One tiny aggregation per side (<= n_sources output
    rows)."""
    from bigdata_commerce_spark.operators.mixing import (
        token_budget_fill_report,
        token_budget_per_source,
    )

    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        "source",
        F.size(text_ops.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    kept = token_budget_per_source(counted, budget=800)
    return token_budget_fill_report(kept, 800, available=counted)


@twin_query(
    "length_bucketed_docs",
    oracle=f"""
    WITH {_NORM_CTE}
    , counted AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok_docs
    ), bounds AS (
        SELECT ROUND(quantile_cont(n_tokens, 0.25), 6) AS b1,
               ROUND(quantile_cont(n_tokens, 0.5), 6) AS b2,
               ROUND(quantile_cont(n_tokens, 0.75), 6) AS b3
        FROM counted
    ), bucketed AS (
        SELECT doc_id, n_tokens,
               CAST(1 + (CASE WHEN n_tokens > b1 THEN 1 ELSE 0 END)
                      + (CASE WHEN n_tokens > b2 THEN 1 ELSE 0 END)
                      + (CASE WHEN n_tokens > b3 THEN 1 ELSE 0 END) AS INT) AS bucket
        FROM counted CROSS JOIN bounds
    )
    SELECT doc_id, n_tokens, bucket,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY bucket
               ORDER BY substr(md5(doc_id || ':shuf'), 1, 16), doc_id
           ) - 1 AS BIGINT) AS pos
    FROM bucketed
    """,
)
def length_bucketed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching index (operators/packing.
    length_bucketed_index): 4 token-length quantile buckets + a dense
    0-based shuffled position within each — the data-loader prep that
    minimizes padding waste (batch k of bucket b = positions
    [k*batch, (k+1)*batch), length-homogeneous by construction).
    Boundaries are exact interpolated percentiles rounded to 6dp on
    both engines (the exact_price_percentiles parity) so integer-vs-
    boundary comparisons cannot flip on interpolation ULPs; positions
    come from the two-level hash-prefix prefix sum
    (sources/shards.with_group_shuffled_index) so there is NO
    single-reducer-per-bucket stage — the oracle's plain per-bucket
    ROW_NUMBER proves the two-level construction equals the global
    hash order. NULL-token docs land deterministically in bucket 1."""
    from bigdata_commerce_spark.operators.packing import length_bucketed_index

    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        F.size(text_ops.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return length_bucketed_index(counted).select(
        "doc_id", "n_tokens", "bucket", "pos"
    )


@twin_query(
    "temperature_token_mix",
    oracle=f"""
    WITH {_NORM_CTE}
    , counted AS (
        SELECT t.doc_id, d.source,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix'), 1, 8) AS h
        FROM tok_docs t JOIN documents d ON t.doc_id = d.doc_id
    ), weights AS (
        -- tau=0.5 weight = isqrt(source token total): FLOOR over the
        -- correctly-rounded IEEE sqrt of a BIGINT equals python's
        -- math.isqrt at these magnitudes, so both engines derive the
        -- SAME integer weight (zero float surface past this point).
        -- NULL-provenance docs carry no budget AND no weight — they
        -- must not inflate SUM(w) (the engine excludes them from the
        -- totals dict the same way; fuzz corpus plants NULL sources).
        -- A source whose EVERY doc has NULL text sums to a NULL total
        -- that would poison SUM(w) — the HAVING drops it, exactly as
        -- the engine skips NULL totals (ADVICE r9 item 1).
        SELECT source, CAST(FLOOR(SQRT(SUM(n_tokens))) AS BIGINT) AS w
        FROM counted WHERE source IS NOT NULL GROUP BY source
        HAVING SUM(n_tokens) IS NOT NULL
    ), budgets AS (
        SELECT source,
               CAST((8000 * w) // (SELECT SUM(w) FROM weights) AS BIGINT) AS b
        FROM weights
    ), runs AS (
        SELECT doc_id, c.source, n_tokens, b,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY c.source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM counted c JOIN budgets USING (source)
    )
    SELECT doc_id, source, n_tokens, tokens_before
    FROM runs WHERE tokens_before < b
    """,
)
def temperature_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end temperature mixing in TOKEN units: measure each
    source's token total (one hash agg, <= n_sources rows collected —
    bounded by design), derive tau=0.5 per-source budgets from a
    global 8000-token budget, and prefix-fill each source to ITS
    budget (operators/mixing.token_budget_per_source with dict
    budgets). Engine-exact by construction: weights are integer
    isqrt of BIGINT totals and budgets integer-divide — the same
    zero-float-surface discipline as the curation recipes — so the
    DuckDB oracle (FLOOR(SQRT()) + //) reproduces the kept set
    bit-for-bit."""
    import math

    from bigdata_commerce_spark.operators.mixing import token_budget_per_source

    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        "source",
        F.size(text_ops.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    # NULL-provenance documents carry no budget and are dropped —
    # exactly the oracle's `JOIN budgets USING (source)` semantics
    # (a NULL key never matches); the fuzz corpus plants NULL sources
    # so this branch is differentially tested, not decorative. A
    # source whose EVERY doc has NULL text sums to a NULL token total
    # (ANSI size(NULL) is NULL, SUM of all-NULL is NULL) — skip it,
    # matching the oracle's HAVING guard (ADVICE r9 item 1).
    totals = {
        r["source"]: int(r["t"])
        for r in counted.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
        if r["source"] is not None and r["t"] is not None
    }
    w = {s: math.isqrt(t) for s, t in totals.items()}
    total_w = sum(w.values())
    budgets = {s: (8000 * w[s]) // total_w for s in w}
    return token_budget_per_source(counted, budgets)


@twin_query(
    "cross_corpus_links",
    oracle=f"""
    WITH {_SHINGLE_CTE}
    , l_ex AS (SELECT id AS lid, shingle FROM ex WHERE id < 250),
    r_ex AS (SELECT id AS rid, shingle FROM ex WHERE id >= 250),
    l_sz AS (SELECT id AS lid, n_shingles AS n1 FROM sizes WHERE id < 250),
    r_sz AS (SELECT id AS rid, n_shingles AS n2 FROM sizes WHERE id >= 250),
    common AS (
        SELECT lid, rid, COUNT(*) AS c
        FROM l_ex JOIN r_ex USING (shingle) GROUP BY 1, 2
    )
    SELECT lid AS left_id, rid AS right_id,
           ROUND(c * 1.0 / (n1 + n2 - c), 4) AS jaccard
    FROM common JOIN l_sz USING (lid) JOIN r_sz USING (rid)
    WHERE 5 * c >= 4 * (n1 + n2 - c)
    """,
)
def cross_corpus_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fuzzy match (operators/dedup.similarity_join):
    which documents of the second half of the corpus near-duplicate a
    first-half document at 3-gram Jaccard >= 0.8 — entity resolution
    across two corpora riding the unchanged PPJoin prefix pipeline
    via the side-tagged id encoding."""
    from bigdata_commerce_spark.operators.dedup import similarity_join

    docs = load_table(spark, "documents", sf_dir)
    return similarity_join(
        docs.where(F.col("doc_id") < 250),
        docs.where(F.col("doc_id") >= 250),
        threshold=0.8,
    )


@twin_query(
    "documents_global_index",
    oracle="""
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
    FROM documents
    """,
)
def documents_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global numbering by doc_id order
    (sources/shards.with_global_index): two-level bucketed prefix sum,
    never a one-partition global window — the distributed
    zipWithIndex replacement that also addresses the shard exporter."""
    from bigdata_commerce_spark.sources.shards import with_global_index

    docs = load_table(spark, "documents", sf_dir)
    return with_global_index(docs).select("doc_id", "idx")


@twin_query(
    "documents_shuffled_index",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY CAST(concat('0x', substr(md5(doc_id || ':shuf'), 1, 15))
                        AS BIGINT),
                        doc_id
           ) - 1 AS BIGINT) AS idx
    FROM documents
    """,
)
def documents_shuffled_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global shuffle order (shards.with_shuffled_index): a
    reproducible pseudo-random permutation index — the
    shuffle-before-sharding step, engine-portable (DuckDB reproduces
    the md5 order key exactly) and free of rand()/partitioning
    dependence. Same two-level prefix sum as the dense index."""
    from bigdata_commerce_spark.sources.shards import with_shuffled_index

    docs = load_table(spark, "documents", sf_dir)
    return with_shuffled_index(docs).select("doc_id", "idx")


# Shared by the bm25 twin and the hybrid-search fusion oracle (same
# 3-term query, same k1/b constants, same round-8dp-then-decimal-sum
# determinism discipline).
_BM25_CTE = r"""
tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
                       x -> x <> '') AS toks
    FROM documents
), dl AS (
    SELECT doc_id, len(toks) AS dl, toks FROM tok
), stats AS (
    SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
), m AS (
    SELECT doc_id, dl, unnest(toks) AS term FROM dl
), tf AS (
    SELECT doc_id, dl, term, COUNT(*) AS tf
    FROM m WHERE term IN ('spark', 'shuffle', 'join')
    GROUP BY 1, 2, 3
), dfq AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), bm AS (
    SELECT doc_id,
           CAST(ROUND(SUM(CAST(ROUND(
               ln(1 + (n - df + 0.5) / (df + 0.5)) *
               tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           , 8) AS DECIMAL(20,8))), 6) AS DOUBLE) AS bm25
    FROM tf JOIN dfq USING (term) CROSS JOIN stats
    GROUP BY doc_id
)
"""


@query(
    "bm25_doc_scores",
    oracle=f"WITH {_BM25_CTE.strip()} SELECT doc_id, bm25 FROM bm",
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every matching document against a
    3-term query (operators/bm25.py) — query-driven quality filtering
    for training corpora. The oracle replays the exact formulation
    (same k1/b constants, per-term contributions rounded to 8 dp then
    decimal-summed, so libm 1-ulp ln() differences and float sum
    order cannot drift the hash)."""
    from bigdata_commerce_spark.operators.bm25 import bm25_scores

    docs = load_table(spark, "documents", sf_dir)
    return bm25_scores(docs, ["spark", "shuffle", "join"])


# Shared CTE: the int8 quantization replay (identical in the array-
# shaped twin and the flattened driver form below).
_QUANTIZE_CTE = """
    s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
        FROM embeddings
    ), q AS (
        SELECT vec_id,
               CAST(ROUND(sc, 8) AS DOUBLE) AS qscale_r,
               CASE WHEN sc > 0
                    THEN list_transform(embedding,
                         x -> CAST(ROUND(CAST(x AS DOUBLE) / sc) AS TINYINT))
                    ELSE list_transform(embedding, x -> CAST(0 AS TINYINT))
               END AS qvec
        FROM s
    )
"""


@twin_query(
    "embeddings_quantized_vec",
    oracle=f"WITH {_QUANTIZE_CTE} SELECT vec_id, qscale_r, qvec FROM q",
)
def embeddings_quantized_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus
    (operators/quantize.py) — codes must be BIT-identical to the
    oracle's double-precision replay (float->double casts before any
    arithmetic, round-half-away in both engines). Array-shaped form:
    a permanent twin — the driver's pandas canonicalizer cannot hash
    top-level arrays (CORRECTNESS_r06 red rows), so driver slots get
    the flattened `embeddings_quantized` below."""
    from bigdata_commerce_spark.operators.quantize import quantize_embeddings

    emb = load_table(spark, "embeddings", sf_dir)
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id", F.round("qscale", 8).alias("qscale_r"), "qvec"
    )


@twin_query(
    "embeddings_quantized",
    oracle=f"""
    WITH {_QUANTIZE_CTE}
    SELECT vec_id, qscale_r,
           CAST(g.i - 1 AS INT) AS dim_idx,
           qvec[g.i] AS qvalue
    FROM q, LATERAL (SELECT UNNEST(generate_series(1, len(qvec))) AS i) g
    """,
)
def embeddings_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-slot form of the int8 quantization: one scalar row per
    (vector, dimension) — `posexplode` of the code array — because the
    driver's pandas canonicalizer cannot sort/hash top-level array
    columns (the r6 red rows). Values are the SAME bit-exact codes as
    `embeddings_quantized_vec`; row-identity between the two shapes is
    pytest-asserted."""
    from bigdata_commerce_spark.operators.quantize import quantize_embeddings

    emb = load_table(spark, "embeddings", sf_dir)
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("qscale", 8).alias("qscale_r"),
        F.posexplode("qvec").alias("dim_idx", "qvalue"),
    )


# The Laplace-smoothed char-bigram LM replay, parameterized by a
# suffix so a second model (e.g. DSIR's target LM) can coexist in one
# query. The self-perplexity nll CTE (`nll_docs`) reuses the '' model.
def _bigram_lm_cte(suffix: str = "", source_filter: str = "") -> str:
    s = suffix
    return f"""
    low{s} AS (
        SELECT doc_id, lower(text) AS t FROM documents
        WHERE length(lower(text)) > 1 {source_filter}
    ), bg{s} AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, length(t) - 1),
                                     i -> substr(t, i, 2))) AS bg
        FROM low{s}
    ), counts{s} AS (
        SELECT bg, COUNT(*) AS c FROM bg{s} GROUP BY 1
    ), tot{s} AS (
        SELECT SUM(c) AS T, COUNT(*) AS V FROM counts{s}
    ), lm{s} AS (
        SELECT bg, ROUND(ln((c + 1) / (T + V + 1)), 8) AS lp
        FROM counts{s} CROSS JOIN tot{s}
    )
    """


_NLL_DOCS_CTE = f"""
    {_bigram_lm_cte()},
    nll_docs AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               -- inner sum cast via VARCHAR: scale-8 decimal->double
               -- double-rounds past 2^53/1e8 ~ 9e7 (a ~10 MB document's
               -- log-prob sum reaches it)
               CAST(ROUND(
                   -CAST(CAST(SUM(CAST(COALESCE(lp, ROUND(ln(1 / (T + V + 1)), 8))
                                  AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6)
               AS DOUBLE) AS nll
        FROM bg LEFT JOIN lm USING (bg) CROSS JOIN tot
        GROUP BY doc_id
    )
"""


@query(
    "doc_char_bigram_nll",
    oracle=f"WITH {_NLL_DOCS_CTE} SELECT * FROM nll_docs",
)
def doc_char_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores (operators/lm_quality.py):
    self-perplexity of every document under the corpus's own
    Laplace-smoothed char-bigram model, replayed exactly by the
    oracle (8dp-rounded log-probs, decimal sums)."""
    from bigdata_commerce_spark.operators.lm_quality import char_bigram_nll

    docs = load_table(spark, "documents", sf_dir)
    return char_bigram_nll(docs)


@twin_query(
    "docs_bloom_semi",
    oracle="""
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id IN (SELECT vec_id FROM embeddings WHERE label % 3 = 0)
    """,
)
def docs_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned EXACT semi join (operators/bloom.py): documents
    that have an embedding with label % 3 = 0. The Bloom filter of the
    key side broadcasts and eliminates non-members map-side; the exact
    semi join then sees only true members + the fpp sliver — identical
    rows to the plain semi join, which is precisely what the oracle
    checks."""
    from bigdata_commerce_spark.operators.bloom import bloom_semi_join

    docs = load_table(spark, "documents", sf_dir)
    keys = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("label") % 3 == 0)
        .select("vec_id")
    )
    return bloom_semi_join(docs, keys, "doc_id", "vec_id")


@twin_query(
    "docs_bloom_anti",
    oracle="""
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (
        SELECT 1 FROM embeddings e
        WHERE e.label % 3 = 0 AND e.vec_id = d.doc_id
    )
    """,
)
def docs_bloom_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated EXACT anti join (operators/bloom.py): rows
    the filter rejects are definitely absent and pass through
    map-side; only the fpp sliver reaches the exact anti join. The
    incremental-dedup accelerator shape for fingerprint stores beyond
    broadcast size."""
    from bigdata_commerce_spark.operators.bloom import bloom_anti_join

    docs = load_table(spark, "documents", sf_dir)
    keys = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("label") % 3 == 0)
        .select("vec_id")
    )
    return bloom_anti_join(docs, keys, "doc_id", "vec_id")


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between table versions)
# ---------------------------------------------------------------------------

# Two simulated versions of the events table: v1 drops every
# event_id % 10 == 3 row; v2 drops event_id % 7 == 2 and doubles
# `value` where event_id % 5 == 0 (exact in binary floating point,
# so Spark and DuckDB compute bit-identical doubles).
_DIFF_VERSIONS_CTE = """
old AS (
    SELECT event_id, user_id, value FROM events WHERE event_id % 10 != 3
), new AS (
    SELECT event_id, user_id,
           CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END AS value
    FROM events WHERE event_id % 7 != 2
)
"""


def _diff_versions(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    old = ev.where(F.col("event_id") % 10 != 3)
    new = ev.where(F.col("event_id") % 7 != 2).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    return old, new


@twin_query(
    "events_snapshot_diff",
    oracle=f"""
    WITH {_DIFF_VERSIONS_CTE.strip()}
    SELECT COALESCE(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'insert'
                WHEN n.event_id IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.user_id AS old_user_id, o.value AS old_value,
           n.user_id AS new_user_id, n.value AS new_value
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    WHERE o.event_id IS NULL OR n.event_id IS NULL
       OR o.user_id IS DISTINCT FROM n.user_id
       OR o.value IS DISTINCT FROM n.value
    """,
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/diff.table_diff): the
    insert/update/delete change feed between two simulated versions
    of `events` — ONE narrow full-outer key join, unchanged rows
    dropped before anything downstream (module docstring has the
    100 TB shape). `apply_changes(old, feed) == new` round-trip is
    pinned in tests/test_diff.py."""
    from bigdata_commerce_spark.operators.diff import table_diff

    old, new = _diff_versions(spark, sf_dir)
    return table_diff(old, new, keys=["event_id"])


# ---------------------------------------------------------------------------
# Table profiling (data-card discovery)
# ---------------------------------------------------------------------------

def _profile_branch_sql(col: str, kind: str) -> str:
    """One UNION-ALL branch of the profiler oracle — same stat
    formulas as operators/profile.py, per column kind."""
    if kind == "num":
        min_num = f"CAST(MIN({col}) AS DOUBLE)"
        max_num = f"CAST(MAX({col}) AS DOUBLE)"
        mean = (
            f"CAST(ROUND(CAST(SUM(CAST({col} AS DECIMAL(38,6))) AS DOUBLE)"
            f" / COUNT({col}), 6) AS DOUBLE)"
        )
        min_str = max_str = "CAST(NULL AS VARCHAR)"
    else:
        min_num = max_num = mean = "CAST(NULL AS DOUBLE)"
        if kind == "ts":
            min_str = f"strftime(MIN({col}), '%Y-%m-%d %H:%M:%S')"
            max_str = f"strftime(MAX({col}), '%Y-%m-%d %H:%M:%S')"
        else:
            min_str, max_str = f"MIN({col})", f"MAX({col})"
    return f"""
    SELECT '{col}' AS "column", COUNT(*) AS n_rows,
           COUNT({col}) AS n_nonnull,
           COUNT(*) - COUNT({col}) AS n_null,
           COUNT(DISTINCT {col}) AS n_distinct,
           {min_num} AS min_num, {max_num} AS max_num,
           {min_str} AS min_str, {max_str} AS max_str,
           {mean} AS mean
    FROM events"""


_PROFILE_ORACLE = " UNION ALL ".join(
    _profile_branch_sql(c, k)
    for c, k in [
        ("event_id", "num"),
        ("ts", "ts"),
        ("user_id", "num"),
        ("event_type", "str"),
        ("value", "num"),
        ("props", "str"),
    ]
)


@twin_query("events_profile", oracle=_PROFILE_ORACLE)
def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (operators/profile.py) over every
    events column: counts, exact distinct cardinality, typed min/max,
    exact-decimal mean (the oracle must hash-match)."""
    from bigdata_commerce_spark.operators.profile import profile_table

    ev = load_table(spark, "events", sf_dir)
    return profile_table(ev)

# ---------------------------------------------------------------------------
# Hybrid retrieval (BM25 + embedding cosine, reciprocal-rank fusion)
# ---------------------------------------------------------------------------

_HYBRID_M = 50  # per-list candidate depth
_HYBRID_ORACLE = f"""
WITH {_BM25_CTE.strip()},
lex AS (
    SELECT doc_id, CAST(rank_lex AS INT) AS rank_lex FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        FROM bm
    ) WHERE rank_lex <= {_HYBRID_M}
),
v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), p AS (
    SELECT e AS pe FROM v WHERE vec_id = 0
), scored AS (
    SELECT v.vec_id AS doc_id,
           ROUND(
             list_reduce(list_transform(list_zip(v.e, p.pe), q -> q[1] * q[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(v.e, x -> x * x), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(p.pe, x -> x * x), (acc, x) -> acc + x))), 4) AS score
    FROM v CROSS JOIN p
    WHERE v.vec_id != 0
), sem AS (
    SELECT doc_id, CAST(rank_sem AS INT) AS rank_sem FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank_sem
        FROM scored
    ) WHERE rank_sem <= {_HYBRID_M}
),
fused AS (
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.rank_lex, s.rank_sem,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.rank_lex), 0.0)
               + COALESCE(CAST(1.0 AS DOUBLE) / (60 + s.rank_sem), 0.0), 6) AS rrf
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf, CAST(rank AS INT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
    FROM fused
) WHERE rank <= 10
"""


@twin_query("hybrid_search_rrf", oracle=_HYBRID_ORACLE)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval top-10: BM25 over the 3-term query fused with
    embedding-cosine similarity to probe vector 0 by reciprocal-rank
    fusion (operators/hybrid.py — RRF k=60, per-list depth 50). Each
    list is cut to top-m by TakeOrderedAndProject BEFORE any window
    ranks it, so the global ranking windows only ever see m rows;
    fusion is one tiny full-outer join."""
    from bigdata_commerce_spark.operators.bm25 import bm25_scores
    from bigdata_commerce_spark.operators.hybrid import rrf_fuse
    from bigdata_commerce_spark.operators.topk import rank_top_m

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    lex = rank_top_m(
        bm25_scores(docs, ["spark", "shuffle", "join"]),
        [F.desc("bm25"), F.asc("doc_id")],
        _HYBRID_M,
    ).select("doc_id", "rank")
    sem = (
        similarity.cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=_HYBRID_M)
        .select(F.col("corpus_id").alias("doc_id"), "rank")
    )
    fused = rrf_fuse(
        {"lex": lex, "sem": sem},
        id_cols=["doc_id"],
    )
    return fused.select("doc_id", "rank_lex", "rank_sem", "rrf", "rank")

# ---------------------------------------------------------------------------
# Edit-distance similarity join (Ed-Join family)
# ---------------------------------------------------------------------------


@twin_query(
    "docs_editdist_join",
    oracle=r"""
    WITH a AS (SELECT doc_id, text FROM documents
               WHERE NOT regexp_matches(text, '[^\x00-\x7f]')),
         l AS (SELECT * FROM a WHERE doc_id < 250),
         r AS (SELECT * FROM a WHERE doc_id >= 250)
    SELECT l.doc_id AS lid, r.doc_id AS rid,
           CAST(levenshtein(l.text, r.text) AS INT) AS distance
    FROM l, r
    WHERE abs(length(l.text) - length(r.text)) <= 40
      AND levenshtein(l.text, r.text) <= 40
    """,
)
def docs_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table Levenshtein join within distance 40
    (operators/editdist.py): complete rarest-q-gram prefix candidates
    + threshold-banded verify, against DuckDB's brute-force
    levenshtein oracle — candidate pruning must be invisible in the
    result. The oracle-checked domain is ASCII rows on both sides:
    DuckDB's levenshtein counts BYTES where Spark's counts codepoints
    (measured: lev('e-acute','x') = 2 vs 1), so they only define the
    same metric where bytes == codepoints — caught by the round-8
    unicode fuzz rows landing inside the length band. The operator's
    codepoint semantics (including unicode) are differential-tested
    against a pure-Python reference in tests/test_editdist.py."""
    from bigdata_commerce_spark.operators.editdist import edit_distance_join

    docs = load_table(spark, "documents", sf_dir).where(
        ~F.coalesce(F.col("text").rlike(r"[^\x00-\x7f]"), F.lit(True))
    )
    return edit_distance_join(
        docs.where(F.col("doc_id") < 250),
        docs.where(F.col("doc_id") >= 250),
        max_distance=40,
    )

# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------


@twin_query(
    "docs_weighted_sample",
    oracle="""
    SELECT doc_id, lang, n_chars, CAST(rn AS INT) AS rank FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ROUND(
                       ln((CAST(concat('0x', substr(md5(doc_id || ':aes'), 1, 15))
                           AS BIGINT) + 1) / 1152921504606846976.0)
                       / n_chars, 10) DESC,
                   doc_id ASC
               ) AS rn
        FROM documents WHERE n_chars > 0
    ) WHERE rn <= 20
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample without replacement, 20 docs per
    lang with inclusion biased by n_chars (mixing.weighted_sample —
    the A-ES key over the module's engine-portable md5 uniform; the
    oracle replays ln(u)/w to the same 10 dp rounding, so sample
    membership AND rank hash-match)."""
    from bigdata_commerce_spark.operators.mixing import weighted_sample

    docs = load_table(spark, "documents", sf_dir)
    return weighted_sample(
        docs, k=20, weight_col="n_chars", group_cols=["lang"]
    ).select("doc_id", "lang", "n_chars", "rank")

# ---------------------------------------------------------------------------
# Canonical representative per near-dup cluster
# ---------------------------------------------------------------------------


@query(
    "dedup_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {_CLUSTERS_CTE.strip()}
    SELECT cluster_id, doc_id, n_members FROM (
        SELECT c.cluster_id,
               d.doc_id,
               COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, d.doc_id ASC
               ) AS rn
        FROM clusters c JOIN documents d USING (doc_id)
        -- restates canonical_per_cluster's member contract: a NULL
        -- order_col (n_chars) doc is neither survivor-eligible nor
        -- counted in n_members
        WHERE d.n_chars IS NOT NULL
    ) WHERE rn = 1
    """,
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canonical survivor per Jaccard>=0.8 near-dup cluster —
    longest doc wins, ties to the smallest id
    (dedup_cluster.canonical_per_cluster: a single max_by aggregate,
    no ranking window; the oracle reaches the same survivor through
    the recursive-CTE clusters + a ranking window, so BOTH the
    cluster fixpoint and the argmax law are cross-checked)."""
    from bigdata_commerce_spark.operators.dedup_cluster import (
        canonical_per_cluster,
        connected_components,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_cached(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("id"))
    clusters = connected_components(nodes, pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    return canonical_per_cluster(clusters, docs)

# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss)
# ---------------------------------------------------------------------------


def _jl_oracle(flat: bool = False) -> str:
    import numpy as np

    planes = np.random.default_rng(42).standard_normal((16, 64))
    # CAST('…' AS DOUBLE), not bare literals: DuckDB 1.0's numeric-
    # literal parse is 1 ULP off for ~11% of doubles; the varchar
    # cast is correctly rounded (same fix as _lsh_buckets_cte)
    rows = ",\n        ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in row)
        )
        for i, row in enumerate(planes)
    )
    final = (
        # flattened (driver-slot) shape: one scalar row per coordinate
        "SELECT vec_id, CAST(plane_id AS INT) AS plane_id, c AS value FROM proj"
        if flat
        else "SELECT vec_id, list(c ORDER BY plane_id) AS projected\n"
        "    FROM proj GROUP BY vec_id"
    )
    return f"""
    WITH planes(plane_id, pv) AS (
        SELECT * FROM (VALUES {rows})
    ), v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), raw AS (
        -- 0.0 + … restates Spark's fold INITIAL value: without it a
        -- zero vector's all-(-0.0) terms reduce to -0.0
        -- (0*negative_plane = -0.0) while F.aggregate's 0.0 init
        -- gives +0.0 — same number, different hash bits
        SELECT vec_id, plane_id,
               (CAST(0.0 AS DOUBLE)
                + list_reduce(list_transform(list_zip(e, pv), q -> q[1] * q[2]),
                              (acc, x) -> acc + x))
               * CAST(0.25 AS DOUBLE) AS r
        FROM v CROSS JOIN planes
    ), proj AS (
        -- the operator's ROUND_SAFE_ABS band: round only where
        -- ROUND(x,4) is engine-portable (DuckDB's float-math round
        -- drifts ULPs from Spark's exact BigDecimal round on 1e20-
        -- scale coords); trailing + 0.0 canonicalizes DuckDB's
        -- ROUND(-1e-31,4) = -0.0 to Spark's +0.0
        SELECT vec_id, plane_id,
               CASE WHEN abs(r) < 1e11
                    THEN ROUND(r, 4) + CAST(0.0 AS DOUBLE)
                    ELSE r END AS c
        FROM raw
    )
    {final}
    """


@twin_query("embeddings_jl_projected_vec", oracle=_jl_oracle())
def embeddings_jl_projected_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-d → 16-d Johnson–Lindenstrauss projection of the embedding
    corpus (similarity.random_projection): the SAME seeded plane
    matrix as the sign-LSH family, sequential-fold dot products
    bit-identical to the oracle's list_reduce, 1/sqrt(16) distance
    scaling. Array-shaped form: permanent twin — the driver's pandas
    canonicalizer cannot hash top-level arrays (CORRECTNESS_r06 red
    rows); driver slots get the flattened form below."""
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.random_projection(emb)


@twin_query("embeddings_jl_projected", oracle=_jl_oracle(flat=True))
def embeddings_jl_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-slot form of the JL projection: `posexplode` to one
    scalar row per (vec_id, plane_id) — same bit-exact coordinates as
    `embeddings_jl_projected_vec` (row-identity pytest-asserted), in a
    shape the driver's pandas canonicalizer can sort and hash."""
    emb = load_table(spark, "embeddings", sf_dir)
    out = similarity.random_projection(emb)
    return out.select(
        "vec_id", F.posexplode("projected").alias("plane_id", "value")
    )


# ---------------------------------------------------------------------------
# Exact duplicate-span detection / scrubbing (substring-level dedup)
# ---------------------------------------------------------------------------

_DUPSPAN_W = 8

_DUPSPAN_CTE = rf"""
toks8 AS (
    SELECT doc_id,
           list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\x0b\f\r]+'),
                       t -> t <> '') AS tk
    FROM documents
), win8 AS (
    SELECT doc_id, i - 1 AS pos,
           md5(array_to_string(tk[i : i + {_DUPSPAN_W} - 1], chr(1))) AS h
    FROM toks8,
         LATERAL (SELECT UNNEST(generate_series(1, len(tk) - {_DUPSPAN_W} + 1)) AS i) g
), dup8 AS (
    SELECT h, MIN(ROW(doc_id, pos)) AS canon
    FROM win8 GROUP BY h HAVING COUNT(*) >= 2
)
"""


def _dupspan_sql(keep_first: bool) -> str:
    extra = (
        "AND ROW(w.doc_id, w.pos) <> d.canon" if keep_first else ""
    )
    return (
        "WITH "
        + _DUPSPAN_CTE
        + f"""
, hits AS (
    SELECT w.doc_id, w.pos
    FROM win8 w JOIN dup8 d ON w.h = d.h {extra}
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {_DUPSPAN_W} THEN 0 ELSE 1 END AS brk
    FROM hits
), grp AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {_DUPSPAN_W} - 1 AS span_end,
       MAX(pos) - MIN(pos) + {_DUPSPAN_W} AS span_tokens
FROM grp GROUP BY doc_id, g
"""
    )


@query("doc_duplicate_spans", oracle=_dupspan_sql(keep_first=False))
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged spans of corpus-duplicated 8-token runs per document
    (operators/dupspans.py — the Lee et al. 2022 ExactSubstr family):
    every occurrence of a window repeated >= 2 times anywhere in the
    corpus, islands merged per doc. Audit mode (all occurrences)."""
    from bigdata_commerce_spark.operators import dupspans

    docs = load_table(spark, "documents", sf_dir)
    out = dupspans.duplicate_spans(docs, window=_DUPSPAN_W)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


_SCRUB_SQL = (
    "WITH "
    + _DUPSPAN_CTE
    + rf"""
, hits AS (
    SELECT w.doc_id, w.pos
    FROM win8 w JOIN dup8 d ON w.h = d.h AND ROW(w.doc_id, w.pos) <> d.canon
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {_DUPSPAN_W} THEN 0 ELSE 1 END AS brk
    FROM hits
), grp AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM marked
), spans AS (
    SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_DUPSPAN_W} - 1 AS e
    FROM grp GROUP BY doc_id, g
), per_doc AS (
    SELECT t.doc_id,
           list(struct_pack(s := s.s, e := s.e))
               FILTER (WHERE s.s IS NOT NULL) AS sp
    FROM toks8 t LEFT JOIN spans s USING (doc_id)
    GROUP BY t.doc_id
), rebuilt AS (
    SELECT t.doc_id,
           list_filter(
               list_transform(generate_series(1, len(t.tk)),
                              i -> struct_pack(i := i - 1, t := t.tk[i])),
               x -> len(list_filter(COALESCE(p.sp, []),
                                    q -> x.i BETWEEN q.s AND q.e)) = 0
           ) AS kept,
           len(t.tk) AS n
    FROM toks8 t JOIN per_doc p USING (doc_id)
)
SELECT doc_id,
       COALESCE(array_to_string(list_transform(kept, x -> x.t), ' '),
                '') AS text,
       n - len(kept) AS removed_tokens
FROM rebuilt
"""
)


@twin_query("docs_scrubbed_dupspans", oracle=_SCRUB_SQL)
def docs_scrubbed_dupspans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with duplicated 8-token runs scrubbed, one canonical
    copy kept (dupspans.scrub_duplicate_spans — Lee et al. keep-one
    policy). Output text is whitespace-normalized by contract."""
    from bigdata_commerce_spark.operators import dupspans

    docs = load_table(spark, "documents", sf_dir)
    out = dupspans.scrub_duplicate_spans(docs, window=_DUPSPAN_W)
    return out.select(
        "doc_id", "text", F.col("removed_tokens").cast("long").alias("removed_tokens")
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear classifier scoring (fastText-style quality gate)
# ---------------------------------------------------------------------------

_LIN_BUCKETS = 64
_LIN_BIAS = -0.25


def _lin_weights() -> list[tuple[int, float]]:
    """Fixed pseudo-trained model for the twin: seeded weights on the
    EVEN buckets only (odd buckets exercise the missing-weight -> 0.0
    path on both engines)."""
    import numpy as np

    rng = np.random.default_rng(7)
    return [(b, float(rng.standard_normal())) for b in range(0, _LIN_BUCKETS, 2)]


def _linscore_sql() -> str:
    rows = ", ".join(f"({b}, {w!r})" for b, w in _lin_weights())
    return rf"""
    WITH wts(bucket, w) AS (SELECT * FROM (VALUES {rows})),
    ltoks AS (
        SELECT doc_id,
               list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\x0b\f\r]+'),
                           t -> t <> '') AS tk
        FROM documents
    ), ltok AS (
        SELECT doc_id, len(tk) AS n, UNNEST(tk) AS t FROM ltoks
    ), feats AS (
        SELECT doc_id, n,
               CAST(concat('0x', substr(md5(t || ':feat'), 1, 15)) AS BIGINT)
                   % {_LIN_BUCKETS} AS bucket,
               CAST(COUNT(*) AS DOUBLE) / n AS x
        FROM ltok GROUP BY doc_id, n, bucket
    ), contrib AS (
        SELECT f.doc_id,
               list_sort(list(struct_pack(
                   b := f.bucket, c := f.x * COALESCE(w.w, 0.0)))) AS cs
        FROM feats f LEFT JOIN wts w USING (bucket)
        GROUP BY f.doc_id
    ), dotp AS (
        SELECT doc_id,
               list_reduce(list_prepend(0.0, list_transform(cs, s -> s.c)),
                           (acc, v) -> acc + v) AS dot
        FROM contrib
    )
    SELECT d.doc_id,
           ROUND(COALESCE(p.dot, 0.0) + {_LIN_BIAS}, 6) AS score,
           ROUND(1.0 / (1.0 + exp(-(COALESCE(p.dot, 0.0) + {_LIN_BIAS}))), 6)
               AS prob
    FROM documents d LEFT JOIN dotp p USING (doc_id)
    """


@query("doc_quality_linear_score", oracle=_linscore_sql())
def doc_quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scored by a hashed-feature linear model
    (operators/linear_model.py — the fastText quality-filter seam):
    L1-normalized hashed TF, broadcast weight join, per-doc dot
    product as a bucket-ordered sequential fold (bit-identical to the
    oracle's list_reduce)."""
    from bigdata_commerce_spark.operators import linear_model as lm

    docs = load_table(spark, "documents", sf_dir)
    w = spark.createDataFrame(_lin_weights(), "bucket long, w double")
    return lm.score_linear(docs, w, bias=_LIN_BIAS, n_buckets=_LIN_BUCKETS)


# ---------------------------------------------------------------------------
# Leakage-safe group-aware split
# ---------------------------------------------------------------------------


def _group_split_sql() -> str:
    from bigdata_commerce_spark.operators.mixing import threshold_hex

    thr = threshold_hex(0.25)
    return f"""
    SELECT doc_id, source,
           CASE WHEN substr(md5(COALESCE(CAST(source AS VARCHAR), '')
                                 || ':groupsplit'), 1, 8) < '{thr}'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """


@twin_query("docs_group_split", oracle=_group_split_sql())
def docs_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25% holdout decided by the SOURCE hash (mixing.split_by_group):
    every document of a source lands in the same split — the
    leakage-safe form of train_test_split for near-dup-heavy corpora."""
    from bigdata_commerce_spark.operators.mixing import split_by_group

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    return split_by_group(docs, 0.25, "source")


# ---------------------------------------------------------------------------
# Span-level decontamination (verbatim benchmark passages in the corpus)
# ---------------------------------------------------------------------------

_CONTAM_SPAN_SQL = (
    "WITH "
    + _DUPSPAN_CTE.replace(
        ", dup8 AS (\n    SELECT h, MIN(ROW(doc_id, pos)) AS canon\n"
        "    FROM win8 GROUP BY h HAVING COUNT(*) >= 2\n)",
        "",
    )
    + f"""
, hits AS (
    SELECT doc_id, pos FROM win8
    WHERE doc_id % 40 != 7
      AND h IN (SELECT h FROM win8 WHERE doc_id % 40 = 7)
), marked AS (
    SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {_DUPSPAN_W} THEN 0 ELSE 1 END AS brk
    FROM hits
), grp AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + {_DUPSPAN_W} - 1 AS span_end,
       MAX(pos) - MIN(pos) + {_DUPSPAN_W} AS span_tokens
FROM grp GROUP BY doc_id, g
"""
)


@query("doc_contaminated_spans", oracle=_CONTAM_SPAN_SQL)
def doc_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token runs of the corpus appearing VERBATIM in the benchmark
    slice (dupspans.contaminated_spans — span-level refinement of the
    doc-level contamination report; benchmark = the deterministic
    doc_id % 40 == 7 holdout, as in benchmark_contamination). The
    benchmark reduces to distinct window fingerprints and is
    broadcast; the corpus never shuffles for the match."""
    from bigdata_commerce_spark.operators import dupspans

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.where(F.col("doc_id") % 40 == 7)
    corpus = docs.where(F.col("doc_id") % 40 != 7)
    out = dupspans.contaminated_spans(corpus, bench, window=_DUPSPAN_W)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_TFIDF_SQL = f"""
WITH {_NORM_CTE}
, tok AS (
    SELECT doc_id, len(toks) AS n, UNNEST(toks) AS term FROM tok_docs
), dt AS (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) / n AS tf
    FROM tok WHERE term <> '' GROUP BY doc_id, n, term
), dfreq AS (
    SELECT term, COUNT(*) AS df FROM dt GROUP BY term
), nd AS (SELECT COUNT(*) AS N FROM documents),
scored AS (
    SELECT doc_id, term,
           ROUND(tf * (ln((N + 1) / CAST(df + 1 AS DOUBLE)) + 1.0), 6) AS tfidf
    FROM dt JOIN dfreq USING (term) CROSS JOIN nd
), ranked AS (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
    FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 5
"""


@query("doc_tfidf_keywords", oracle=_TFIDF_SQL)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (text.tfidf_top_terms): one explode + one (doc, term) aggregate,
    document frequencies from that aggregate's own output (no second
    corpus scan), per-DOC ranking window."""
    return text_ops.tfidf_top_terms(load_table(spark, "documents", sf_dir), k=5)


# ---------------------------------------------------------------------------
# Dictionary phrase tagging
# ---------------------------------------------------------------------------

_TAG_PHRASES = ["order fast", "window join", "big order scan", "Group Slow Spark"]


def _tag_phrases_sql() -> str:
    import re as _re

    blocks = []
    for p in _TAG_PHRASES:
        norm = " ".join(_re.split(r"\s+", p.strip().lower()))
        n = len(norm.split())
        blocks.append(
            f"""
    SELECT doc_id, i - 1 AS pos, '{p}' AS phrase, {n} AS n_tokens
    FROM ptoks,
         LATERAL (SELECT UNNEST(generate_series(1, len(tk) - {n} + 1)) AS i) g
    WHERE array_to_string(tk[i : i + {n} - 1], ' ') = '{norm}'"""
        )
    union = "\n    UNION ALL".join(blocks)
    return rf"""
    WITH ptoks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(COALESCE(text, '')), '[ \t\n\x0b\f\r]+'),
                           t -> t <> '') AS tk
        FROM documents
    )
    {union}
    """


@query("doc_phrase_tags", oracle=_tag_phrases_sql())
def doc_phrase_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every occurrence of a 4-phrase dictionary across the corpus
    (dupspans.tag_phrases — FlashText job on the window-fingerprint
    kernel): dictionary fingerprints computed driver-side and
    broadcast, corpus windows built only at the dictionary's lengths,
    no corpus shuffle."""
    from bigdata_commerce_spark.operators import dupspans

    docs = load_table(spark, "documents", sf_dir)
    out = dupspans.tag_phrases(docs, _TAG_PHRASES)
    return out.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "phrase",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data)
# ---------------------------------------------------------------------------

_HARDNEG_SQL = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
    SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 3
), pos AS (
    SELECT query_id, query_id AS neg_id FROM q
    UNION ALL
    SELECT query_id, query_id + 1 AS neg_id FROM q
), scored AS (
    SELECT q.query_id, v.vec_id AS neg_id,
           ROUND(
             list_reduce(list_transform(list_zip(v.e, q.qe), z -> z[1] * z[2]),
                         (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(v.e, x -> x * x), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(q.qe, x -> x * x), (acc, x) -> acc + x))),
             4) AS score
    FROM v CROSS JOIN q
    WHERE NOT EXISTS (
        SELECT 1 FROM pos
        WHERE pos.query_id = q.query_id AND pos.neg_id = v.vec_id
    )
)
SELECT query_id, neg_id, score, CAST(rank AS INT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, neg_id ASC) AS rank
    FROM scored
) WHERE rank <= 5
"""


@twin_query("embedding_hard_negatives", oracle=_HARDNEG_SQL)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives per query vector (similarity.
    mine_hard_negatives — the DPR/contrastive-training recipe):
    queries = the vec_id % 50 == 3 slice, labeled positives = self and
    self+1, excluded BEFORE ranking by a broadcast anti join; queries
    broadcast, corpus never shuffles."""
    from bigdata_commerce_spark.operators import similarity

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 3)
    pos = queries.select(
        F.col("vec_id").alias("query_id"), F.col("vec_id").alias("pos_id")
    ).unionByName(
        queries.select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") + 1).alias("pos_id"),
        )
    )
    return similarity.mine_hard_negatives(emb, queries, pos, k=5)


# ---------------------------------------------------------------------------
# Sequence training examples (next-event prediction pairs)
# ---------------------------------------------------------------------------

_SEQPAIRS_CTE = """
seqs AS (
    SELECT user_id, list(event_type ORDER BY ts, event_id) AS ev
    FROM events WHERE ts IS NOT NULL GROUP BY user_id
), pairs AS (
    SELECT user_id, i AS target_idx, ev[i - 2 : i] AS context, ev[i + 1] AS target
    FROM seqs,
         LATERAL (SELECT UNNEST(generate_series(3, len(ev) - 1)) AS i) g
)
"""


@twin_query(
    "user_next_event_examples_vec",
    oracle=f"WITH {_SEQPAIRS_CTE} SELECT * FROM pairs",
)
def user_next_event_examples_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(context, target) training pairs for next-event models
    (operators/seqpairs.py): per user, every event with a full
    3-event history becomes one example — one key shuffle, map-side
    window construction, total (ts, event_id) order. Array-shaped
    form: permanent twin (driver slots must emit scalar columns)."""
    from bigdata_commerce_spark.operators.seqpairs import next_event_examples

    ev = load_table(spark, "events", sf_dir)
    out = next_event_examples(ev, context_len=3)
    return out.select(
        "user_id",
        F.col("target_idx").cast("long").alias("target_idx"),
        "context",
        "target",
    )


@twin_query(
    "user_next_event_examples",
    oracle=f"""
    WITH {_SEQPAIRS_CTE}
    SELECT user_id, target_idx,
           array_to_string(list_transform(context, x -> COALESCE(x, '')),
                           chr(1)) AS context,
           target
    FROM pairs
    """,
)
def user_next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-slot form of the next-event training pairs: the 3-token
    context window serialized with a \\x01 separator (the driver's
    pandas canonicalizer cannot hash array columns). Token-identical
    to `user_next_event_examples_vec` — row-identity pytest-asserted;
    the context is always exactly 3 tokens so the join is lossless."""
    from bigdata_commerce_spark.operators.seqpairs import next_event_examples

    ev = load_table(spark, "events", sf_dir)
    out = next_event_examples(ev, context_len=3)
    return out.select(
        "user_id",
        F.col("target_idx").cast("long").alias("target_idx"),
        F.array_join("context", "\x01", "").alias("context"),
        "target",
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift (semantic drift between corpus versions)
# ---------------------------------------------------------------------------

_CENTROID_DRIFT_SQL = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE embedding IS NOT NULL
), sides AS (
    SELECT label, vec_id % 2 AS side, i - 1 AS dim, v[i] AS val
    FROM e, LATERAL (SELECT UNNEST(generate_series(1, len(v))) AS i) g
), per_dim AS (
    SELECT label, side, dim, SUM(val) AS s, COUNT(*) AS n
    FROM sides GROUP BY label, side, dim
), cents AS (
    SELECT label, side, MAX(n) AS n, list(s / n ORDER BY dim) AS c
    FROM per_dim GROUP BY label, side
), ref AS (SELECT label, n AS n_ref, c AS cr FROM cents WHERE side = 0),
cur AS (SELECT label, n AS n_cur, c AS cc FROM cents WHERE side = 1),
j AS (SELECT * FROM ref FULL OUTER JOIN cur USING (label))
SELECT label, n_ref, n_cur,
       ROUND(
         list_reduce(list_prepend(0.0,
             list_transform(list_zip(cr, cc), z -> z[1] * z[2])), (a, x) -> a + x)
         / (sqrt(list_reduce(list_prepend(0.0,
                list_transform(cr, x -> x * x)), (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0,
                list_transform(cc, x -> x * x)), (a, x) -> a + x))), 6)
           AS centroid_cosine,
       ROUND(sqrt(list_reduce(list_prepend(0.0,
             list_transform(list_zip(cr, cc), z -> (z[1] - z[2]) * (z[1] - z[2]))),
             (a, x) -> a + x)), 6) AS l2_shift
FROM j
"""


@twin_query("embedding_centroid_drift", oracle=_CENTROID_DRIFT_SQL)
def embedding_centroid_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid rotation between the even- and odd-vec_id
    halves of the embedding corpus (drift.embedding_centroid_drift —
    the semantic counterpart of the PSI monitor): per-(group, dim)
    aggregate with map-side combine, shuffle carries groups x dims
    rows, never the corpus."""
    from bigdata_commerce_spark.operators.drift import embedding_centroid_drift

    emb = load_table(spark, "embeddings", sf_dir)
    ref = emb.where(F.col("vec_id") % 2 == 0)
    cur = emb.where(F.col("vec_id") % 2 == 1)
    return embedding_centroid_drift(ref, cur)


# ---------------------------------------------------------------------------
# Curation funnel telemetry
# ---------------------------------------------------------------------------


def _funnel_sql() -> str:
    quality = """CAST(ROUND(CAST(CAST((0.4 * LEAST(s.stopword_ratio * 4, 1.0)
               + 0.3 * (CASE WHEN s.mean_token_len BETWEEN 3 AND 10
                        THEN 1.0 ELSE 0.3 END)
               + 0.15 * (1 - LEAST(s.digit_ratio * 5, 1.0))
               + 0.15 * (1 - LEAST(s.punct_ratio * 5, 1.0))) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)"""
    return rf"""
    WITH stats AS ({_TEXT_STATS_SQL}),
    lang AS ({_lang_sql()}),
    base AS (
        SELECT d.doc_id, d.source,
               md5(regexp_replace(lower(trim(d.text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp,
               {quality} AS quality,
               l.predicted_lang
        FROM documents d
        JOIN stats s USING (doc_id)
        JOIN lang l USING (doc_id)
    ), flagged AS (
        SELECT *, (quality >= 0.5) AS q,
               (quality >= 0.5 AND predicted_lang = 'en') AS ql
        FROM base
    ), per_source AS (
        SELECT source, COUNT(*) AS n_raw,
               CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
               CAST(SUM(CASE WHEN ql THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quality_lang
        FROM flagged GROUP BY source
    ), uniq AS (
        -- struct-min, NOT arg_min(source, doc_id): DuckDB's arg_min
        -- SKIPS rows whose arg is NULL, silently re-attributing a
        -- NULL-source survivor to some other source; min over the
        -- (doc_id, source) struct keeps the true min-id row
        SELECT source, COUNT(*) AS n_unique FROM (
            SELECT (MIN(struct_pack(d := doc_id, s := source))).s AS source
            FROM flagged WHERE ql GROUP BY fp
        ) GROUP BY source
    )
    SELECT p.source, p.n_raw, p.n_quality, p.n_quality_lang,
           COALESCE(u.n_unique, 0) AS n_unique
    FROM per_source p
    -- null-safe: the NULL-source funnel row keeps its unique count
    LEFT JOIN uniq u ON p.source IS NOT DISTINCT FROM u.source
    """


@twin_query("corpus_curation_funnel", oracle=_funnel_sql())
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival counts through the curate() gate chain
    (text.curation_funnel): raw -> quality -> quality+lang -> unique
    canonical. One corpus scan (persisted flag frame, both aggregates
    materialized eagerly)."""
    docs = load_table(spark, "documents", sf_dir)
    out = text_ops.curation_funnel(docs)
    return out.select(
        "source",
        F.col("n_raw").cast("long").alias("n_raw"),
        F.col("n_quality").cast("long").alias("n_quality"),
        F.col("n_quality_lang").cast("long").alias("n_quality_lang"),
        F.col("n_unique").cast("long").alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# Epoch-aware upsampling (mixture factors > 1)
# ---------------------------------------------------------------------------

# Sweep integer-only, fractional-only, mixed, zero and default-rate
# sources; generated thresholds are shared with the oracle below.
_UPSAMPLE_FACTORS = {"src0": 0.0, "src1": 2.0, "src2": 2.5, "src3": 0.4}


def _upsample_sql() -> str:
    def wh(f):
        return int(f)

    def thr(f):
        return int((f - int(f)) * (1 << 60))

    k_case = " ".join(
        f"WHEN source = '{s}' THEN {wh(f)}" for s, f in sorted(_UPSAMPLE_FACTORS.items())
    )
    t_case = " ".join(
        f"WHEN source = '{s}' THEN CAST({thr(f)} AS BIGINT)"
        for s, f in sorted(_UPSAMPLE_FACTORS.items())
    )
    return f"""
    WITH base AS (
        SELECT doc_id, source,
               CASE {k_case} ELSE 1 END AS k,
               CASE {t_case} ELSE CAST(0 AS BIGINT) END AS thr
        FROM documents
    ), exploded AS (
        SELECT doc_id, source, k, thr, UNNEST(generate_series(0, k)) AS epoch
        FROM base
    )
    SELECT doc_id, source, CAST(epoch AS INT) AS epoch
    FROM exploded
    WHERE epoch < k
       OR CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':epoch:'
                                       || CAST(epoch AS VARCHAR)), 1, 15))
               AS BIGINT) < thr
    """


@twin_query("docs_upsampled_epochs", oracle=_upsample_sql())
def docs_upsampled_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware upsampled corpus (mixing.upsample_epochs): src1 x2,
    src2 x2.5, src3 x0.4, src0 dropped, everything else x1 — integer
    part as full epochs, fractional part a deterministic per-(id,
    epoch) hash draw against thresholds the oracle regenerates from
    the same dict."""
    from bigdata_commerce_spark.operators.mixing import upsample_epochs

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    return upsample_epochs(docs, _UPSAMPLE_FACTORS)


# ---------------------------------------------------------------------------
# Join-key overlap diagnostic
# ---------------------------------------------------------------------------

_KEY_OVERLAP_SQL = """
WITH lk AS (SELECT o_custkey AS k, COUNT(*) AS ln FROM orders GROUP BY 1),
rk AS (SELECT c_custkey AS k, COUNT(*) AS rn FROM customer GROUP BY 1),
j AS (
    SELECT lk.k AS lkk, rk.k AS rkk, ln, rn
    FROM lk FULL OUTER JOIN rk ON lk.k = rk.k
)
SELECT CAST(COALESCE(SUM(ln), 0) AS BIGINT) AS n_left,
       CAST(COALESCE(SUM(rn), 0) AS BIGINT) AS n_right,
       CAST(SUM(CASE WHEN ln IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_keys,
       CAST(SUM(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS right_keys,
       CAST(SUM(CASE WHEN lkk IS NOT NULL AND rkk IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS matched_keys,
       CAST(SUM(CASE WHEN ln IS NOT NULL AND rkk IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS left_orphan_keys,
       CAST(SUM(CASE WHEN rn IS NOT NULL AND lkk IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS right_orphan_keys,
       -- operator contract: an empty side reports rate 0.0, not NULL
       CASE WHEN COALESCE(SUM(ln), 0) = 0 THEN 0.0
            ELSE ROUND(COALESCE(SUM(CASE WHEN lkk IS NOT NULL AND rkk IS NOT NULL
                               THEN ln END), 0)
                  / CAST(SUM(ln) AS DOUBLE), 6) END AS left_match_rate,
       CASE WHEN COALESCE(SUM(rn), 0) = 0 THEN 0.0
            ELSE ROUND(COALESCE(SUM(CASE WHEN lkk IS NOT NULL AND rkk IS NOT NULL
                               THEN rn END), 0)
                  / CAST(SUM(rn) AS DOUBLE), 6) END AS right_match_rate
FROM j
"""


@twin_query("orders_customer_key_overlap", oracle=_KEY_OVERLAP_SQL)
def orders_customer_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join diagnostic for orders.o_custkey vs customer.c_custkey
    (profile.join_key_overlap): each side collapses to distinct keys
    with ONE map-side-combined aggregate, one key-set full-outer join,
    one one-row report — no row-level join."""
    from bigdata_commerce_spark.operators.profile import join_key_overlap

    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return join_key_overlap(orders, customer, "o_custkey", "c_custkey")


# ---------------------------------------------------------------------------
# SCD2 point-in-time dimension join
# ---------------------------------------------------------------------------

_SCD2_SQL = """
WITH chg AS (
    SELECT c_custkey, DATE '1992-01-01' AS ts, c_mktsegment AS segment
    FROM customer
    UNION ALL
    SELECT c_custkey, DATE '1995-06-01', c_mktsegment || '_V2' FROM customer
), scd AS (
    SELECT c_custkey, segment, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS valid_to
    FROM chg
)
SELECT o.o_orderkey, s.segment, s.valid_from
FROM orders o LEFT JOIN scd s
  ON o.o_custkey = s.c_custkey
 AND o.o_orderdate >= s.valid_from
 AND (s.valid_to IS NULL OR o.o_orderdate < s.valid_to)
"""


@twin_query("orders_scd2_segment", oracle=_SCD2_SQL)
def orders_scd2_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order joined to the customer-segment VERSION current at
    its own order date (operators/scd2.py): a two-version synthetic
    change log (segment renamed mid-1995) -> changes_to_scd2 interval
    build -> scd2_join equi-join with the interval as a residual
    condition. Orders before 1995-06-01 carry the original segment,
    later ones the _V2 rename — history is never rewritten by
    today's dimension."""
    from bigdata_commerce_spark.operators.scd2 import changes_to_scd2, scd2_join

    cust = load_table(spark, "customer", sf_dir)
    chg = cust.select(
        "c_custkey",
        F.lit("1992-01-01").cast("date").alias("ts"),
        F.col("c_mktsegment").alias("segment"),
    ).unionByName(
        cust.select(
            "c_custkey",
            F.lit("1995-06-01").cast("date").alias("ts"),
            F.concat(F.col("c_mktsegment"), F.lit("_V2")).alias("segment"),
        )
    )
    dim = changes_to_scd2(chg, ["c_custkey"], "ts")
    orders = load_table(spark, "orders", sf_dir).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    out = scd2_join(orders, dim, ["c_custkey"], "o_orderdate")
    return out.select("o_orderkey", "segment", "valid_from")


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

_RFM_BINS = 4


def _rfm_sql() -> str:
    fracs = ", ".join(str(i / _RFM_BINS) for i in range(1, _RFM_BINS))
    return f"""
    WITH per AS (
        SELECT o_custkey AS customer, MAX(o_orderdate) AS last_ts,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY 1
    ), anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
    rec AS (
        SELECT customer,
               date_diff('day', last_ts, a) AS recency_days,
               frequency, monetary,
               CAST(date_diff('day', last_ts, a) AS DOUBLE) AS rec_d,
               CAST(frequency AS DOUBLE) AS freq_d
        FROM per, anchor
    ), b AS (
        SELECT quantile_cont(rec_d, [{fracs}]) AS rb,
               quantile_cont(freq_d, [{fracs}]) AS fb,
               quantile_cont(monetary, [{fracs}]) AS mb
        FROM rec
    ), scored AS (
        SELECT customer, recency_days, frequency, ROUND(monetary, 2) AS monetary,
               {_RFM_BINS} - len(list_filter(b.rb, x -> rec.rec_d > x)) AS r_score,
               len(list_filter(b.fb, x -> rec.freq_d > x)) + 1 AS f_score,
               len(list_filter(b.mb, x -> rec.monetary > x)) + 1 AS m_score
        FROM rec, b
    )
    SELECT customer, CAST(recency_days AS INT) AS recency_days, frequency,
           monetary,
           CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS rfm
    FROM scored
    """


@twin_query("customer_rfm_segments", oracle=_rfm_sql())
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM quartile scores over orders (operators/rfm.py):
    one hash aggregate, exact-percentile boundaries broadcast as a
    literal fold — never a global ntile window."""
    from bigdata_commerce_spark.operators.rfm import rfm_scores

    orders = load_table(spark, "orders", sf_dir)
    return rfm_scores(orders, n_bins=_RFM_BINS)


# ---------------------------------------------------------------------------
# Variant (semi-structured) extraction
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_id,
       TRY_CAST(CASE WHEN json_valid(props)
                     THEN json_extract_string(props, '$.k') END AS INT) AS ad_id,
       CASE WHEN json_valid(props)
            THEN json_extract_string(props, '$.src') END AS src
FROM events
"""


@twin_query("events_variant_fields", oracle=_VARIANT_SQL)
def events_variant_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed field extraction from the JSON props payload through
    Spark 4's VARIANT type (functions/semistructured.variant_extract
    — parse ONCE, typed variant_get per field; malformed/missing ->
    NULL, never an ANSI abort). Row-identical to the per-field
    get_json_object path the commerce queries use, proven by the
    DuckDB json oracle."""
    from bigdata_commerce_spark.functions.semistructured import variant_extract

    ev = load_table(spark, "events", sf_dir)
    out = variant_extract(
        ev, "props", {"ad_id": ("$.k", "int"), "src": ("$.src", "string")}
    )
    return out.select("event_id", "ad_id", "src")


# ---------------------------------------------------------------------------
# Time-decayed aggregates
# ---------------------------------------------------------------------------

_DECAY_ASOF = "2024-03-01 00:00:00"
_DECAY_HL = 86400.0 * 7


_DECAYED_SQL = f"""
SELECT user_id,
       ROUND(SUM(POW(2.0, -(epoch(TIMESTAMP '{_DECAY_ASOF}') - epoch(ts))
                        / {_DECAY_HL}) * value), 6) AS decayed_sum,
       ROUND(SUM(POW(2.0, -(epoch(TIMESTAMP '{_DECAY_ASOF}') - epoch(ts))
                        / {_DECAY_HL})), 6) AS decayed_count,
       COUNT(*) AS n_events
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
  AND ts <= TIMESTAMP '{_DECAY_ASOF}'
GROUP BY user_id
"""


@twin_query("user_decayed_value", oracle=_DECAYED_SQL)
def user_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user value as of a fixed anchor
    (timeseries.decayed_sum_per_key, 7-day half-life): decay against
    a FIXED anchor is a plain weighted sum — ONE hash aggregate with
    map-side partials, no order, no sequential state (the cheap
    alternative to ewma when only 'score now' is needed)."""
    import datetime as dt

    from bigdata_commerce_spark.operators.timeseries import decayed_sum_per_key

    ev = load_table(spark, "events", sf_dir)
    asof = dt.datetime.fromisoformat(_DECAY_ASOF)
    return decayed_sum_per_key(ev, _DECAY_HL, asof)


# ---------------------------------------------------------------------------
# Cross-source duplication matrix
# ---------------------------------------------------------------------------

_DUP_MATRIX_SQL = r"""
WITH f AS (
    -- CASE len>0 restates the twin's explicit empty-token contract
    -- (no content -> NULL fp); DuckDB's array_to_string([]) happens
    -- to be NULL already, but the contract should not ride a quirk
    SELECT CASE WHEN len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'),
                                     t -> t <> '')) > 0
                THEN md5(array_to_string(
                    list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0b\f\r]+'),
                                t -> t <> '')[1:8], ' ')) END AS fp,
           source, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
), p AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CASE WHEN a.source = b.source
                THEN (a.n * (a.n - 1)) // 2 ELSE a.n * b.n END AS pairs
    FROM f a JOIN f b ON a.fp = b.fp AND a.source <= b.source
)
SELECT source_a, source_b,
       COUNT(*) AS shared_fps,
       CAST(SUM(pairs) AS BIGINT) AS dup_pairs
FROM p WHERE pairs > 0
GROUP BY 1, 2
"""


@twin_query("source_dup_matrix", oracle=_DUP_MATRIX_SQL)
def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-content pair counts per unordered source pair, keyed
    on the 8-token prefix fingerprint (prefix-grade provenance — the
    synthetic corpus has no FULL-text duplicates, so the twin keys on
    the prefix to exercise real cross-source volume)
    (dedup.cross_source_dup_matrix): one (fingerprint, source)
    aggregate, a fingerprint self-join bounded by sources-per-content,
    exact integer pair arithmetic — no pair materialized."""
    from bigdata_commerce_spark.operators.dedup import cross_source_dup_matrix

    docs = load_table(spark, "documents", sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), text_ops.ASCII_WS), lambda t: t != ""
    )
    # empty token list -> NULL fingerprint: a no-content doc has no
    # provenance key (pairing every empty doc corpus-wide would also
    # be a quadratic hot key). Explicit here AND in the oracle —
    # engines disagree by default (array_join([])='' vs
    # array_to_string([])=NULL)
    prefix_fp = F.when(
        F.size(toks) > 0, F.md5(F.array_join(F.slice(toks, 1, 8), " "))
    )
    return cross_source_dup_matrix(docs, key_expr=prefix_fp)


# ---------------------------------------------------------------------------
# Per-group percentile bands
# ---------------------------------------------------------------------------

_BANDS_SQL = """
SELECT event_type,
       COUNT(value) AS n,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.99), 6) AS p99,
       ROUND(MAX(value), 6) AS p100
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""


@twin_query("event_value_percentile_bands", oracle=_BANDS_SQL)
def event_value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99/max of value per event type — the SLO/latency-band
    report shape: ONE hash aggregate, exact interpolated percentiles
    (the same engine-portable `percentile` the drift machinery uses —
    NOT a per-group sort or window)."""
    ev = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.round(F.max("value"), 6).alias("p100"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization / host-level curation (operators/urltools.py)
# ---------------------------------------------------------------------------

# The testdata carries no URL column, so the twins derive a messy URL
# deterministically from (source, doc_id) — the SAME expression on
# both sides — exercising every canonicalization rule: scheme/host
# case, default ports, trailing FQDN dot, slash runs, trailing slash,
# fragments (incl. a '?' INSIDE the fragment, pinning the rule-4 fix),
# userinfo stripping, utm_*/exact tracking keys, and param
# reordering. Case 1 hits a multi-part ICANN suffix (example.co.uk),
# the ELSE case a PRIVATE-section suffix (<source>.github.io); cases
# 2/3/else collide across docs so URL-dedup and the dup-ratio report
# have real duplicates to find.
_URL_FIXTURE_CTE = """
urls AS (
    SELECT doc_id,
           CASE
             WHEN doc_id % 5 = 0 THEN 'HTTP://' || upper(source) || '.Example.COM:80/a//'
                  || CAST(doc_id AS VARCHAR) || '/?id=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed'
             WHEN doc_id % 5 = 1 THEN 'https://' || source || '.example.co.uk/path/'
                  || CAST(doc_id AS VARCHAR) || '/#frag?notaquery=1'
             WHEN doc_id % 5 = 2 THEN 'https://u:pw@' || source || '.example.com:443/a/b?b=2&a=1&fbclid=x'
             WHEN doc_id % 5 = 3 THEN 'http://' || source || '.EXAMPLE.com./x?utm_campaign=c&gclid=1'
             ELSE 'https://cdn.' || source || '.github.io/img/'
                  || CAST(doc_id % 7 AS VARCHAR) || '?v=1'
           END AS url
    FROM documents
)
"""

# DuckDB restatement of urltools' documented canonicalization rules
# (module docstring, rules 1-7) and the PSL registered-domain
# algorithm. The tracking-key literals and the entire suffix CASE
# are GENERATED from the same module constants / parsed PslRules the
# Spark operator uses, so the sides cannot drift.
_TRACKED = ", ".join(f"'{k}'" for k in sorted(urltools.TRACKING_PARAMS))
_PSL_DOMAIN_SQL = psl.registered_domain_sql("bare", psl.default_rules())

_URL_CANON_CTE = (
    _URL_FIXTURE_CTE
    + f""",
url_parts AS (
    SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           lower(regexp_replace(
               regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               '^[^@]*@', '')) AS hostport,
           regexp_replace(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/{{2,}}', '/', 'g') AS path2,
           array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '^[^#?]*\\?([^#]*)', 1), '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_')
                    AND NOT string_split(p, '=')[1] IN ({_TRACKED}))), '&') AS q
    FROM urls
), url_canon AS (
    SELECT doc_id,
           scheme || '://' || host ||
             CASE WHEN path2 = '' THEN '/'
                  WHEN path2 <> '/' THEN regexp_replace(path2, '/\\z', '')
                  ELSE path2 END ||
             CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url,
           host
    FROM (
        SELECT *,
               regexp_replace(
                 CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80\\z', '')
                      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443\\z', '')
                      ELSE hostport END, '\\.\\z', '') AS host
        FROM url_parts
    )
), url_dom AS (
    SELECT doc_id, canonical_url,
           {_PSL_DOMAIN_SQL} AS registered_domain
    FROM (
        SELECT doc_id, canonical_url,
               regexp_replace(host, ':[0-9]+\\z', '') AS bare
        FROM url_canon
    )
)
"""
)


def _messy_url():
    """Spark twin of _URL_FIXTURE_CTE — must stay expression-for-
    expression identical to the SQL above."""
    d, s = F.col("doc_id"), F.col("source")
    ds = d.cast("string")
    return (
        F.when(d % 5 == 0, F.concat(
            F.lit("HTTP://"), F.upper(s), F.lit(".Example.COM:80/a//"),
            ds, F.lit("/?id="), ds, F.lit("&utm_source=feed")))
        .when(d % 5 == 1, F.concat(
            F.lit("https://"), s,
            F.lit(".example.co.uk/path/"), ds, F.lit("/#frag?notaquery=1")))
        .when(d % 5 == 2, F.concat(
            F.lit("https://u:pw@"), s, F.lit(".example.com:443/a/b?b=2&a=1&fbclid=x")))
        .when(d % 5 == 3, F.concat(
            F.lit("http://"), s, F.lit(".EXAMPLE.com./x?utm_campaign=c&gclid=1")))
        .otherwise(F.concat(
            F.lit("https://cdn."), s, F.lit(".github.io/img/"),
            (d % 7).cast("string"), F.lit("?v=1")))
    )


_CANON_URLS_SQL = f"WITH {_URL_CANON_CTE} SELECT doc_id, canonical_url, registered_domain FROM url_dom"


@twin_query("documents_canonical_urls", oracle=_CANON_URLS_SQL)
def documents_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document canonical URL + registered domain — the crawl
    pipeline's keying stage. Pure projection: zero shuffle, no UDF,
    evaluated inside the scan (operators/urltools.py)."""
    docs = load_table(spark, "documents", sf_dir).withColumn("url", _messy_url())
    out = urltools.with_registered_domain(urltools.with_canonical_url(docs))
    return out.select("doc_id", "canonical_url", "registered_domain")


@twin_query(
    "host_capped_docs",
    oracle=f"""
    WITH {_URL_CANON_CTE}
    SELECT doc_id, registered_domain, CAST(rnk AS INT) AS domain_rank
    FROM (
        SELECT doc_id, registered_domain,
               ROW_NUMBER() OVER (
                   PARTITION BY registered_domain
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8),
                            doc_id
               ) AS rnk
        FROM url_dom
    ) WHERE rnk <= 10
    """,
)
def host_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-HOST document cap: at most 10 documents per PSL registered
    domain, selected by the deterministic salted-id hash rank — the
    C4/crawl-curation step that stops any single site dominating the
    corpus (the per-source cap's sibling, keyed on the URL pipeline's
    registered_domain instead of the provenance label). Composition:
    canonicalize -> registered domain (both pure scan-stage
    projections, operators/urltools.py) -> the exact-quota ranking
    kernel (operators/mixing.cap_per_source) partitioned by domain.
    One shuffle on domain + a ranking window; rank order is content-
    and partitioning-independent so the oracle reproduces it row for
    row."""
    from bigdata_commerce_spark.operators.mixing import cap_per_source

    docs = load_table(spark, "documents", sf_dir).withColumn("url", _messy_url())
    dom = urltools.with_registered_domain(urltools.with_canonical_url(docs))
    return cap_per_source(
        dom, quota=10, source_col="registered_domain", rank_col="domain_rank"
    ).select("doc_id", "registered_domain", "domain_rank")


_URL_DEDUP_SQL = f"""
WITH {_URL_CANON_CTE}
SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS doc_id
FROM url_canon
WHERE canonical_url IS NOT NULL  -- operator contract: NULL canonicals excluded, not one bucket
GROUP BY canonical_url
"""


@twin_query("url_dedup_survivors", oracle=_URL_DEDUP_SQL)
def url_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup survivors (min doc_id per canonical URL) — the
    cheap pre-pass that runs BEFORE content dedup: one hash aggregate
    on the canonical string, map-side partial min."""
    docs = load_table(spark, "documents", sf_dir).withColumn("url", _messy_url())
    return urltools.dedup_by_canonical_url(docs)


_HOST_REPORT_SQL = f"""
WITH {_URL_CANON_CTE}
SELECT registered_domain,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT canonical_url) AS n_urls,
       ROUND(1.0 - CAST(COUNT(DISTINCT canonical_url) AS DOUBLE) / COUNT(*), 4) AS dup_ratio
FROM url_dom
WHERE canonical_url IS NOT NULL  -- operator contract: NULL canonicals excluded
GROUP BY registered_domain
"""


@twin_query("url_host_report", oracle=_HOST_REPORT_SQL)
def url_host_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain rows / distinct-URL / dup-ratio stats —
    the table a crawl operator reads to set per-domain quota caps
    (mixing.cap_per_source). One hash aggregate keyed on the domain."""
    docs = load_table(spark, "documents", sf_dir).withColumn("url", _messy_url())
    return urltools.host_report(docs)


_BLOCKLIST_SQL = f"""
WITH {_URL_CANON_CTE}
SELECT registered_domain, COUNT(*) AS n_rows
FROM url_dom WHERE registered_domain <> 'example.co.uk'
GROUP BY registered_domain
"""


@twin_query("url_blocklist_survivors", oracle=_BLOCKLIST_SQL)
def url_blocklist_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering: rows per registered domain after
    dropping a blocked domain — one left-anti equi-join (no forced
    broadcast: blocklists range tens to hundreds of millions of
    domains; AQE's size-based planning decides)."""
    docs = load_table(spark, "documents", sf_dir).withColumn("url", _messy_url())
    blocked = spark.createDataFrame([("example.co.uk",)], "domain string")
    out = urltools.filter_blocked_domains(docs, blocked)
    return out.groupBy("registered_domain").agg(F.count(F.lit(1)).alias("n_rows"))


def _r8(x: str) -> str:
    """DuckDB emulation of Spark's ROUND(double, 8): round the
    shortest decimal repr HALF_UP (VARCHAR -> DECIMAL(38,18) ->
    ROUND), not the binary value — the round-8 fuzz find."""
    return (
        f"CAST(ROUND(CAST(CAST(({x}) AS VARCHAR) AS DECIMAL(38,18)), 8)"
        " AS DOUBLE)"
    )


_DOMAIN_CONC_SQL = f"""
WITH {_URL_CANON_CTE},
km AS (
    SELECT u.registered_domain,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           -- COALESCE restates the operator's all-NULL-mass -> 0
           -- contract (NULL mass would hit opposite null-ordering
           -- defaults in the rank tie-break)
           CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS mass
    FROM url_dom u JOIN documents d USING (doc_id)
    WHERE u.registered_domain IS NOT NULL
    GROUP BY 1
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(mass) AS BIGINT) AS total_mass
    FROM km
), r AS (
    SELECT *,
           CAST(ROW_NUMBER() OVER (ORDER BY mass, registered_domain)
                AS BIGINT) AS asc_rank,
           CAST(SUM(mass) OVER (ORDER BY mass, registered_domain
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass_asc
    FROM km
), s AS (
    SELECT r.*, tot.n_keys, tot.total_mass,
           {_r8('mass * 1.0 / NULLIF(total_mass, 0)')} AS share,
           CAST(n_keys - asc_rank + 1 AS BIGINT) AS mass_rank,
           {_r8('(total_mass - cum_mass_asc + mass) * 1.0'
                ' / NULLIF(total_mass, 0)')} AS cum_share
    FROM r CROSS JOIN tot
), g AS (
    SELECT
        CAST(CAST(SUM(CAST(asc_rank AS DECIMAL(18,0))
                      * CAST(mass AS DECIMAL(18,0))) AS VARCHAR)
             AS DOUBLE) AS s1,
        CAST(CAST(SUM(CAST({_r8('(mass * 1.0 / NULLIF(total_mass, 0))'
                                ' * (mass * 1.0 / NULLIF(total_mass, 0))')}
                      AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS hhi,
        MAX(CASE WHEN mass_rank = 1 THEN share END) AS top1_share,
        MAX(CASE WHEN mass_rank = LEAST(5, n_keys) THEN cum_share END)
            AS topn_share
    FROM s
)
SELECT s.registered_domain, s.n_rows, s.mass, s.share, s.cum_share,
       CAST(s.mass_rank AS INT) AS mass_rank,
       s.n_keys, s.total_mass,
       CASE WHEN s.total_mass > 0 AND s.n_keys > 0 THEN
           {_r8('(2.0 * g.s1'
                ' - (CAST(s.n_keys AS DOUBLE) + 1)'
                '   * CAST(s.total_mass AS DOUBLE))'
                ' / (CAST(s.n_keys AS DOUBLE)'
                '    * CAST(s.total_mass AS DOUBLE))')}
       END AS gini,
       g.hhi, g.top1_share, g.topn_share
FROM s CROSS JOIN g
"""


@twin_query("domain_concentration", oracle=_DOMAIN_CONC_SQL)
def domain_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mass concentration by registered domain
    (operators/concentration.py): per-domain char mass, share, and
    largest-first cumulative share (the Lorenz curve), with the Gini
    coefficient, Herfindahl index, and top-1/top-5 shares repeated as
    corpus-level columns — the diversity dashboard behind C4-style
    per-host caps ("one site owns 30% of the tokens" is a curation
    bug before it is a model bug). One hash aggregate over the corpus;
    ranks/running sums run on the |domains| frame via the two-level
    bucketed prefix-sum kernel (no single-reducer window at 1e8
    hosts); every ratio is one correctly-rounded division of exact
    int64 masses and the Gini/HHI follow the exact-DECIMAL-sum
    discipline, so the oracle hash cannot drift."""
    from bigdata_commerce_spark.operators.concentration import (
        concentration_report,
    )

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "url", _messy_url()
    )
    dom = urltools.with_registered_domain(urltools.with_canonical_url(docs))
    return concentration_report(
        dom.select("registered_domain", "n_chars"),
        key_col="registered_domain",
        mass_col="n_chars",
    )


# ---------------------------------------------------------------------------
# Published curation recipes: Gopher rules, CCNet buckets, DSIR weights
# ---------------------------------------------------------------------------


def _gopher_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in text_ops.GOPHER_STOPWORDS)
    bullets = ", ".join(f"'{b}'" for b in text_ops.GOPHER_BULLET_CHARS)
    lo, hi = text_ops.GOPHER_MIN_WORDS, text_ops.GOPHER_MAX_WORDS
    flags = {
        "flag_word_count": f"(n_words >= {lo} AND n_words <= {hi})",
        "flag_mean_word_len": (
            "(n_words > 0 AND 3 * n_words <= sum_word_len"
            " AND sum_word_len <= 10 * n_words)"
        ),
        "flag_symbol_ratio": "(10 * symbols <= n_words)",
        "flag_bullet_lines": "(10 * bullet_lines <= 9 * n_lines)",
        "flag_ellipsis_lines": "(10 * ellipsis_lines <= 3 * n_lines)",
        "flag_alpha_words": "(5 * alpha_words >= 4 * n_words)",
        "flag_stopwords": "(stop_hits >= 2)",
        "flag_dup_lines": "(10 * dup_lines <= 3 * n_lines)",
    }
    flag_cols = ",\n           ".join(f"{e} AS {n}" for n, e in flags.items())
    passes = " AND ".join(flags.values())
    return rf"""
    WITH g AS (
        SELECT doc_id,
               COALESCE(text, '') AS t,
               list_filter(string_split_regex(COALESCE(text, ''), '[ \t\n\x0b\f\r]+'),
                           x -> x <> '') AS w,
               list_filter(list_transform(string_split(COALESCE(text, ''), chr(10)),
                                          x -> trim(x, ' ' || chr(13))),
                           x -> x <> '') AS l
        FROM documents
    ), c AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(len(l) AS BIGINT) AS n_lines,
               CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                    AS BIGINT) AS sum_word_len,
               CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
                 + CAST(length(t) - length(replace(t, '…', '')) AS BIGINT)
                 + CAST((length(t) - length(replace(t, '...', ''))) // 3
                        AS BIGINT) AS symbols,
               CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                    AS BIGINT) AS alpha_words,
               len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
                                  [{stops}])) AS stop_hits,
               CAST(len(list_filter(l, x -> substr(x, 1, 1) IN ({bullets})))
                    AS BIGINT) AS bullet_lines,
               CAST(len(list_filter(l, x -> ends_with(x, '...')
                                         OR ends_with(x, '…')))
                    AS BIGINT) AS ellipsis_lines,
               CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS dup_lines
        FROM g
    )
    SELECT doc_id, n_words, n_lines,
           {flag_cols},
           ({passes}) AS passes_gopher
    FROM c
    """


@query("gopher_quality_flags", oracle=_gopher_sql())
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher pretraining quality-filter rules (Rae et al. 2021
    §A1.1; the base of Dolma/RefinedWeb filters) as one flag per rule
    + combined verdict (operators/text.py). Engine-parity by
    construction: every ratio threshold is integer arithmetic (10 *
    symbols <= n_words), so no float exists to drift. One projection,
    no shuffle, no UDF."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.gopher_quality_flags(docs)


def _calibration_sql() -> str:
    return f"""
WITH scored AS (SELECT * FROM ({_linscore_sql()}) ls),
flags AS (SELECT doc_id, passes_gopher FROM ({_gopher_sql()}) gf),
j AS (
    SELECT s.prob, f.passes_gopher
    FROM scored s JOIN flags f USING (doc_id)
    WHERE s.prob IS NOT NULL
), per AS (
    SELECT CAST(LEAST(FLOOR(prob * 10), 9) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN passes_gopher THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           SUM(CAST(CAST(prob AS VARCHAR) AS DECIMAL(16,6))) AS psum
    FROM j GROUP BY 1
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM per),
b AS (
    SELECT bin, n_docs, n_pos, n_total,
           {_r8('CAST(CAST(psum AS VARCHAR) AS DOUBLE) / n_docs')}
               AS mean_prob,
           {_r8('n_pos * 1.0 / n_docs')} AS pass_rate
    FROM per CROSS JOIN tot
), b2 AS (
    SELECT *, {_r8('ABS(mean_prob - pass_rate)')} AS gap FROM b
), e AS (
    SELECT CAST(CAST(SUM(CAST({_r8('gap * n_docs / n_total')}
                AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS ece
    FROM b2
)
SELECT b2.bin, b2.n_docs, b2.n_pos, b2.mean_prob, b2.pass_rate, b2.gap,
       b2.n_total, e.ece
FROM b2 CROSS JOIN e
"""


@twin_query("quality_calibration_bins", oracle=_calibration_sql())
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    learned quality filter against the Gopher rule verdict as weak
    label (operators/calibration.py; Naeini 2015 / Guo 2017): decile
    bins of the linear model's probability, each bin's mean predicted
    probability vs its empirical rule-pass rate, |gap| per bin, and
    the mass-weighted ECE as a corpus column — "does the cheap
    learned filter agree with the rule-based one, and where on the
    score axis does it drift". The label side is a pure scan-stage
    projection (gopher flags: integer arithmetic, no shuffle) joined
    onto the scorer's existing per-doc aggregate; binning is ONE
    ≤10-group hash aggregate, so the report adds no corpus-sized
    shuffle of its own. Probabilities enter bin sums via their
    shortest decimal repr (exact DECIMAL(16,6)); rates/gaps are
    8dp-rounded single divisions; ECE sums 8dp terms as
    DECIMAL(20,8)."""
    from bigdata_commerce_spark.operators import linear_model as lm
    from bigdata_commerce_spark.operators.calibration import (
        calibration_bins,
    )

    docs = load_table(spark, "documents", sf_dir)
    w = spark.createDataFrame(_lin_weights(), "bucket long, w double")
    scored = lm.score_linear(
        docs, w, bias=_LIN_BIAS, n_buckets=_LIN_BUCKETS
    )
    flags = text_ops.gopher_quality_flags(docs).select(
        "doc_id", "passes_gopher"
    )
    return calibration_bins(
        scored.join(flags, "doc_id"), "prob", "passes_gopher"
    )


def _preference_sql() -> str:
    return f"""
WITH scored AS (SELECT * FROM ({_linscore_sql()}) ls),
j AS (
    SELECT d.doc_id, d.source,
           CAST(d.n_chars // 100 AS BIGINT) AS len_bucket, s.prob
    FROM documents d JOIN scored s USING (doc_id)
    WHERE s.prob IS NOT NULL
), t AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source, len_bucket ORDER BY prob DESC, doc_id ASC
    ) AS rn FROM j
), b AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source, len_bucket ORDER BY prob ASC, doc_id DESC
    ) AS rn FROM j
), n AS (
    SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM j GROUP BY 1, 2
)
SELECT t.source, t.len_bucket, CAST(t.rn AS INT) AS pair_rank,
       t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.prob AS chosen_score, b.prob AS rejected_score,
       {_r8('t.prob - b.prob')} AS gap
FROM t
JOIN b ON t.source = b.source AND t.len_bucket = b.len_bucket
      AND b.rn = t.rn
JOIN n ON t.source = n.source AND t.len_bucket = n.len_bucket
WHERE t.rn <= 3 AND 2 * t.rn <= n.n AND t.prob - b.prob >= 0.05
"""


@twin_query("preference_pairs", oracle=_preference_sql())
def preference_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO-style preference pairs mined from the quality score
    (operators/preference.py): within each (source, length-bucket)
    group — matched groups, so the pair teaches quality rather than
    length — the i-th best document pairs with the i-th worst
    (i ≤ 3), gated on a ≥0.05 probability gap so near-ties carry no
    noise into the preference loss. Each side comes from a
    rank-limited window (row_number ≤ k, the WindowGroupLimit
    per-partition-heap shape), so no group is ever fully sorted; the
    recombination joins two ≤3-rows-per-group frames. Deterministic:
    ties break on doc_id, pairing is partitioning-independent."""
    from bigdata_commerce_spark.operators import linear_model as lm
    from bigdata_commerce_spark.operators.preference import (
        preference_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    w = spark.createDataFrame(_lin_weights(), "bucket long, w double")
    scored = lm.score_linear(
        docs, w, bias=_LIN_BIAS, n_buckets=_LIN_BUCKETS
    ).select("doc_id", "prob")
    graded = docs.select(
        "doc_id", "source", F.expr("n_chars div 100").alias("len_bucket")
    ).join(scored, "doc_id")
    return preference_pairs(
        graded,
        group_cols=["source", "len_bucket"],
        score_col="prob",
        id_col="doc_id",
        margin=0.05,
        max_pairs=3,
    )


_CCNET_SQL = f"""
WITH {_NLL_DOCS_CTE},
j AS (
    SELECT n.doc_id, n.nll, d.lang, COALESCE(d.lang, chr(1)) AS grp
    FROM nll_docs n JOIN documents d USING (doc_id)
), b AS (
    SELECT grp,
           ROUND(quantile_cont(nll, 1.0 / 3), 6) AS p_head,
           ROUND(quantile_cont(nll, 2.0 / 3), 6) AS p_mid
    FROM j GROUP BY grp
)
SELECT doc_id, lang, nll,
       CASE WHEN nll <= p_head THEN 'head'
            WHEN nll <= p_mid THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j JOIN b USING (grp)
"""


@twin_query("ccnet_perplexity_buckets", oracle=_CCNET_SQL)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2019) per language (operators/lm_quality.perplexity_buckets):
    char-bigram self-NLL + per-language exact tercile boundaries
    (one tiny agg, broadcast back — never a global sort), boundaries
    rounded before comparison per the percentile discipline."""
    from bigdata_commerce_spark.operators.lm_quality import perplexity_buckets

    docs = load_table(spark, "documents", sf_dir)
    return perplexity_buckets(docs)


_DSIR_SQL = f"""
WITH {_bigram_lm_cte()},
{_bigram_lm_cte("_t", "AND lang = 'en'")},
terms AS (
    SELECT b.doc_id,
           ROUND(COALESCE(lt.lp,
                          COALESCE(ROUND(ln(1 / (tt.T + tt.V + 1)), 8), 0.0))
               - COALESCE(lr.lp,
                          COALESCE(ROUND(ln(1 / (tr.T + tr.V + 1)), 8), 0.0)),
                 8) AS term
    FROM bg b
    LEFT JOIN lm_t lt USING (bg)
    LEFT JOIN lm lr USING (bg)
    CROSS JOIN tot_t tt CROSS JOIN tot tr
), w AS (
    -- ROUND the DECIMAL sum (exact half-away), THEN go to double via
    -- VARCHAR: rounding after the double cast diverges on the
    -- 7th-decimal half-boundaries an 8dp-decimal sum hits ~1 in 10
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(CAST(ROUND(SUM(CAST(term AS DECIMAL(20,8))), 6) AS VARCHAR)
                AS DOUBLE) AS logratio
    FROM terms GROUP BY doc_id
), cut AS (
    SELECT ROUND(quantile_cont(logratio, 0.75), 6) AS c FROM w
)
SELECT doc_id, n_bigrams, logratio, (logratio >= c) AS keep
FROM w CROSS JOIN cut
"""


_UNIGRAM_KL_SQL = f"""
WITH {_NORM_CTE}
, tk AS (
    SELECT d.source, unnest(t.toks) AS token
    FROM tok_docs t JOIN documents d USING (doc_id)
    WHERE d.source IN ('src1', 'src2')
), counts AS (
    SELECT token,
           SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c_a,
           SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS c_b
    FROM tk GROUP BY 1
), tot AS (
    SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b, COUNT(*) AS V FROM counts
), terms AS (
    -- contribution rounded via the shortest-decimal-repr emulation
    -- (VARCHAR -> DECIMAL(38,18) -> ROUND): Spark's ROUND(double)
    -- rounds the shortest repr HALF_UP, DuckDB's rounds the binary
    -- value — they diverge on half-boundaries (the round-8 fuzz find)
    SELECT token, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           CAST(ROUND(CAST(CAST(
               ((c_a + 1) * 1.0 / (n_a + V))
               * ln(((c_a + 1) * (n_b + V)) * 1.0 / ((c_b + 1) * (n_a + V)))
           AS VARCHAR) AS DECIMAL(38,18)), 8) AS DOUBLE) AS contribution
    FROM counts CROSS JOIN tot
), total AS (
    -- ROUND the DECIMAL sum (exact half-away), THEN go to double via
    -- VARCHAR — the DSIR discipline
    SELECT CAST(CAST(ROUND(SUM(CAST(contribution AS DECIMAL(20,8))), 6)
                AS VARCHAR) AS DOUBLE) AS kl_total
    FROM terms
)
SELECT token, c_a, c_b, contribution, kl_total, CAST(rn AS INT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY contribution DESC, token ASC) AS rn
    FROM terms
) CROSS JOIN total
WHERE rn <= 20
"""


@twin_query("source_unigram_kl", oracle=_UNIGRAM_KL_SQL)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-shift report between two sources
    (operators/lm_quality.unigram_kl_report): KL(P_src1 || P_src2)
    over Laplace-smoothed token unigrams, with the 20 tokens driving
    the divergence — the signal mixture tuning reads ("which words
    make source A unlike source B"). Per-token contributions are
    8dp-rounded doubles fed by ONE correctly-rounded division of
    exact int64 products (both engines hand ln() the identical
    double); the total sums as DECIMAL(20,8) and rounds in the
    decimal domain, so float order cannot drift the hash. One explode
    + one hash aggregate + a TakeOrderedAndProject top-k — never a
    vocabulary sort."""
    from bigdata_commerce_spark.operators.lm_quality import unigram_kl_report

    docs = load_table(spark, "documents", sf_dir)
    return unigram_kl_report(docs, "src1", "src2")


@query("dsir_importance_weights", oracle=_DSIR_SQL)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023) with the English slice as
    the target distribution (operators/lm_quality.dsir_logratio): two
    broadcast char-bigram LMs scored over ONE exploded pass of the
    corpus, per-bigram terms 8dp-rounded then decimal-summed (the
    bm25 discipline), keep = top quartile by exact global percentile
    (broadcast threshold, no global sort)."""
    from bigdata_commerce_spark.operators.lm_quality import dsir_logratio

    docs = load_table(spark, "documents", sf_dir)
    target = docs.where(F.col("lang") == "en")
    return dsir_logratio(docs, target)


_C4_SQL = rf"""
WITH g AS (
    SELECT doc_id,
           COALESCE(text, '') AS t,
           list_filter(list_transform(string_split(COALESCE(text, ''), chr(10)),
                                      x -> trim(x, ' ' || chr(13))),
                       x -> x <> '') AS l
    FROM documents
), k AS (
    SELECT doc_id, t, l,
           list_filter(l, x -> regexp_matches(x, '[.!?"]\z')
                            AND len(list_filter(string_split_regex(x, '[ \t\n\x0b\f\r]+'),
                                                w -> w <> ''))
                                >= {text_ops.C4_MIN_LINE_WORDS}
                            AND NOT contains(lower(x), 'javascript')) AS kl
    FROM g
), v AS (
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_lines,
           CAST(len(kl) AS BIGINT) AS n_lines_kept,
           (len(kl) >= {text_ops.C4_MIN_KEPT_LINES}
            AND NOT contains(lower(t), 'lorem ipsum')
            AND NOT contains(t, '{{')) AS kept,
           kl
    FROM k
)
SELECT doc_id, n_lines, n_lines_kept, kept,
       CASE WHEN kept THEN array_to_string(kl, chr(10)) END AS text_clean
FROM v
"""


@twin_query("c4_line_filter", oracle=_C4_SQL)
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2019 §2.2;
    operators/text.c4_line_filter): terminal-punctuation + >=5-word +
    no-javascript line scrub, >=3-surviving-lines / no-lorem-ipsum /
    no-brace page verdict, scrubbed text re-joined (NULL for dropped
    pages). Pure projection — integer counts and lowercased contains
    only, no float surface."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.c4_line_filter(docs)


def _recipe_funnel_sql() -> str:
    """The composed-funnel oracle reuses the four recipe oracles
    verbatim as derived tables (DuckDB allows WITH inside a
    subquery), so the funnel cannot drift from the per-recipe
    contracts the driver checks individually."""
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN g.passes_gopher THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher,
           CAST(SUM(CASE WHEN g.passes_gopher AND c.kept
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_c4,
           CAST(SUM(CASE WHEN g.passes_gopher AND c.kept
                          AND COALESCE(cc.bucket IN ('head', 'middle'), FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ccnet,
           CAST(SUM(CASE WHEN g.passes_gopher AND c.kept
                          AND COALESCE(cc.bucket IN ('head', 'middle'), FALSE)
                          AND COALESCE(ds.keep, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dsir
    FROM ({_gopher_sql()}) g
    JOIN ({_C4_SQL}) c USING (doc_id)
    LEFT JOIN ({_CCNET_SQL}) cc USING (doc_id)
    LEFT JOIN ({_DSIR_SQL}) ds USING (doc_id)
    """


@twin_query("published_recipe_funnel", oracle=_recipe_funnel_sql())
def published_recipe_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher -> C4 -> CCNet -> DSIR composed as one progressive
    survivor funnel (operators/lm_quality.published_recipe_funnel) —
    the corpus_curation_funnel discipline applied to the published
    recipes: each stage ANDs all previous gates, LM-unscorable docs
    fail their stage explicitly, single-row data-card output."""
    from bigdata_commerce_spark.operators.lm_quality import (
        published_recipe_funnel as _funnel,
    )

    docs = load_table(spark, "documents", sf_dir)
    return _funnel(docs)



def _top_ngram_sql() -> str:
    levels = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, length(norm) AS n_chars_norm, {n} AS n,
           unnest({_ngram_list_sql(n)}) AS gram
    FROM tok_docs"""
        for n in (2, 3, 4)
    )
    return f"""
    WITH {_NORM_CTE}
    , ex AS (
{levels}
    ), counts AS (
        SELECT doc_id, n, n_chars_norm, gram, COUNT(*) AS c
        FROM ex GROUP BY ALL
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id, n
            ORDER BY c DESC, length(gram) DESC, gram DESC) AS rn
        FROM counts
    )
    SELECT doc_id, CAST(n AS INT) AS n, gram AS top_ngram,
           CAST(c AS BIGINT) AS top_count,
           ROUND(c * length(gram) * 1.0 / n_chars_norm, 4) AS top_char_frac
    FROM ranked WHERE rn = 1
    """


@query("doc_top_ngram_coverage", oracle=_top_ngram_sql())
def doc_top_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules 2-4 (operators/text.
    top_ngram_char_fraction): per (doc, n in 2..4) the dominant word
    n-gram and the text fraction it covers, deterministic total-order
    tie-break, one explode + two doc-keyed aggregates."""
    docs = load_table(spark, "documents", sf_dir)
    out = text_ops.top_ngram_char_fraction(docs)
    return out.select(
        "doc_id", F.col("n").cast("int").alias("n"),
        "top_ngram", "top_count", "top_char_frac",
    )


def _encoding_quality_sql() -> str:
    def cnt(m: str) -> str:
        return (
            f"CAST((length(t) - length(replace(t, '{m}', ''))) // {len(m)} "
            f"AS BIGINT)"
        )

    moji = " + ".join(cnt(m) for m in text_ops.MOJIBAKE_MARKERS)
    return rf"""
    WITH g AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
    c AS (
        SELECT doc_id,
               {cnt('�')} AS n_replacement_chars,
               {moji} AS n_mojibake_hits,
               CAST(len(regexp_extract_all(t, '{text_ops._CONTROL_CLASS}'))
                    AS BIGINT) AS n_control_chars
        FROM g
    )
    SELECT doc_id, n_replacement_chars, n_mojibake_hits, n_control_chars,
           (n_replacement_chars = 0 AND n_mojibake_hits = 0
            AND n_control_chars = 0) AS flag_clean
    FROM c
    """


@query("doc_encoding_quality", oracle=_encoding_quality_sql())
def doc_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detection (operators/text.encoding_quality):
    U+FFFD / mojibake-marker / C0-control counts + clean verdict, all
    exact integer arithmetic — the ftfy-style pre-filter, detection at
    scan speed, repair deferred to a byte-level kernel."""
    docs = load_table(spark, "documents", sf_dir)
    return text_ops.encoding_quality(docs)


def _encoding_repair_sql() -> str:
    from bigdata_commerce_spark.operators.encoding_repair import (
        mojibake_repair_sql,
    )

    def cnt(col: str, m: str) -> str:
        return (
            f"CAST((length({col}) - length(replace({col}, '{m}', ''))) "
            f"// {len(m)} AS BIGINT)"
        )

    def hits(col: str) -> str:
        return " + ".join(cnt(col, m) for m in text_ops.MOJIBAKE_MARKERS)

    return f"""
    WITH g AS (
        SELECT doc_id, text AS t, {mojibake_repair_sql("text")} AS r
        FROM documents
    ), h AS (
        SELECT doc_id, t, r,
               COALESCE(t, '') AS tc, COALESCE(r, '') AS rc
        FROM g
    )
    SELECT doc_id,
           r AS text_repaired,
           COALESCE(r <> t, FALSE) AS was_repaired,
           {hits("tc")} AS n_hits_before,
           {hits("rc")} AS n_hits_after
    FROM h
    """


@query("doc_encoding_repair", oracle=_encoding_repair_sql())
def doc_encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-speed mojibake repair (operators/encoding_repair
    .repair_encoding, the kernel encoding_quality defers to): chained
    replace over the generated cp1252 double-encode damage map, with
    before/after marker accounting. The chain and the oracle's are
    generated from the same map in the same order, so parity holds by
    construction; the exact codec round-trip variant
    (repair_encoding_exact) is byte-fixture-tested in pytest — codecs
    are not SQL-expressible."""
    from bigdata_commerce_spark.operators.encoding_repair import repair_encoding

    docs = load_table(spark, "documents", sf_dir)
    return repair_encoding(docs)
