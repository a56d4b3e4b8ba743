"""Exact duplicate-span detection and scrubbing (substring-level
corpus dedup, the Lee et al. 2022 "Deduplicating Training Data Makes
Language Models Better" family).

Document-level dedup (operators/dedup.py) removes whole near-copies;
this module finds EXACTLY-repeated token runs *inside* otherwise
distinct documents — syndicated paragraphs, quoted licenses, templated
intros — which LMs memorize verbatim. The reference engine has no
substring dedup at all; this is part of the training-data extension
surface (SURVEY.md north star).

Method: fingerprint every sliding window of ``window`` consecutive
tokens (md5 over the separator-joined tokens — 128-bit, collisions
negligible at corpus scale and the same engine-portable hash every
sampler in this package uses). A window whose fingerprint occurs >= 2
times anywhere in the corpus (cross-document OR twice within one
document) is duplicated; any exactly-repeated token run of length >=
``window`` is covered because ALL of its aligned windows repeat, and
conversely every flagged window IS an exactly-repeated run of
``window`` tokens — detection is exact, not approximate (suffix
arrays buy the same answer with more machinery; windowed
fingerprinting is the shuffle-friendly form).

Scale shape (everything bounded, nothing quadratic):
- window fingerprints are built MAP-SIDE with array expressions
  (split -> transform(sequence) -> md5(concat_ws(slice))) — the only
  fan-out is one posexplode, linear in corpus token count, the same
  cost class as the shingle pipelines in dedup.py;
- per-fingerprint occurrence counts + the canonical (first)
  occurrence are ONE hash aggregate with map-side partial combine —
  deliberately an aggregate and not a row_number window, because a
  boilerplate window can occur millions of times and a per-hash
  window sort is exactly the skew trap the aggregate avoids;
- marking is a shuffle equi-join of occurrences against that
  aggregate on the fingerprint (AQE broadcasts the dup table when it
  fits, splits it when one hash is hot);
- island-merging of overlapping hits runs per document
  (lag + running-sum gaps-and-islands over a doc_id partition),
  bounded by tokens-per-document, never by corpus size.

Ref: the reference has no counterpart (its dedup surface is
document-level); spec follows Lee et al. 2022 §4 (ExactSubstr) with
the standard windowed-fingerprint realization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Unit separator: cannot appear in whitespace-split tokens, so joined
# token runs collide only when the token sequences are equal.
_SEP = "\u0001"


def _window_occurrences(
    df: DataFrame, window: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, h): the md5 fingerprint of the ``window`` tokens
    starting at 0-based token position ``pos``. Docs shorter than
    ``window`` tokens contribute nothing (guarded sequence: Spark's
    sequence(0, n) with n < 0 would DESCEND, not return empty)."""
    tokens = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), lambda t: t != "")
    n_win = F.size(F.col("__tk")) - F.lit(window) + F.lit(1)
    hashes = F.when(
        n_win > 0,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.md5(F.concat_ws(_SEP, F.slice(F.col("__tk"), i + 1, window))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), tokens.alias("__tk"))
        .select(F.col(id_col), F.posexplode(hashes).alias("pos", "h"))
    )


def duplicate_spans(
    df: DataFrame,
    window: int = 8,
    keep_first: bool = False,
) -> DataFrame:
    """Per-document merged spans of corpus-duplicated token runs.

    Returns (id_col, span_start, span_end, span_tokens): 0-based
    INCLUSIVE token indices of each maximal run covered by duplicated
    windows (hits at positions p1 < p2 merge when p2 - p1 <= window,
    i.e. their [p, p+window-1] intervals overlap or touch).

    ``keep_first=False`` (audit mode): every occurrence of a
    duplicated window is a hit — the spans measure total duplicated
    volume. ``keep_first=True`` (scrub mode): the canonical FIRST
    occurrence of each window — min (id, pos), an aggregate, never a
    per-hash ranking window — is exempt, so one copy of each repeated
    run survives scrubbing (the Lee et al. keep-one policy).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    # persisted: the count/canonical aggregate AND the mark join both
    # consume the window fingerprints — unpersisted, Catalyst
    # recomputes the whole split+md5 projection per consumer (measured
    # 1.8x the wall at 10x corpus: 4.8s -> 2.6s with the cache).
    # neardup_pairs' bucket-table precedent; LRU-evicted when cold.
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    occ = persist_bounded(_window_occurrences(df, window, "text", "doc_id"))
    stats = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("__canon"),
    ).where(F.col("__c") >= 2)
    hits = occ.join(stats, "h")
    if keep_first:
        hits = hits.where(
            F.struct(F.col("doc_id"), F.col("pos")) != F.col("__canon")
        )
    return _merge_islands(hits.select("doc_id", "pos"), window, "doc_id")


def _merge_islands(hits: DataFrame, window: int, id_col: str) -> DataFrame:
    """(id, pos) hit positions -> merged (id, span_start, span_end,
    span_tokens) intervals. Gaps-and-islands per document: partition
    size is bounded by the document's own token count, so the window
    sort never sees more than one doc's positions."""
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= window, F.lit(0)
    ).otherwise(F.lit(1))
    grouped = hits.withColumn("__brk", brk).withColumn(
        "__g", F.sum("__brk").over(w)
    )
    return (
        grouped.groupBy(id_col, "__g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(window) - F.lit(1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def scrub_duplicate_spans(df: DataFrame, window: int = 8) -> DataFrame:
    """Remove corpus-duplicated token runs from every document,
    keeping the canonical first occurrence of each repeated window
    (keep_first spans) so the corpus retains exactly one copy.

    Returns (doc_id, text, removed_tokens): the rebuilt text and
    how many tokens were dropped. Reconstruction joins surviving
    tokens with single spaces, so OUTPUT TEXT IS WHITESPACE-
    NORMALIZED for every document (scrubbed or not) — one uniform
    contract instead of a per-document formatting fork. Documents
    with no duplicated spans keep all their tokens; NULL text is
    treated as ''.

    Shape: the spans pipeline above + ONE left join of documents to
    their per-doc span arrays (collected by a hash aggregate, bounded
    by spans-per-doc) + a map-side filter of token indices against
    that array. No second corpus shuffle.
    """
    spans = duplicate_spans(
        df, window=window, keep_first=True
    )
    return _scrub_with_spans(df, spans, "text", "doc_id")


def _scrub_with_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rebuild every document dropping the tokens covered by
    ``spans`` (any frame with id_col/span_start/span_end). Shared by
    the duplicate scrub and the contamination scrub — one left join +
    a map-side token-index filter, no second corpus shuffle."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    tokens = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), lambda t: t != ""
    )
    doc = df.select(F.col(id_col), tokens.alias("__tk")).join(
        per_doc, id_col, "left"
    )
    spans_arr = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        F.transform(
            F.sequence(
                F.lit(0),
                F.size(F.col("__tk")) - 1,
            ),
            lambda i: F.struct(
                i.alias("i"), F.get(F.col("__tk"), i).alias("t")
            ),
        ),
        lambda s: ~F.exists(
            spans_arr,
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    # empty docs: sequence(0, -1) would descend — guard with when()
    kept = F.when(F.size(F.col("__tk")) > 0, kept).otherwise(
        F.array().cast("array<struct<i:int,t:string>>")
    )
    return doc.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(text_col),
        (F.size(F.col("__tk")) - F.size(kept)).alias("removed_tokens"),
    )


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document merged spans of corpus token runs that appear
    VERBATIM in a benchmark/eval set — the span-level refinement of
    operators/contamination.py's document-level n-gram report. The
    doc-level report answers "which documents overlap the eval set";
    this answers "which exact token runs", so decontamination can
    excise the leaked passage instead of dropping the whole document.

    Same exactness argument as duplicate_spans: any shared run of
    >= window tokens is covered by shared aligned windows. Shape: the
    benchmark side reduces to its DISTINCT window fingerprints (one
    small aggregate) and is BROADCAST — the corpus never shuffles for
    the match; only the (id, pos) hits shuffle for the per-doc island
    merge. A benchmark id column is never needed.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    occ = _window_occurrences(corpus, window, text_col, id_col)
    bench_h = (
        _window_occurrences(
            benchmark.select(F.lit(0).alias("__bid"), F.col(bench_text_col)),
            window,
            bench_text_col,
            "__bid",
        )
        .select("h")
        .distinct()
    )
    hits = occ.join(F.broadcast(bench_h), "h", "left_semi")
    return _merge_islands(hits.select(id_col, "pos"), window, id_col)


def scrub_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Remove every benchmark-overlapping token run from the corpus —
    NO canonical copy survives (eval text must not appear at all,
    unlike the duplicate scrub's keep-one policy). Same rebuild
    contract as scrub_duplicate_spans: (id, text, removed_tokens),
    output text whitespace-normalized."""
    spans = contaminated_spans(
        corpus,
        benchmark,
        window=window,
        text_col=text_col,
        id_col=id_col,
        bench_text_col=bench_text_col,
    )
    return _scrub_with_spans(corpus, spans, text_col, id_col)


def tag_phrases(
    df: DataFrame,
    phrases: "Sequence[str]",
    lowercase: bool = True,
) -> DataFrame:
    """Dictionary phrase tagging (the FlashText / Aho-Corasick job on
    the window-fingerprint kernel): find every occurrence of every
    dictionary phrase in every document — topic tagging, blocklist
    hits, entity spotting over a curated term list.

    Returns (id, pos, phrase, n_tokens): the 0-based token position of
    each match. Matching is token-exact on whitespace tokens (lowered
    on both sides when ``lowercase``, the dictionary-matching
    convention); phrases with no tokens are rejected.

    Shape: the dictionary is CONFIG — its per-length md5 fingerprints
    are computed driver-side (hashlib replays F.md5 over the same
    \u0001-joined tokens byte for byte) and BROADCAST; the corpus
    builds windows only at the lengths the dictionary actually
    contains (one map-side pass + posexplode per distinct length,
    usually 1-3), and never shuffles — each match join is
    broadcast-hash. No Aho-Corasick automaton needed: at a handful of
    distinct lengths, L passes of the existing exact kernel beat a
    per-row python automaton (UDF tax) and stay whole-stage codegen.
    """
    import hashlib

    if not phrases:
        raise ValueError(
            "phrases must be non-empty — an empty dictionary has no "
            "output schema to tag against"
        )
    by_len: dict[int, list[tuple[str, str]]] = {}
    for p in phrases:
        tk = [t for t in (p or "").split() if t]
        if lowercase:
            tk = [t.lower() for t in tk]
        if not tk:
            raise ValueError(f"phrase {p!r} has no tokens")
        h = hashlib.md5(_SEP.join(tk).encode("utf-8")).hexdigest()
        by_len.setdefault(len(tk), []).append((h, p))

    spark = df.sparkSession
    base = df.select(
        F.col("doc_id"),
        (F.lower(F.col("text")) if lowercase else F.col("text")).alias(
            "text"
        ),
    )
    out = None
    for n_tokens, rows in sorted(by_len.items()):
        dict_df = spark.createDataFrame(rows, "h string, phrase string")
        occ = _window_occurrences(base, n_tokens, "text", "doc_id")
        hits = occ.join(F.broadcast(dict_df), "h").select(
            "doc_id", "pos", "phrase", F.lit(n_tokens).alias("n_tokens")
        )
        out = hits if out is None else out.unionByName(hits)
    return out
