"""Distributed BPE tokenizer training — learn merge rules from the
corpus itself (Sennrich et al. 2016, the public construction behind
GPT-2/SentencePiece-BPE vocabularies), plus the matching encoder.

Why it belongs in a training-data engine: token budgets, packing and
mixture math all run on TOKEN counts, and those come from a tokenizer
trained on a corpus sample. The engine already counts tokens with a
fixed regex (`bpe_token_counts`); this closes the loop by training
the merge table at corpus scale.

Scale shape — the load-bearing observation is that BPE iterates over
the VOCABULARY, not the corpus:

- ONE corpus-scale pass: whitespace-tokenize + hash-aggregate to a
  (word, freq) table. 100 TB of text collapses to tens of millions of
  distinct words — the working set for everything after.
- Per merge iteration (all over the tiny vocab table): explode each
  word's current symbol sequence into adjacent pairs weighted by word
  freq → one hash aggregate → global argmax (ONE row to the driver
  per iteration) → apply the merge map-side with an ``F.aggregate`` fold (the
  greedy left-to-right non-overlapping replace, entirely in codegen).
- Lineage: each iteration nests one fold expression; a
  ``localCheckpoint`` every ``checkpoint_every`` rounds truncates it
  (the Pregel-loop cadence).

Determinism: ties on pair frequency break lexicographically on
(left, right) — stated, tested, and engine-independent, so two runs
(or Spark vs the driver-side reference implementation in the tests)
learn the identical merge list.

The encoder applies a FIXED merge list in training order — each merge
is one fold expression over the symbol array, so |merges| folds; fine
for the quality-scoring vocabularies this engine needs (hundreds of
merges), not a substitute for a native tokenizer at inference time.

Reference parity: no counterpart (the reference has no NLP surface);
this extends the engine's token-counting family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# end-of-word sentinel, appended as its own symbol so merges never
# cross word boundaries and the learned units distinguish "er</w>"
# from "er" (the standard construction)
EOW = "▁"


def word_frequencies(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """The one corpus-scale pass: (word, freq) via whitespace
    tokenization. Everything downstream iterates over this table."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Split a word into single-character symbols + the EOW marker."""
    chars = F.split(word, "")
    # split("ab", "") -> ["a","b"] in Spark 4; guard empties anyway
    return F.concat(
        F.filter(chars, lambda c: c != ""), F.array(F.lit(EOW))
    )


def _merge_pair(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping replace of the adjacent
    pair (left, right) with its concatenation — one fold expression,
    no UDF. A freshly merged token is NOT re-eligible as the left side
    within the same pass (fold appends, then only ever inspects the
    accumulator's last element), which is exactly the standard BPE
    single-pass semantics."""
    # a merged element can never itself equal `left` (that would need
    # right == ""), so matching on the accumulator's last element alone
    # cannot cascade within one pass — no extra state needed
    l, r, lr = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == l) & (x == r),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lr)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    vocab: DataFrame,
    num_merges: int,
    min_pair_freq: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merge rules from a (word, freq) table.
    Returns the ordered merge list (the tokenizer artifact). Stops
    early when no adjacent pair reaches ``min_pair_freq``.

    Each iteration: pair counts (one explode + one hash agg over the
    vocab table), argmax with the lexicographic tie-break (one driver
    row), map-side fold to apply the merge.
    """
    if num_merges < 0:
        raise ValueError("num_merges must be >= 0")
    cur = vocab.select(
        _initial_symbols(F.col("word")).alias("syms"), F.col("freq")
    ).persist()
    merges: list[tuple[str, str]] = []
    try:
        cur.count()  # materialize before the loop
        for it in range(num_merges):
            pairs = cur.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            top = (
                pairs.groupBy("pair.left", "pair.right")
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < min_pair_freq:
                break
            left, right = top[0]["left"], top[0]["right"]
            merges.append((left, right))
            nxt = cur.select(
                _merge_pair(F.col("syms"), left, right).alias("syms"),
                "freq",
            )
            if (it + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            nxt = nxt.persist()
            try:
                nxt.count()
            finally:
                cur.unpersist()
                cur = nxt
    finally:
        cur.unpersist()
    return merges


def encode_tokens(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a trained merge list: adds ``out_col`` (array<string> of
    BPE tokens, EOW markers included) — |merges| fold expressions per
    word, all codegen, zero shuffle (plain projection)."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")

    def encode_word(w: Column) -> Column:
        syms = _initial_symbols(w)
        for left, right in merges:
            syms = _merge_pair(syms, left, right)
        return syms

    return docs.withColumn(
        out_col, F.flatten(F.transform(words, encode_word))
    )


def train_bpe_reference(
    word_freqs: dict[str, int], num_merges: int, min_pair_freq: int = 2
) -> list[tuple[str, str]]:
    """Driver-side reference implementation (the test oracle):
    identical semantics, plain Python."""
    vocab = {
        tuple(list(w) + [EOW]): f for w, f in word_freqs.items() if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_freq:
            break
        (left, right) = best[0]
        merges.append((left, right))
        new_vocab = {}
        for syms, f in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def save_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist the ordered merge list as a tiny parquet artifact —
    the tokenizer IS this list; training once per corpus snapshot and
    loading everywhere is the production shape (same
    build-once/serve-many contract as the IVF index store)."""
    spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "merge_idx int, left string, right string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a merge list saved by save_merges, in training order."""
    return [
        (r.left, r.right)
        for r in spark.read.parquet(path).orderBy("merge_idx").collect()
    ]
