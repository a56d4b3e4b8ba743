"""Bloom-filter join pruning: map-side membership pre-filters for
semi/anti joins whose key side is too large to broadcast raw.

The 100 TB problem this solves: an exact semi/anti join (incremental
dedup's "is this fingerprint already in the store", contamination's
"is this n-gram in the eval set") shuffles EVERY probe row, even
though almost none of them match (semi) or almost all of them pass
(anti). A Bloom filter of the key side is 10-50× smaller than the raw
keys — 1B 64-char fingerprints are ~64 GB raw but ~1.4 GB of filter
bits at 1% false-positive rate — so the filter broadcasts where the
keys cannot, and the probe becomes a map-side expression: only the
true matches plus an fpp-sized sliver of false positives ever reach
the exact join's shuffle. No false negatives, so prune + exact
verify is EXACT (the same sketch-then-verify contract as MinHash/LSH
dedup and the Misra-Gries heavy hitters).

Representation: the filter is a DataFrame of (word_idx: long,
bits: long) — the set bits of an m-bit array packed into 64-bit
words, at most m/64 rows, only non-zero words materialized. That
makes it mergeable (union + bit_or), incrementally appendable, and
persistable next to the table it summarizes.

Hashing is Kirsch-Mitzenmacher double hashing over md5 (public
construction: two base hashes h1, h2 simulate k independent hashes
as h1 + i*h2 mod m with no measurable fpp loss). Everything —
hashing, word/mask arithmetic, the k probe lookups — is built-in
expressions inside whole-stage codegen; the k probe lookups are k
broadcast hash joins against the (tiny) filter table, so the probe
side NEVER shuffles and the filter can grow to the broadcast limit
rather than a literal-in-plan limit.

Reference parity: the reference has no Bloom primitive; this extends
the blacklist anti-join family (AdClickRealTimeStat.scala filter
path) to key sides beyond broadcast size.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Textbook sizing: m = -n ln p / (ln 2)^2 bits, k = (m/n) ln 2
    hashes. k is capped at 8 — the probe costs one broadcast join per
    hash, and past 8 the fpp gain never pays for the plan width (at
    k=8 the floor is ~0.6% for the matching m)."""
    if n_items <= 0:
        raise ValueError("n_items must be positive")
    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    m = max(64, int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, min(8, int(round(m / n_items * math.log(2)))))
    return m, k


def _base_hashes(col: Column, num_bits: int) -> tuple[Column, Column]:
    """(h1, h2) from the two 60-bit halves of md5 of the key's
    canonical string form. h2 is forced into 1..m-1 so the double-hash
    stride never degenerates to a fixed point."""
    hx = F.md5(col.cast("string"))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint") % num_bits
    h2 = (
        F.conv(F.substring(hx, 17, 15), 16, 10).cast("bigint") % (num_bits - 1)
    ) + 1
    return h1, h2


def bloom_build(
    df: DataFrame, key_col: str, num_bits: int, num_hashes: int
) -> DataFrame:
    """Build the filter table (word_idx, bits) for ``df[key_col]``.
    One explode (k rows per KEY — the small side by contract) + one
    hash aggregate; NULL keys are never stored, mirroring join-key
    semantics (NULL matches nothing)."""
    if num_bits < 2 or num_hashes < 1:
        raise ValueError("need num_bits >= 2 and num_hashes >= 1")
    h1, h2 = _base_hashes(F.col(key_col), num_bits)
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: (h1 + i.cast("bigint") * h2) % num_bits,
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(positions).alias("__pos"))
        .select(
            (F.col("__pos") / 64).cast("bigint").alias("word_idx"),
            F.expr("shiftleft(1L, cast(__pos % 64 as int))").alias("__mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(__mask)").alias("bits"))
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """OR-merge filters built with the SAME (num_bits, num_hashes):
    union + bit_or per word. merge(build(A), build(B)) is row-identical
    to build(A ∪ B) — the mergeable-state property that lets shards
    build filters independently and a coordinator combine them."""
    if not filters:
        raise ValueError("bloom_merge needs at least one filter")
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))


def bloom_might_contain(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Add ``__maybe``: false = DEFINITELY not in the filtered key
    set, true = maybe (false positives at the filter's fpp). k
    broadcast hash joins against the filter table — the probe side
    never shuffles and nothing leaves codegen except the tiny build.
    NULL keys flag false (a NULL join key matches nothing)."""
    if num_bits < 2 or num_hashes < 1:
        raise ValueError("need num_bits >= 2 and num_hashes >= 1")
    h1, h2 = _base_hashes(F.col(key_col), num_bits)
    # materialize the two base hashes once — k positions derive from
    # them with integer arithmetic, so md5 runs twice per row, not 2k
    out = df.withColumn("__h1", h1).withColumn("__h2", h2)
    hit = F.lit(True)
    for i in range(num_hashes):
        p, w, m, b = f"__p{i}", f"__w{i}", f"__m{i}", f"__b{i}"
        out = (
            out.withColumn(
                p,
                (F.col("__h1") + F.lit(i).cast("bigint") * F.col("__h2"))
                % num_bits,
            )
            .withColumn(w, (F.col(p) / 64).cast("bigint"))
            .withColumn(m, F.expr(f"shiftleft(1L, cast({p} % 64 as int))"))
        )
        side = F.broadcast(
            bloom.select(F.col("word_idx").alias(w), F.col("bits").alias(b))
        )
        out = out.join(side, w, "left")
        hit = hit & (F.coalesce(F.col(b), F.lit(0)).bitwiseAND(F.col(m)) != 0)
    drop = ["__h1", "__h2"] + [
        c
        for i in range(num_hashes)
        for c in (f"__p{i}", f"__w{i}", f"__m{i}", f"__b{i}")
    ]
    return out.withColumn("__maybe", F.coalesce(hit, F.lit(False))).drop(*drop)


def _build_for_keys(
    keys: DataFrame, key_col: str, fpp: float
) -> tuple[DataFrame, int, int]:
    # one count action over the (small) key side sizes the filter
    n_items = keys.where(F.col(key_col).isNotNull()).count()
    m, k = bloom_params(max(1, n_items), fpp)
    return bloom_build(keys, key_col, m, k), m, k


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    big_col: str,
    key_col: str | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """EXACT left-semi join (rows of ``big`` whose key is in ``keys``)
    with a Bloom pre-filter: the filter eliminates ~(1-fpp) of the
    non-matching probe rows map-side, so the exact semi join's shuffle
    carries only true matches plus the fpp sliver. No false negatives
    → result is identical to ``big.join(keys, ..., "left_semi")``.

    ``keys`` is scanned twice (filter build + exact verify); persist
    it when it is not a cheap columnar scan.
    """
    key_col = key_col or big_col
    bloom, m, k = _build_for_keys(keys, key_col, fpp)
    pruned = bloom_might_contain(big, big_col, bloom, m, k).where(
        F.col("__maybe")
    )
    # no distinct on the keys side: semi joins already have set
    # semantics, and a distinct would add a full keys shuffle
    return pruned.drop("__maybe").join(
        keys.select(F.col(key_col).alias(big_col)), big_col, "left_semi"
    )


def bloom_anti_join(
    big: DataFrame,
    keys: DataFrame,
    big_col: str,
    key_col: str | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """EXACT left-anti join (rows of ``big`` whose key is NOT in
    ``keys``) with a Bloom pre-filter: rows the filter rejects are
    DEFINITELY absent and pass straight through map-side — only the
    ~fpp false-positive sliver (plus true matches, which the anti join
    then drops) reaches the exact join's shuffle. Identical to
    ``big.join(keys, ..., "left_anti")``; this is the incremental-dedup
    accelerator when the fingerprint store outgrows broadcast.

    ``big`` is scanned twice (pass-through branch + maybe branch) —
    both scans are map-side filtered; persist ``big`` upstream if its
    scan is expensive.
    """
    key_col = key_col or big_col
    bloom, m, k = _build_for_keys(keys, key_col, fpp)
    flagged = bloom_might_contain(big, big_col, bloom, m, k)
    definitely_absent = flagged.where(~F.col("__maybe")).drop("__maybe")
    maybe = flagged.where(F.col("__maybe")).drop("__maybe")
    verified_absent = maybe.join(
        keys.select(F.col(key_col).alias(big_col)), big_col, "left_anti"
    )
    return definitely_absent.unionByName(verified_absent)
