"""Edit-distance similarity join: all cross-table pairs within a
Levenshtein threshold — entity resolution when the difference metric
is character edits (typos, OCR noise, template drift), the
complement of `dedup.similarity_join`'s token-set Jaccard.

Candidate generation is the Ed-Join / q-gram filtering family
(Gravano et al., VLDB'01 "Approximate String Joins in a Database
(Almost) for Free"; Xiao/Wang/Lin, ICDE'08 "Ed-Join"):

- An edit operation destroys at most ``q`` of a string's
  overlapping q-grams, so two strings within distance ``d`` share
  all but at most ``d*q`` of either side's gram occurrences.
  Pigeonhole: pick ANY ``d*q + 1`` gram occurrences of the left
  string — at least one gram value must also occur in the right
  string. Candidates are therefore complete from ONE equi-join of
  the left side's ``d*q + 1`` chosen grams against the right side's
  distinct grams.
- Which ``d*q + 1``? The globally rarest (by right-side document
  frequency, position as tiebreak) — PPJoin's prefix-ordering trick:
  completeness holds for any choice, selectivity comes from joining
  on the grams fewest right-side strings contain.
- Length filter ``|len_l - len_r| <= d`` rides the candidate join.
- Verification is Spark's THRESHOLD-banded levenshtein
  (``F.levenshtein(l, r, d)``, the O(d·n) diagonal band, -1 past the
  threshold) — never the full O(n²) DP, and only on candidates.

Scale shape: right-side gram set + df = one explode + one agg; left
prefix = one explode bounded to d*q+1 rows per string; candidates =
one equi-join on gram + pair-distinct; verify = candidates only.
Hot (frequent) grams are exactly what the rarity ordering keeps out
of the join. Left strings too short for the pigeonhole (fewer than
``d*q + 1`` gram occurrences, i.e. ``len < (d+1)*q``) can share ZERO
grams with a true match; they route through an exact length-filtered
theta join whose right side the length filter bounds to
``len < (d+1)*q + d`` — both sides tiny whenever ``d`` is sensible
for the corpus. The two paths are disjoint by the left-length split.

The reference has no string-similarity operator; this extends the
dedup/entity-resolution family (SURVEY §2 training-data extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prep(df: DataFrame, id_col: str, text_col: str, side: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{side}id"),
        F.col(text_col).alias(f"{side}text"),
        F.length(text_col).alias(f"{side}len"),
    )


def _gram_rows(df: DataFrame, side: str, q: int) -> DataFrame:
    """One row per gram OCCURRENCE: (id, pos, gram). Strings shorter
    than ``q`` have no grams — sequence(1, 0) would count DOWN in
    Spark, so the empty case is an explicit branch, not a clamp."""
    t = f"{side}text"
    grams = F.expr(
        f"IF(length({t}) < {q},"
        f" CAST(array() AS array<struct<pos:int,gram:string>>),"
        f" transform(sequence(1, length({t}) - {q - 1}),"
        f"           i -> struct(CAST(i AS INT) AS pos, substring({t}, i, {q}) AS gram)))"
    )
    return df.select(f"{side}id", F.explode(grams).alias("g")).select(
        f"{side}id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    max_distance: int,
    q: int = 3,
) -> DataFrame:
    """``(lid, rid, distance)`` for every cross pair with
    ``levenshtein(l, r) <= max_distance``. Exact (complete candidates
    + exact banded verify); ids need only be unique per side."""
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if q < 1:
        raise ValueError("q must be >= 1")
    d = int(max_distance)
    prefix_n = d * q + 1
    # strings with fewer than prefix_n gram occurrences, i.e.
    # len - q + 1 < prefix_n  <=>  len < (d+1)*q
    short_len = (d + 1) * q

    L = _prep(left, "doc_id", "text", "l")
    R = _prep(right, "doc_id", "text", "r")

    # --- gram path: LEFT long enough for the pigeonhole (right
    # length is irrelevant — the argument counts the left side's
    # destroyed occurrences only).
    r_all_sets = _gram_rows(R, "r", q).select("rid", "gram").distinct()
    # right-side document frequency orders the left prefix by rarity
    # (grams absent from the right get df 0 — rarest of all: joining
    # on them is free and they prune hardest)
    gram_df = r_all_sets.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))

    # only long-left strings can use the pigeonhole — short-left rows
    # take the theta path below and must not pay the gram pipeline
    l_grams = _gram_rows(L.where(F.col("llen") >= short_len), "l", q)
    l_pref = (
        l_grams.join(gram_df, "gram", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .groupBy("lid")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("df", "pos", "gram"))),
                1,
                prefix_n,
            ).alias("pref")
        )
        .select("lid", F.explode("pref.gram").alias("gram"))
        .distinct()
    )
    cand_gram = (
        l_pref.join(r_all_sets, "gram")
        .select("lid", "rid")
        .distinct()
        .join(L.where(F.col("llen") >= short_len), "lid")
        .join(R, "rid")
    )

    # --- short-left path: left below the pigeonhole bound. The
    # length filter bounds its partners to rlen < (d+1)*q + d, so
    # both sides of this theta join are small whenever d is sensible
    # for the corpus (bucket by length via range_join if they're
    # not). Disjoint from the gram path by the llen split.
    Ls = L.where(F.col("llen") < short_len)
    Rs = R.where(F.col("rlen") < short_len + d)
    cand_short = Ls.join(
        Rs, F.abs(F.col("llen") - F.col("rlen")) <= d, "inner"
    )

    def _verify(cand: DataFrame) -> DataFrame:
        # length filter + the banded (threshold) levenshtein: -1 means
        # past the threshold; candidates only ever pay the O(d·n) band
        return (
            cand.where(F.abs(F.col("llen") - F.col("rlen")) <= d)
            .withColumn("distance", F.levenshtein("ltext", "rtext", d))
            .where(F.col("distance") >= 0)
            .select("lid", "rid", "distance")
        )

    return _verify(cand_gram).unionByName(_verify(cand_short))
