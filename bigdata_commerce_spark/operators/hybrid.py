"""Hybrid retrieval: reciprocal-rank fusion (RRF) of independently
ranked candidate lists — the standard way to combine lexical (BM25,
`operators/bm25.py`) and semantic (embedding cosine,
`operators/similarity.py`) retrieval without score calibration
(Cormack/Clarke/Buettcher, SIGIR'09: score(d) = Σ_lists 1/(k + rank_d)).

The curation use: topic-targeted corpus slicing where neither pure
keyword match nor pure embedding similarity is trustworthy alone —
fuse both, keep the fused top-N.

Scale shape:
- Each input list is ALREADY a top-m frame (m rows per query — the
  upstream operators do the heavy lifting with their own documented
  shapes: BM25's map-side term filter, cosine's broadcast-probe
  corpus scan). Fusion therefore runs on q×m×#lists rows total.
- Fusion itself is one full-outer join per additional list on the
  (query, id) key and one projection — with top-m inputs these are
  tiny frames that AQE broadcasts; nothing here ever re-touches the
  corpus.
- Determinism: 1/(k + rank) over integer rank is the same double in
  every engine; the fused score is a fixed-order sum of <= #lists
  such terms, rounded once at the end — rank order ties break on id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    lists: dict[str, DataFrame],
    id_cols: list[str],
    rank_col: str = "rank",
    k: int = 60,
    top_n: int | None = None,
) -> DataFrame:
    """Fuse named ranked lists into ``id_cols + [per-list ranks] +
    rrf [+ rank]``. Each input needs ``id_cols`` and an integer
    ``rank_col`` (1-based). A candidate absent from a list simply
    contributes nothing for it (its ``rank_<name>`` is NULL).

    ``top_n`` additionally ranks by (rrf desc, *id_cols) and keeps
    the best N — tiny input, window over one fused frame.
    """
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    sides = [
        df.select(*id_cols, F.col(rank_col).alias(f"rank_{name}"))
        for name, df in lists.items()
    ]
    fused = reduce(lambda a, b: a.join(b, id_cols, "full_outer"), sides)
    contribs = [
        F.coalesce(1.0 / (F.lit(k) + F.col(f"rank_{name}")), F.lit(0.0))
        for name in lists
    ]
    score = F.round(reduce(lambda a, b: a + b, contribs), 6)
    fused = fused.withColumn("rrf", score)
    if top_n is not None:
        w = Window.orderBy(F.desc("rrf"), *[F.asc(c) for c in id_cols])
        fused = (
            fused.withColumn(rank_col, F.row_number().over(w))
            .where(F.col(rank_col) <= top_n)
        )
    return fused
