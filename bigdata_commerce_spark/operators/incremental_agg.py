"""Incremental aggregate maintenance: refresh a materialized
aggregate with a data delta, never rescanning history.

A 100 TB rollup (daily revenue per region, per-ad counters, quality
sums per source) cannot be recomputed from the base table every
ingest cycle. The standard answer is self-maintainable aggregates:
keep the aggregate table in PARTIAL-STATE form (count / sum / min /
max are their own partial states; avg is the (sum, count) pair), then
each refresh aggregates ONLY the delta and merges the two small
tables. Cost per cycle: one scan of the delta + one shuffle of
(existing ∪ delta-partials) — both proportional to the delta and the
key cardinality, independent of history size.

The same algebra is why rollup_hierarchy's lossless re-aggregation
is mergeable; this module is the plain-measure counterpart.

Deletes/updates are out of scope by design: count/sum are
subtractable (feed the delta with negated measures) but min/max are
not — a retraction there needs a partition re-aggregation
(sources/governance.py owns targeted rewrites).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# measure spec: name -> ("count", None) | ("sum"|"min"|"max", source column)
MeasureSpec = dict[str, tuple[str, str | None]]

_MERGE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _check(measures: MeasureSpec) -> None:
    if not measures:
        raise ValueError("need at least one measure")
    for name, (kind, col) in measures.items():
        if kind not in _MERGE:
            raise ValueError(f"unsupported measure kind {kind!r} for {name!r}")
        if (kind == "count") != (col is None):
            raise ValueError(f"{name!r}: count takes no column, others need one")


def partial_agg(df: DataFrame, keys: list[str], measures: MeasureSpec) -> DataFrame:
    """Aggregate base rows into partial-state form — the layout the
    materialized aggregate table must be stored in."""
    _check(measures)
    aggs = []
    for name, (kind, col) in measures.items():
        if kind == "count":
            aggs.append(F.count(F.lit(1)).alias(name))
        else:
            aggs.append(getattr(F, kind)(col).alias(name))
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(
    existing: DataFrame, delta: DataFrame, keys: list[str], measures: MeasureSpec
) -> DataFrame:
    """Merge two partial-state aggregate tables (union + re-agg with
    each measure's merge function: count/sum add, min/max fold).
    Associative and commutative, so refresh cycles compose in any
    order — asserted by property tests."""
    _check(measures)
    merged = existing.unionByName(delta)
    aggs = [_MERGE[kind](name).alias(name) for name, (kind, _) in measures.items()]
    return merged.groupBy(*keys).agg(*aggs)


def refresh_with_delta(
    existing: DataFrame, delta_rows: DataFrame, keys: list[str], measures: MeasureSpec
) -> DataFrame:
    """One maintenance cycle: partial-aggregate the delta's base rows
    and merge into the existing aggregate table."""
    return merge_partials(existing, partial_agg(delta_rows, keys, measures), keys, measures)


def finalize(df: DataFrame, derived: dict[str, Column]) -> DataFrame:
    """Attach non-mergeable derived measures (avg = sum/count, rates,
    ratios) at READ time — they are views over the partial states and
    must never be stored, or the aggregate stops being mergeable."""
    out = df
    for name, col in derived.items():
        out = out.withColumn(name, col)
    return out
