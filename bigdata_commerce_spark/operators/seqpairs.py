"""Sequence training-example construction: (context, target) pairs
from ordered event logs — the dataset-building step for next-event /
session-recommendation models (the sequence-modeling counterpart of
pack_sequences' token-budget packing).

Given a keyed, timestamped event stream, emit one example per event
that has a full ``context_len`` history: the previous context_len
event types (oldest first) and the event as the prediction target.
Models that train on behavioral logs (next-purchase, churn, session
intent) consume exactly this shape.

Scale shape: ONE shuffle (groupBy key) collecting each key's ordered
history into an array — bounded by events-per-key, the same
per-key-history regime as timeseries.ewma_per_key's fold (at
100 TB, keys with ~1e5+ events should be pre-capped with
mixing.rate_cap_per_key_bucket; the array is the point here, because
every example needs a contiguous ordered slice). Window construction
is MAP-SIDE array expressions (transform over sequence + slice) and
one posexplode; no ranking windows, no self-joins.

Determinism: ordering is (ts, tiebreak) via array_sort over structs —
total order, so the emitted examples are identical across runs,
partitionings, and engines (DuckDB-oracle hash-checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def next_event_examples(df: DataFrame, context_len: int) -> DataFrame:
    """(key, target_idx, context, target): for every event at ordered
    position i >= context_len within its key, context = the
    context_len event values at positions [i-context_len, i), oldest
    first, and target = the value at i. Keys with <= context_len
    events emit nothing (only FULL contexts — padding policy belongs
    to the trainer, not the corpus). NULL-timestamp rows are excluded
    (no defined position). target_idx is the 0-based ordered position
    of the target event within its key."""
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    seq = (
        df.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("k"),
                        F.col("event_type").alias("e"),
                    )
                )
            ).alias("__seq")
        )
        .select(
            F.col("user_id"),
            F.transform(F.col("__seq"), lambda s: s["e"]).alias("__ev"),
        )
    )
    n = F.size(F.col("__ev"))
    L = F.lit(context_len)
    examples = F.when(
        n > L,
        F.transform(
            # i = target position, context_len .. n-1
            F.sequence(L, n - 1),
            lambda i: F.struct(
                i.alias("target_idx"),
                F.slice(F.col("__ev"), i - L + 1, context_len).alias("context"),
                F.get(F.col("__ev"), i).alias("target"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<target_idx:int,context:array<string>,target:string>>"
        )
    )
    ex = seq.select("user_id", F.explode(examples).alias("__x"))
    return ex.select(
        "user_id",
        F.col("__x.target_idx").alias("target_idx"),
        F.col("__x.context").alias("context"),
        F.col("__x.target").alias("target"),
    )
