"""Page-flow funnel / single-step conversion (req 5).

The reference sorts each session's actions in executor memory, zips
adjacent pages into ``"a_b"`` split strings, and countByKey's to the
driver (``pageState/src/main/scala/PageOneStepConvertRate.scala:44-99``),
throwing when a target transition never occurs (SURVEY.md §2.12/9).

Here the transition is a ``lead`` window (one shuffle on the session
key), target transitions are a broadcast-able in-plan filter, and
missing transitions count as 0 via a left join from the flow spec.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_commerce_spark.functions import ratio


def step_transitions(
    df: DataFrame,
    session_col: str = "session_id",
    ts_col: str = "ts",
    page_col: str = "page_id",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Add ``next_page`` = the following page within the session
    (lead window; replaces the reference's per-session sort+zip)."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(session_col).orderBy(*order)
    return df.withColumn("next_page", F.lead(page_col).over(w))


def funnel_counts(
    spark: SparkSession,
    df: DataFrame,
    flow: Sequence[str],
    session_col: str = "session_id",
    ts_col: str = "ts",
    page_col: str = "page_id",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Oracle-friendly variant: transition counts + rate vs the flow
    start count, fully in-plan (no driver fold), missing -> 0."""
    trans = step_transitions(df, session_col, ts_col, page_col, tiebreak_col)
    pairs = [(str(flow[i]), str(flow[i + 1]), i + 1) for i in range(len(flow) - 1)]
    spec = spark.createDataFrame(pairs, "from_page string, to_page string, step int")
    counts = (
        trans.where(F.col("next_page").isNotNull())
        .groupBy(
            F.col(page_col).cast("string").alias("from_page"),
            F.col("next_page").cast("string").alias("to_page"),
        )
        .agg(F.count(F.lit(1)).alias("split_count"))
    )
    start = df.where(F.col(page_col).cast("string") == str(flow[0])).agg(
        F.count(F.lit(1)).alias("start_count")
    )
    return (
        spec.join(F.broadcast(counts), ["from_page", "to_page"], "left")
        .crossJoin(F.broadcast(start))
        .select(
            "step",
            F.concat_ws("_", "from_page", "to_page").alias("split"),
            F.coalesce(F.col("split_count"), F.lit(0)).alias("split_count"),
            ratio(F.coalesce(F.col("split_count"), F.lit(0)), F.col("start_count")).alias(
                "rate_vs_start"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Windowed funnel depth (ClickHouse windowFunnel family)
# ---------------------------------------------------------------------------

def window_funnel(
    events: DataFrame,
    steps: Sequence[str],
    window_seconds: int,
) -> DataFrame:
    """Max funnel depth per key: the largest L such that events
    e_1 < e_2 < ... < e_L exist with types = ``steps[0..L-1]`` and
    ``ts(e_L) - ts(e_1) <= window`` — the sliding-window sequential
    conversion measure (ClickHouse's ``windowFunnel``; the
    time-bounded generalization of the reference's adjacent-page
    funnel, ``PageOneStepConvertRate.scala:20-99``). Returns one row
    per key that has at least one step-1 event: ``(user_id,
    funnel_level)``.

    Exact DP, one pass in event-time order: ``state[i]`` = the LATEST
    chain-start timestamp among chains reaching level i+1 (keeping
    the latest start dominates — the window is measured from the
    start, so a later start can extend anything an earlier one
    could). Each event updates the array from the PRIOR state, so
    chains are strictly ordered. Implemented as a sequential Catalyst
    fold over the per-key sorted event structs (the EWMA machinery):
    one shuffle, integer-microsecond arithmetic — bit-exact and
    engine-portable (the oracle replays the DP as a recursive CTE).
    Events whose type is not in ``steps`` are filtered BEFORE the
    collect, so per-key state is bounded by matching events only.
    Equal timestamps order by (ts, type) and count as sequential.
    """
    steps = list(steps)
    k = len(steps)
    if k < 1:
        raise ValueError("steps must be non-empty")
    if window_seconds < 1:
        raise ValueError("window_seconds must be >= 1")
    w_us = int(window_seconds) * 1_000_000

    ev = events.where(
        F.col("event_type").isin(steps) & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("event_type").alias("ty"),
    )
    items = F.sort_array(F.collect_list(F.struct("t", "ty")))
    init = F.array(*[F.lit(-1).cast("bigint")] * k)

    def merge(acc, x):
        elems = [
            F.when(
                x["ty"] == steps[0], F.greatest(acc[0], x["t"])
            ).otherwise(acc[0])
        ]
        for i in range(1, k):
            elems.append(
                F.when(
                    (x["ty"] == steps[i])
                    & (acc[i - 1] >= 0)
                    & (x["t"] - acc[i - 1] <= w_us),
                    F.greatest(acc[i], acc[i - 1]),
                ).otherwise(acc[i])
            )
        return F.array(*elems)

    g = ev.groupBy("user_id").agg(items.alias("__items"))
    state = F.aggregate(F.col("__items"), init, merge)
    # reached levels are prefix-closed, so the count IS the max level
    level = F.aggregate(
        state,
        F.lit(0),
        lambda n, v: n + F.when(v >= 0, 1).otherwise(0),
    )
    return g.select("user_id", level.alias("funnel_level")).where(
        F.col("funnel_level") >= 1
    )
