"""Custom stateful streaming operator: per-user gap sessionization
with event-time timeout, via ``applyInPandasWithState``.

The reference's only stateful primitive is ``updateStateByKey``
(``AdverStat.scala:211-224``) — a running total, which Structured
Streaming expresses as an update-mode aggregation (see
``ad_stream.cumulative_counts``). This module covers the semantics the
built-in operators genuinely can't: state that must EMIT a derived row
when a per-key condition (session gap elapsed under the event-time
watermark) fires, then reset. That's the ``applyInPandasWithState``
surface — Arrow-batched per key-group, state is a typed tuple, timeout
driven by the watermark.

Scale shape: state is one small tuple per ACTIVE user (bounded by the
timeout, not history); each micro-batch shuffles only that batch's
rows by user_id. The same operator at 100 TB/day is bounded by
concurrent-active keys — the classic streaming-sessionization design.

Forward path: Spark 4's ``transformWithStateInPandas`` (needs the
``protobuf`` package for its state server).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start_ms long, last_ms long, n long"


def user_sessions_stateful(
    events: DataFrame,
    gap_seconds: int = 60,
    watermark: str = "1 second",
    time_col: str = "event_time",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessions per user, emitted when the event-time
    watermark passes ``last_event + gap`` (the session is then provably
    complete — no later event can extend it).

    Semantics match ``F.session_window(time_col, gap)``: events closer
    than ``gap_seconds`` merge; a batch containing an internal gap
    emits the completed session(s) immediately, and the trailing open
    session waits in state for its timeout. Output rows:
    (user_id, session_start, session_end=last event, n_events).
    """
    gap_ms = gap_seconds * 1000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def emit(sessions: list[tuple[int, int, int]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": [
                        pd.Timestamp(s, unit="ms") for s, _, _ in sessions
                    ],
                    "session_end": [pd.Timestamp(e, unit="ms") for _, e, _ in sessions],
                    "n_events": [n for _, _, n in sessions],
                }
            )

        if state.hasTimedOut:
            # Watermark passed last+gap: the open session is complete.
            start_ms, last_ms, n = state.get
            state.remove()
            yield emit([(start_ms, last_ms, n)])
            return

        ts = pd.concat([pdf[time_col] for pdf in pdfs]).sort_values()
        start_ms = last_ms = None
        n = 0
        if state.exists:
            start_ms, last_ms, n = state.get
        completed: list[tuple[int, int, int]] = []
        for t in ts:
            t_ms = t.value // 1_000_000
            if start_ms is None:
                start_ms, last_ms, n = t_ms, t_ms, 1
            elif t_ms - last_ms > gap_ms:
                completed.append((start_ms, last_ms, n))
                start_ms, last_ms, n = t_ms, t_ms, 1
            else:
                last_ms, n = max(last_ms, t_ms), n + 1
        state.update((start_ms, last_ms, n))
        # Event-time timeouts must be set strictly beyond the current
        # watermark (late data can leave last+gap behind it).
        state.setTimeoutTimestamp(
            max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        if completed:
            yield emit(completed)

    return (
        events.withWatermark(time_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (numeric per-key state)
# ---------------------------------------------------------------------------

_EWMA_STATE_SCHEMA = "y double, has boolean, last_ms long"


def ewma_stateful(
    events: DataFrame,
    alpha: float,
    watermark: str = "1 second",
    time_col: str = "event_time",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of ``timeseries.ewma_per_key``: per-key EWMA
    state (y, has) evolved across micro-batches, one output row per
    input row carrying its smoothed value — the numeric-state
    complement to the gap sessionizer above (state that UPDATES and
    emits per event, rather than emitting on timeout).

    The recurrence applies ``a*v + b*y`` in the same IEEE op order as
    the batch fold, so when each key's timestamps arrive strictly
    increasing across micro-batches the stream output is BIT-identical
    to the batch operator (pinned by test). Two drop rules, both
    deliberate (a sequential recurrence cannot insert into its past):

    - rows at-or-behind the key's state (``ts <= last seen``) are
      dropped — equal-ts rows must share a batch to be folded in the
      batch path's (ts, value) order, so a later-batch tie cannot be
      folded consistently and is treated as late;
    - Spark's event-time watermark is GLOBAL: one key's clock running
      ahead advances it for every key, and rows below it are dropped
      by the engine before this operator sees them, even if they are
      ahead of their own key's state. Size ``watermark`` to the
      cross-KEY disorder of the source, not per-key disorder — the
      1-second default assumes keys' clocks move together.

    State per key is three scalars — bounded by key cardinality, not
    history. ``key_col`` long / ``value_col`` double by schema
    contract (align input types first).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    a, b = float(alpha), 1.0 - float(alpha)
    out_schema = (
        f"{key_col} long, {time_col} timestamp, {value_col} double, ewma double"
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        y, has, last_ms = (
            state.get if state.exists else (0.0, False, -(2**62))
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.dropna(subset=[time_col, value_col])
        batch = batch.sort_values([time_col, value_col], kind="mergesort")
        out_t, out_v, out_y = [], [], []
        # the tie rule compares against the state AS OF batch entry:
        # equal timestamps inside one batch fold in (ts, value) order
        # like the batch path; a tie with a PREVIOUS batch is late
        entry_last_ms = last_ms
        for ts, v in zip(batch[time_col], batch[value_col]):
            ts_ms = int(pd.Timestamp(ts).value // 1_000_000)
            if ts_ms <= entry_last_ms:
                continue  # at-or-behind prior state: cannot retro-fold
            v = float(v)
            y = (a * v + b * y) if has else v
            has, last_ms = True, ts_ms
            out_t.append(ts)
            out_v.append(v)
            out_y.append(y)
        state.update((y, has, last_ms))
        if out_t:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out_t),
                    time_col: out_t,
                    value_col: out_v,
                    "ewma": out_y,
                }
            )

    return (
        events.withWatermark(time_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            _EWMA_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


_MG_STATE_SCHEMA = "keys array<long>, counts array<long>, n long"


def misra_gries_stateful(
    events: DataFrame,
    k: int = 256,
    n_buckets: int = 32,
    watermark: str = "1 second",
    time_col: str = "event_time",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming heavy-hitter sketch: a bounded Misra-Gries summary
    maintained ACROSS micro-batches, so "who is hot over the whole
    stream" never needs a full-history replay.

    The sketch state is DISTRIBUTED: keys hash into ``n_buckets``
    groups and each bucket holds its own k-entry summary (state is
    bounded by n_buckets x k rows, forever). A key lives in exactly
    one bucket, so each bucket's standard MG guarantees hold against
    ITS OWN traffic n_b: any key with true count > n_b/(k+1) is
    present, and its estimate undercounts by at most n_b/(k+1) —
    tighter than a global-n bound, since n_b ~ n/n_buckets. Each batch
    adds its ``value_counts`` to the bucket's summary; once the summary
    holds more than k keys, the compress step subtracts the
    (k+1)-th-largest count from every entry and drops the keys left at
    zero or below. An MG summary's exact contents are
    boundary-dependent, its GUARANTEES are not — the test asserts the
    guarantees, plus exact equality in the k >= distinct-keys regime
    where compression never fires.

    Each micro-batch emits every bucket's refreshed summary:
    (bucket, key, est_count, n_seen) in update mode — n_seen is the
    bucket's lifetime traffic, so a consumer (or test) takes the
    max-n_seen generation per bucket as current.
    """
    if k < 1 or n_buckets < 1:
        raise ValueError("k and n_buckets must be >= 1")
    out_schema = f"bucket int, {key_col} long, est_count long, n_seen long"

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            keys, counts, n = state.get
            acc = pd.Series(list(counts), index=list(keys), dtype="float64")
        else:
            acc, n = pd.Series(dtype="float64"), 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        vals = batch[key_col].dropna()
        n += int(len(vals))
        if len(vals):
            acc = acc.add(vals.value_counts(), fill_value=0)
            if len(acc) > k:
                thresh = acc.nlargest(k + 1).iloc[-1]
                acc = acc - thresh
                acc = acc[acc > 0]
        state.update(
            ([int(i) for i in acc.index], [int(c) for c in acc.values], int(n))
        )
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(acc),
                key_col: acc.index.astype("int64"),
                "est_count": acc.values.astype("int64"),
                "n_seen": [n] * len(acc),
            }
        )

    bucketed = events.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )
    return (
        bucketed.withWatermark(time_col, watermark)
        .groupBy("bucket")
        .applyInPandasWithState(
            fn,
            out_schema,
            _MG_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
