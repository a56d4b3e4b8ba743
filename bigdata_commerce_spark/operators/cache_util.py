"""The one module that knows the session's data-cache layers: the
bounded persist registry, and Spark's own cache of persisted
DataFrames and RDDs.

Several operators persist a small projection (an (id, hash) frame, a
shingle stream) because their banded/multi-branch plans would
otherwise recompute an expensive upstream (an image decode, the
tokenizer) once per branch. The returned frame is LAZY, so the
operator cannot unpersist before the caller consumes it — and a
naked ``persist()`` then leaks one cache entry per call for the
session lifetime. ``persist_bounded`` bounds that: past
``PERSIST_BOUND`` live entries it evicts — and explicitly unpersists —
the oldest, so a long-lived session (the query suite, a notebook)
holds a fixed number of these frames however many operator calls it
makes. An evicted frame's consumers stay correct on re-collect: the
lineage recomputes.

Keying. Spark's CacheManager matches a cached plan by its canonical
form, which is what ``DataFrame.semanticHash`` hashes, so the registry
is a dict keyed by that hash: two operators persisting the same
subtree (the minhash-LSH and n-gram-Jaccard dedup paths share one
shingle frame) share one registry entry, just as they share one cache
entry.

Scope. The registry is process-wide, not per session: every session
of a SparkContext (``spark.newSession()`` included) shares its one
CacheManager, so a plan-identical frame built in a second session
reads the first session's cached relation. A per-session registry
would hold two handles to that one cache entry, and evicting either
would drop the cache the other still rides. There is no lock: every
caller of ``persist_bounded`` runs on the driver's main thread (the
streaming sinks, which run on query threads, persist their batches
directly).

Reset. ``reset_caches`` drops everything, blocking, in three steps:
the registry's frames, then ``spark.catalog.clearCache()`` (which
deregisters every persisted Dataset before it returns, including the
operators' raw ``persist()`` calls), then whatever RDD-level persist
is still registered (``localCheckpoint`` blocks, for example).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# 8, not 4: the registry is shared by ~10 operator families and a
# composed pipeline (robust registers 2, jaccard_pairs registers 2,
# plus dedup/dupspans/lm_quality/similarity) can legitimately hold
# more than 4 live frames before the caller materializes; past the
# bound the oldest frame silently loses its multi-consumer perf
# contract (correct via lineage recompute). 8 narrow projections is
# still a bounded, small memory footprint.
PERSIST_BOUND = 8
_REGISTRY: dict[int, DataFrame] = {}


def persist_bounded(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it under its plan's semantic hash;
    unpersist the oldest registered frame once more than
    ``PERSIST_BOUND`` are live. A plan-identical registration replaces
    the old handle and becomes the newest entry, without unpersisting:
    both handles name the same cache entry."""
    # a 32-bit hash: a collision between two different plans would only
    # leave the older frame cached, unbounded, until the next reset
    key = df.semanticHash()
    df = df.persist()
    _REGISTRY.pop(key, None)  # re-inserted below as the newest entry
    _REGISTRY[key] = df
    while len(_REGISTRY) > PERSIST_BOUND:
        old = _REGISTRY.pop(next(iter(_REGISTRY)))
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — its session may be stopped
            pass
    return df


def reset_caches(spark) -> None:
    """Drop every in-session data cache, so the next collect pays for
    materializing its own persists (the bench's cold-shot boundary).
    JVM, codegen and scheduler warmth are not reset.

    Every drop is BLOCKING: async unpersist floods the block manager
    with removal RPCs that stall the NEXT job's scheduling (measured:
    random 7-22 s spikes on trivial collects in the cold bench loop at
    sf0.01). The steps, in order:

    1. unpersist each registry frame and empty the registry;
    2. ``spark.catalog.clearCache()``, which deregisters every other
       persisted Dataset (raw ``persist()`` calls) before it returns;
    3. unpersist whatever RDD ``getPersistentRDDs`` still lists: only
       RDD-level persists such as ``localCheckpoint`` are left by now.
    """
    while _REGISTRY:
        _, old = _REGISTRY.popitem()
        try:
            old.unpersist(blocking=True)
        except Exception:  # noqa: BLE001 — its session may be stopped
            pass
    spark.catalog.clearCache()
    try:
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)
    except Exception:  # noqa: BLE001 — py4j surface, never fail the caller
        pass
