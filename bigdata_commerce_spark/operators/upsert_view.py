"""Merge-on-read over an append-only log (the lakehouse upsert
pattern without a table format).

Writers append every change as a new row stamped with a version (a
timestamp, an offset, a monotonically increasing id); readers
resolve the CURRENT state by keeping the latest version per key.
Doing this at read time — instead of rewriting state per change —
is how Hudi/Delta merge-on-read tables, CDC mirrors, and
dimension-table snapshots behave.

One shuffle on the key; the per-key reduction is a max_by aggregate
(map-side partial, no window sort) when only the latest row is
needed, which beats the row_number() formulation — a window must
SORT each key group, an aggregate only folds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_by_key(
    log: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Current-state view of an append log: the row with the highest
    ``version_col`` per key (ties broken by ``event_id``,
    so colliding versions still give one deterministic row).

    Returns the full row, one per key, original column order.
    """
    data_cols = [c for c in log.columns if c not in key_cols]
    ver = F.struct(
        F.col(version_col),
        *([F.col("event_id")] if version_col != "event_id" else []),
    )
    packed = log.groupBy(*key_cols).agg(
        F.max_by(F.struct(*data_cols), ver).alias("__row")
    )
    return packed.select(
        *key_cols, *[F.col(f"__row.{c}").alias(c) for c in data_cols]
    )
