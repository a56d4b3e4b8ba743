"""Keyed snapshot diff (change-data-capture between table versions)
and its inverse (apply a change feed to a base snapshot).

The missing half of the snapshot story: `sources/snapshot.py` gives
versioned publishes and time travel; `table_diff` turns two versions
into an insert/update/delete change feed (the input to downstream
incremental consumers — `incremental_agg.refresh`, the fingerprint
store, replication into a serving store), and `apply_changes` folds a
feed back onto a base so `apply_changes(old, table_diff(old, new)) ==
new` — the round-trip contract the tests pin.

Scale shape:
- Both sides are projected to ``keys + compare_cols`` FIRST, so the
  join shuffles only the audited width, not the full row (at 100 TB
  the payload columns dominate; a diff over 3 audited columns moves
  ~3 columns, and Parquet column pruning keeps the scan narrow too).
- ONE full-outer shuffle equi-join on the key columns — both sides
  hash-partition on the same key set, so Spark co-partitions them in
  a single exchange each, and AQE's skew-join split applies as usual.
- Unchanged rows (the overwhelming majority between adjacent
  snapshots) are dropped by a null-safe column comparison BEFORE any
  further operator sees them, so the change feed is |delta|-sized.
- No window functions, no driver collection, no UDFs.

Contract: the key columns must uniquely identify a row within each
side (the usual CDC snapshot invariant). Rows whose keys collide
produce a cross-matched diff, exactly as in any keyed MERGE. NULL
key values are matched null-safely (a NULL-keyed row in both
versions compares as the same entity, not as an insert+delete pair).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "change_type"
INSERT, UPDATE, DELETE = "insert", "update", "delete"


def _compare_cols(old: DataFrame, keys: Sequence[str], compare_cols) -> list[str]:
    if compare_cols is None:
        return [c for c in old.columns if c not in set(keys)]
    return list(compare_cols)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change feed ``new - old``: one row per inserted / deleted /
    changed key, with ``old_<c>`` / ``new_<c>`` for every compared
    column (NULL on the absent side for inserts/deletes).

    ``compare_cols`` defaults to every non-key column of ``old``;
    both frames must carry all of them. Equal rows (null-safe, every
    compared column) are absent from the feed.
    """
    keys = list(keys)
    cols = _compare_cols(old, keys, compare_cols)

    # Presence flags can't use the key columns themselves (a NULL key
    # is a legal value); a full-outer join leaves the *entire* absent
    # side NULL, so any always-non-null marker works — we add one.
    o = old.select(
        *keys, F.lit(True).alias("_in_old"), *[F.col(c).alias(f"old_{c}") for c in cols]
    ).alias("o")
    n = new.select(
        *keys, F.lit(True).alias("_in_new"), *[F.col(c).alias(f"new_{c}") for c in cols]
    ).alias("n")

    # Null-safe key equality (<=>) is still an equi-join to Spark's
    # planner: it hash-partitions on the keys exactly like `=`.
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys],
    )
    joined = o.join(n, cond, "full_outer")

    in_old = F.col("o._in_old").isNotNull()
    in_new = F.col("n._in_new").isNotNull()
    same = reduce(
        lambda a, b: a & b,
        [F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")) for c in cols],
        F.lit(True),
    )
    change = (
        F.when(~in_old, F.lit(INSERT))
        .when(~in_new, F.lit(DELETE))
        .when(~same, F.lit(UPDATE))
    )  # NULL => unchanged
    return (
        joined.withColumn(CHANGE_COL, change)
        .where(F.col(CHANGE_COL).isNotNull())
        .select(
            *[F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys],
            CHANGE_COL,
            *[f"old_{c}" for c in cols],
            *[f"new_{c}" for c in cols],
        )
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Fold a `table_diff` feed onto ``base``: deletes drop the key,
    updates take the feed's ``new_*`` values, inserts append. The
    compared columns are the ones the FEED itself carries (its
    ``new_*`` prefix), so a feed built with an explicit column subset
    applies as is. Columns of ``base`` outside them and the keys pass
    through untouched for surviving rows (and are NULL on inserted
    rows — the feed doesn't carry them).

    One full-outer key join, same scale shape as `table_diff`; the
    changes side of a snapshot delta is |delta|-sized, so Spark's
    size estimates (or AQE at runtime) broadcast it when small.
    """
    keys = list(keys)
    cols = [c[len("new_"):] for c in changes.columns if c.startswith("new_")]
    passthrough = [c for c in base.columns if c not in set(keys) and c not in set(cols)]
    b = base.alias("b")
    ch = changes.select(
        *keys, CHANGE_COL, *[f"new_{c}" for c in cols], F.lit(True).alias("_in_ch")
    ).alias("c")
    cond = reduce(
        lambda a, b_: a & b_,
        [F.col(f"b.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys],
    )
    joined = b.join(ch, cond, "full_outer")
    changed = F.col("c._in_ch").isNotNull()
    return (
        joined.where(~changed | (F.col(CHANGE_COL) != DELETE))
        .select(
            *[F.coalesce(F.col(f"b.{k}"), F.col(f"c.{k}")).alias(k) for k in keys],
            *[
                F.when(changed, F.col(f"new_{c}")).otherwise(F.col(f"b.{c}")).alias(c)
                for c in cols
            ],
            *[F.col(f"b.{c}").alias(c) for c in passthrough],
        )
    )


def diff_snapshots(
    spark,
    table_dir: str,
    keys: Sequence[str],
    v_from: int | None = None,
    v_to: int | None = None,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change feed between two committed versions of a
    `sources/snapshot.py` table — the change-data-feed a versioned
    store needs for incremental consumers. Defaults compare the two
    most recent versions (``v_from`` = previous, ``v_to`` = latest).

    Snapshot isolation makes this safe against concurrent publishes
    (both reads pin their manifests), and `table_diff`'s scale shape
    applies unchanged: projected to keys + audited columns before the
    one full-outer join.
    """
    from bigdata_commerce_spark.sources.snapshot import (
        list_snapshots,
        read_snapshot,
    )

    versions = list_snapshots(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    if v_to is None:
        v_to = versions[-1]
    if v_from is None:
        prior = [v for v in versions if v < v_to]
        if not prior:
            raise ValueError(
                f"no version before {v_to} in {versions} to diff against"
            )
        v_from = prior[-1]
    old = read_snapshot(spark, table_dir, v_from)
    new = read_snapshot(spark, table_dir, v_to)
    return table_diff(old, new, keys, compare_cols=compare_cols)


def schema_diff(old: DataFrame, new: DataFrame):
    """Schema evolution report between two frames (snapshot versions,
    the companion to the data-level `table_diff`): one row per
    added / removed / type-changed column, as a small local
    DataFrame — schemas are driver metadata, no data is scanned.
    Columns: (column, change, old_type, new_type); empty when the
    schemas agree (field order is NOT a change — parquet and
    unionByName don't care, so neither does this report).
    """
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(o.keys() | n.keys()):
        if c not in n:
            rows.append((c, "removed", o[c], None))
        elif c not in o:
            rows.append((c, "added", None, n[c]))
        elif o[c] != n[c]:
            rows.append((c, "type_changed", o[c], n[c]))
    return spark.createDataFrame(
        rows, "column string, change string, old_type string, new_type string"
    )
