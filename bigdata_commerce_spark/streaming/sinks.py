"""Streaming sinks: idempotent keyed-state merges via foreachBatch.

The reference treats MySQL as a mutable state store with four
hand-rolled upsert DAOs (``adversStat/src/main/scala/JdbcHelper.scala``):
AdUserClickCount *accumulates* (``:124``), AdStat / AdClickTrend
*overwrite per key* (``:230,360``), AdProvinceTop3 *delete-then-insert
per (date, province)* (``:283-309``), AdBlacklist *insert-distinct*
(``:21-41``) — all row-at-a-time JDBC with per-row SELECT-classify.

Here each mode is a ``foreachBatch`` function over a **versioned
parquet state table**: epoch E writes ``epoch=E`` under the state dir,
derived from the previous latest epoch + the batch. Re-running an
epoch rewrites the same content — idempotent under micro-batch
replay, which is exactly the guarantee the reference's DAOs lack.

Cost per merge: the batch is planned once and meets the old state in
one operator — accumulate is one ``groupBy().sum`` over old ∪ batch
(so the batch may be raw per-event rows), distinct-append one
``distinct``, replace-partition one window pass, overwrite one
null-safe anti-join — followed by one parquet write. Reading state
submits no Spark job: the schema comes from a part file's footer on
the driver instead of parquet schema inference. Measured on the ad
topology (``pipelines.run_ad_pipeline``, 1500-event epochs, local[4],
4-core VM): a steady epoch runs 15 Spark jobs, none of them for a
state read.

Full-state rewrite per epoch is the local-test compromise; the
production backend with per-batch I/O proportional to the batch is
``streaming/jdbc_state.JdbcStateBackend`` — the same four merge
algebras as real set-based ``MERGE INTO`` (stage + merge + epoch
ledger), exercised end-to-end against embedded Derby in
``tests/test_jdbc_state.py`` and parity-tested against these sinks.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

BatchFn = Callable[[DataFrame, int], None]

_EPOCH_RE = re.compile(r"^epoch=(\d+)$")


def _latest_epoch(state_dir: str, before_epoch: int | None = None) -> int | None:
    if not os.path.isdir(state_dir):
        return None
    epochs = [
        int(m.group(1))
        for d in os.listdir(state_dir)
        if (m := _EPOCH_RE.match(d)) and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    if before_epoch is not None:
        epochs = [e for e in epochs if e < before_epoch]
    return max(epochs) if epochs else None


def read_state(
    spark: SparkSession, state_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Latest committed state (optionally only epochs < before_epoch),
    or None if there is none.

    Sinks merge against the state *before* their own epoch: epoch E is
    a pure function of (state at E-1, batch E), so replaying a
    micro-batch rewrites identical content instead of double-merging.
    """
    latest = _latest_epoch(state_dir, before_epoch)
    if latest is None:
        return None
    epoch_dir = os.path.join(state_dir, f"epoch={latest}")
    return spark.read.schema(_footer_schema(epoch_dir)).parquet(epoch_dir)


# Footer key under which Spark's parquet writer stores the DataFrame
# schema as JSON (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(epoch_dir: str) -> T.StructType:
    """The schema Spark recorded in one part file's footer, read on the
    driver. Passing it to the reader skips parquet schema inference,
    which is a Spark job per read. Every epoch is written by
    ``_write_epoch``, so every part file of it carries the same schema,
    an empty epoch included (Spark writes one empty part file)."""
    import pyarrow.parquet as pq

    parts = sorted(f for f in os.listdir(epoch_dir) if f.startswith("part-"))
    if not parts:
        raise ValueError(f"committed state epoch {epoch_dir} has no part file")
    part = os.path.join(epoch_dir, parts[0])
    raw = (pq.read_metadata(part).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        raise ValueError(f"{part} carries no Spark schema in its footer")
    return T.StructType.fromJson(json.loads(raw))


# Committed epochs kept per state dir. One committed predecessor is
# required for replay (epoch E re-derives from E-1); a small margin
# keeps debugging pleasant without letting the dir grow as
# epochs x full-state size forever.
KEEP_EPOCHS = 3


def _prune_epochs(state_dir: str, committed_epoch: int) -> None:
    epochs = sorted(
        int(m.group(1))
        for d in os.listdir(state_dir)
        if (m := _EPOCH_RE.match(d))
    )
    # Never prune the just-committed epoch or the KEEP_EPOCHS before it.
    for e in [e for e in epochs if e <= committed_epoch][:-KEEP_EPOCHS]:
        import shutil

        shutil.rmtree(os.path.join(state_dir, f"epoch={e}"), ignore_errors=True)


def _write_epoch(df: DataFrame, state_dir: str, epoch_id: int) -> None:
    df.write.mode("overwrite").parquet(os.path.join(state_dir, f"epoch={epoch_id}"))
    _prune_epochs(state_dir, epoch_id)


class ParquetStateBackend:
    """The epoch-dir sinks behind the pluggable state-backend protocol
    (same factory surface as ``jdbc_state.JdbcStateBackend``): state
    names resolve to ``work_dir/<name>`` epoch directories."""

    def __init__(self, spark: SparkSession, work_dir: str) -> None:
        self._spark = spark
        self._work_dir = work_dir

    def state_location(self, name: str) -> str:
        return os.path.join(self._work_dir, name)

    def read_state(self, name: str, before_epoch: int | None = None) -> DataFrame | None:
        return read_state(self._spark, self.state_location(name), before_epoch)

    def accumulate_sink(self, name: str, key_cols: list[str], value_col: str) -> BatchFn:
        return accumulate_sink(self.state_location(name), key_cols, value_col)

    def overwrite_sink(self, name: str, key_cols: list[str]) -> BatchFn:
        return overwrite_sink(self.state_location(name), key_cols)

    def replace_partition_sink(self, name: str, partition_cols: list[str]) -> BatchFn:
        return replace_partition_sink(self.state_location(name), partition_cols)

    def distinct_append_sink(self, name: str, key_cols: list[str]) -> BatchFn:
        return distinct_append_sink(self.state_location(name), key_cols)


def accumulate_sink(state_dir: str, key_cols: list[str], value_col: str) -> BatchFn:
    """AdUserClickCount semantics (``JdbcHelper.scala:124``):
    state[key] += batch[key] — an additive MERGE. The batch may carry
    any number of rows per key (per-event rows included): old state
    and batch are summed in ONE aggregation over their union."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = batch_df.select(*key_cols, value_col)
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        if old is not None:
            rows = old.unionByName(rows)
        merged = rows.groupBy(*key_cols).agg(F.sum(value_col).alias(value_col))
        _write_epoch(merged, state_dir, epoch_id)

    return fn


def overwrite_sink(state_dir: str, key_cols: list[str]) -> BatchFn:
    """AdStat / AdClickTrend semantics (``JdbcHelper.scala:230,360``):
    batch rows replace state rows with the same key (the batch carries
    the new totals, e.g. from an update-mode stateful aggregation).
    Keys match null-safely, so a NULL key is replaced like any other."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        if old is None:
            merged = batch_df
        else:
            keys = batch_df.select(*key_cols)
            merged = old.join(
                keys, [old[c].eqNullSafe(keys[c]) for c in key_cols], "left_anti"
            ).unionByName(batch_df)
        _write_epoch(merged, state_dir, epoch_id)

    return fn


_TAG, _NEWEST = "__from_batch", "__newest"


def replace_partition_sink(state_dir: str, partition_cols: list[str]) -> BatchFn:
    """AdProvinceTop3 semantics (``JdbcHelper.scala:283-309``):
    delete-then-insert every partition present in the batch.

    Single pass over the batch: old and batch rows are tagged 0/1 and
    unioned, and a partition keeps the rows whose tag is the max over
    it — the batch's where the batch has the partition, the old ones
    elsewhere. Window partitions group NULLs together, so a NULL
    partition value is replaced like any other."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        if old is None:
            merged = batch_df
        else:
            tagged = old.withColumn(_TAG, F.lit(0)).unionByName(
                batch_df.withColumn(_TAG, F.lit(1))
            )
            newest = F.max(_TAG).over(Window.partitionBy(*partition_cols))
            merged = (
                tagged.withColumn(_NEWEST, newest)
                .where(F.col(_TAG) == F.col(_NEWEST))
                .drop(_TAG, _NEWEST)
            )
        _write_epoch(merged, state_dir, epoch_id)

    return fn


def distinct_append_sink(state_dir: str, key_cols: list[str]) -> BatchFn:
    """AdBlacklist semantics (``JdbcHelper.scala:21-41`` + the distinct
    at ``AdverStat.scala:307``): set-union of keys, never duplicated —
    one distinct over old state and batch together."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = batch_df.select(*key_cols)
        old = read_state(spark, state_dir, before_epoch=epoch_id)
        if old is not None:
            rows = old.unionByName(rows)
        _write_epoch(rows.distinct(), state_dir, epoch_id)

    return fn
