"""MERGE-shaped JDBC state backend for the streaming sinks.

Kept although no entry point imports it: it is the reference's MySQL
ad-state output, held row-identical to the parquet store by
tests/test_jdbc_state.py and tests/test_streaming.py.

The parquet epoch sinks (``streaming/sinks.py``) carry the three
upsert-DAO merge algebras the ad topology uses
(``adversStat/src/main/scala/JdbcHelper.scala:21-389``) but rewrite the FULL state every
micro-batch — O(total state) I/O per batch, the acknowledged
local-test compromise. This module is the production retarget behind
the same ``BatchFn`` interface, with per-batch I/O proportional to the
batch:

1. the batch's pre-aggregated rows land in a staging table via
   executor-parallel ``df.write.jdbc`` (the scale path: N partitions
   write N connections, exactly how a 1000-executor job feeds a
   warehouse), then
2. one driver-side transaction applies a set-based ``MERGE INTO``
   from staging into the state table and records the epoch in a
   ledger table. A replayed micro-batch finds its epoch already
   recorded and skips the merge — exactly-once state application
   under Structured Streaming's at-least-once ``foreachBatch``.

Tested against embedded Derby (shipped with Spark, supports MERGE
since 10.11); production points the same JdbcConfig at
MySQL/Postgres. Embedded Derby is single-process — in cluster mode
use a networked database.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.sources.sinks import JdbcConfig
from bigdata_commerce_spark.streaming.dialects import (
    EPOCH_COL,
    KH_COL,
    SqlDialect,
    dialect_for_url,
)
from bigdata_commerce_spark.streaming.sinks import BatchFn

# EPOCH_COL: hidden column on append-only state tables recording the
# inserting epoch — what lets read_state(before_epoch=...) replay a
# historical view (the parquet backend gets the same property from its
# per-epoch snapshot dirs). Defined in dialects.py; re-exported here
# for the tests and sinks that import it from this module.

# Stored stand-in for NULL in string columns (see _stage): a bare NUL
# character, which no parsed log field or aggregate key produces.
NULL_SENTINEL = "\x00"

# KH_COL (defined in dialects.py): hidden surrogate-key column — md5
# of the JSON-encoded key struct, computed Spark-side at staging. The
# null-safe OR form of the key equality defeats every RDBMS's index
# planner, so a MERGE against a growing state table degenerates to a
# nested-loop join — measured on this topology: the accumulate merges
# went 0.4s (empty state) -> 21-23s by epoch 1 at ~10k state rows,
# quadratic from there. Leading the ON clause with `t.__kh = s.__kh`
# (indexed at DDL time) restores index lookups; the null-safe
# per-column conjuncts stay as residual predicates, so semantics —
# including NULL keys merging as equal and md5-collision safety — are
# unchanged. to_json(struct(keys)) is injective for a fixed field set
# (absent fields are dropped by name, so every NULL pattern serializes
# distinctly) and stable across Spark versions for the key types the
# sinks use (string/date/timestamp/numeric).


def _with_key_hash(df: DataFrame, key_cols: list[str]) -> DataFrame:
    return df.withColumn(
        KH_COL, F.md5(F.to_json(F.struct(*[F.col(k) for k in key_cols])))
    )


def stage_column_types(dtypes: list[tuple[str, str]], dialect) -> str:
    """createTableColumnTypes declaration for the staging write.

    Every string column gets the dialect's indexable type instead of
    the JDBC writer default (Derby CLOB / MySQL TEXT — neither can be
    a MERGE/join/index key). ``__kh`` is ALWAYS a 32-char md5 hex
    digest and is the ONLY indexed column (create_kh_index), so it
    stages at VARCHAR(32): at the dialect default width a utf8mb4
    VARCHAR(1024) index key is 4096 bytes, past InnoDB's 3072-byte limit — error 1071 is not in
    exists_ok_markers, so create_kh_index on the LIKE-inherited state
    table would wedge every micro-batch on a real MySQL 8 server.
    """
    return ", ".join(
        f"{c} " + ("VARCHAR(32)" if c == KH_COL else dialect.string_stage_type)
        for c, t in dtypes
        if t == "string"
    )


class JdbcStateBackend:
    """Factory for the three merge-mode sinks over one JDBC database.

    All SQL strings come from the ``dialect`` (inferred from the JDBC
    URL when not given): embedded Derby is the integration-tested
    path; MySQL — the reference's actual sink database
    (``JdbcHelper.scala``) — is statement-string-tested
    (``tests/test_jdbc_dialects.py``) since no server exists in the
    sandbox. The staging step, epoch ledger, transaction shape, and
    replay semantics are dialect-independent.
    """

    def __init__(
        self, spark, config: JdbcConfig, dialect: SqlDialect | None = None
    ) -> None:
        self._spark = spark
        self._cfg = config
        self._dialect = dialect or dialect_for_url(config.url)

    # -- raw driver-side connection (py4j) --------------------------------
    def _connect(self):
        jvm = self._spark._jvm
        return jvm.java.sql.DriverManager.getConnection(
            self._cfg.url, self._cfg.user, self._cfg.password
        )

    def _stage(self, batch_df: DataFrame, table: str) -> str:
        stage = f"{table}_stage"
        # NULL strings can't be staged as-is: Spark's Derby dialect
        # maps StringType -> CLOB, so its setNull(CLOB) collides with
        # the VARCHAR columns declared below (Derby 22005). Encode
        # NULL -> NUL-char sentinel on every string column; read_state
        # decodes. Bonus: sentinel equality gives NULL-keyed string
        # rows the merge-as-equal semantics directly.
        for c, t in batch_df.dtypes:
            if t == "string":
                batch_df = batch_df.withColumn(
                    c, F.coalesce(F.col(c), F.lit(NULL_SENTINEL))
                )
        w = (
            batch_df.write.format("jdbc")
            .option("url", self._cfg.url)
            .option("dbtable", stage)
            .option("user", self._cfg.user)
            .option("password", self._cfg.password)
            .option("driver", self._cfg.driver)
            # 10x the 1000-row default: fewer JDBC round trips per
            # partition writer (the trend sink stages ~100k rows/batch)
            .option("batchsize", "10000")
        )
        # Spark's Derby dialect maps string -> CLOB and its MySQL
        # dialect -> TEXT; neither can be a MERGE/join/index key —
        # declare the dialect's indexable type for every string column.
        # __kh is ALWAYS a 32-char md5 hex digest: stage it at
        # VARCHAR(32) so the state table inherited via CREATE TABLE ...
        # LIKE keeps an indexable width — a utf8mb4 VARCHAR(1024) index key is 4096
        # bytes, past InnoDB's 3072-byte limit (error 1071, which is
        # not replay-ignorable, so create_kh_index would wedge every
        # micro-batch on a real MySQL 8 server).
        varchars = stage_column_types(batch_df.dtypes, self._dialect)
        if varchars:
            w = w.option("createTableColumnTypes", varchars)
        w.mode("overwrite").save()
        return stage

    def _exec_ignore(self, st, sql: str, ok_states: tuple[str, ...]) -> None:
        try:
            st.executeUpdate(sql)
        except Exception as e:  # py4j wraps SQLException
            if not any(s in str(e) for s in ok_states):
                raise

    def _apply(
        self, table: str, stage: str, statements: list[str], epoch_id: int
    ) -> bool:
        """Run ``statements`` + epoch-ledger insert in one transaction.
        Returns False (no-op) when the epoch was already applied."""
        d = self._dialect
        conn = self._connect()
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            # Lazy DDL: state table cloned from staging's shape (so
            # __kh and __epoch exist from the first write), ledger
            # keyed by epoch. Derby has no IF NOT EXISTS — ignorable
            # error markers come from the dialect.
            self._exec_ignore(
                st, d.create_state_table(table, stage), d.exists_ok_markers
            )
            # The index behind the MERGE's leading __kh equality (KH_COL
            # note).
            self._exec_ignore(st, d.create_kh_index(table), d.exists_ok_markers)
            self._exec_ignore(
                st, d.create_epoch_ledger(table), d.exists_ok_markers
            )
            conn.commit()
            try:
                # Atomic epoch claim: a duplicate key means this batch
                # already committed (micro-batch replay) -> skip.
                st.executeUpdate(d.insert_epoch(table, epoch_id))
            except Exception as e:
                if any(m in str(e) for m in d.dup_key_markers):
                    conn.rollback()
                    return False
                raise
            for sql in statements:
                st.executeUpdate(sql)
            conn.commit()
            return True
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    def state_location(self, name: str) -> str:
        return name

    def read_state(
        self, table: str, before_epoch: int | None = None
    ) -> DataFrame | None:
        """Latest state, or None before the table's first write.

        ``before_epoch`` reconstructs the state as it stood before the
        given epoch — the property the topology's replay determinism
        depends on (a replayed batch must see the SAME blacklist it
        saw originally, even when a later sink of the same epoch
        already committed before a crash). MERGE-accumulated tables
        keep no history, so only append-only tables can honor it:
        ``distinct_append_sink`` stamps each row with the epoch that
        inserted it (the hidden ``__epoch`` column), and the filter
        here replays any historical view. Asking for ``before_epoch``
        on a table without the stamp raises instead of silently
        returning too-new state."""
        from bigdata_commerce_spark.sources.sinks import read_jdbc

        try:
            df = read_jdbc(self._spark, table, self._cfg)
            df.schema  # force table resolution
        except Exception as e:
            if any(m in str(e) for m in self._dialect.missing_table_markers):
                return None
            raise
        if KH_COL in df.columns:  # hidden surrogate key, never surfaced
            df = df.drop(KH_COL)
        for c, t in df.dtypes:  # decode the staged NULL sentinel
            if t == "string":
                df = df.withColumn(c, F.nullif(F.col(c), F.lit(NULL_SENTINEL)))
        if EPOCH_COL in df.columns:
            if before_epoch is not None:
                df = df.where(F.col(EPOCH_COL) < before_epoch)
            return df.drop(EPOCH_COL)
        if before_epoch is not None:
            raise ValueError(
                f"read_state(before_epoch=...) needs the {EPOCH_COL} stamp, "
                f"which only append-only (distinct_append) tables carry; "
                f"table {table!r} is merge-accumulated and keeps no history"
            )
        return df

    # -- the three merge algebras ------------------------------------------

    def accumulate_sink(
        self, table: str, key_cols: list[str], value_col: str
    ) -> BatchFn:
        """state[key] += batch[key] (AdUserClickCount,
        ``JdbcHelper.scala:124``) as one additive set-based MERGE."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            new = _with_key_hash(
                batch_df.groupBy(*key_cols).agg(F.sum(value_col).alias(value_col)),
                key_cols,
            )
            stage = self._stage(new, table)
            self._apply(
                table,
                stage,
                self._dialect.upsert_accumulate(table, stage, key_cols, value_col),
                epoch_id,
            )

        return fn

    def replace_partition_sink(
        self, table: str, partition_cols: list[str]
    ) -> BatchFn:
        """Delete-then-insert whole partitions present in the batch
        (AdProvinceTop3, ``JdbcHelper.scala:283-309``)."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            # __kh here hashes the PARTITION columns (rows of one
            # partition share it), indexing the DELETE's correlate;
            # the dialect keeps the null-safe residuals — a NULL
            # (non-string) partition value must still replace its rows
            stage = self._stage(_with_key_hash(batch_df, partition_cols), table)
            self._apply(
                table,
                stage,
                [
                    self._dialect.delete_matching_partitions(
                        table, stage, partition_cols
                    ),
                    f"INSERT INTO {table} SELECT * FROM {stage}",
                ],
                epoch_id,
            )

        return fn

    def distinct_append_sink(self, table: str, key_cols: list[str]) -> BatchFn:
        """Set-union of keys, never duplicated (AdBlacklist,
        ``JdbcHelper.scala:21-41``) — insert-on-miss only."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            new = _with_key_hash(
                batch_df.select(*key_cols)
                .distinct()
                .withColumn(EPOCH_COL, F.lit(int(epoch_id)).cast("long")),
                key_cols,
            )
            stage = self._stage(new, table)
            self._apply(
                table,
                stage,
                self._dialect.insert_missing(
                    table, stage, key_cols, [*key_cols, EPOCH_COL, KH_COL]
                ),
                epoch_id,
            )

        return fn
