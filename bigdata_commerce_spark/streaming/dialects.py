"""SQL dialects for the JDBC MERGE state backend.

Kept although no entry point imports it: it is the MySQL dialect of the
reference's ad-state output (streaming/jdbc_state.py), pinned by
tests/test_jdbc_dialects.py.

The reference's actual sink database is MySQL (``adversStat/src/main/
scala/JdbcHelper.scala:82-137`` — row-at-a-time SELECT-then-INSERT-or-
UPDATE DAOs over a MySQL pool); the backend here is proven end-to-end
against embedded Derby (the only database in the sandbox). This module
makes the three merge algebras dialect-portable: every SQL string the
backend executes is produced by a dialect object, so the Derby
integration tests pin the executable behavior and the MySQL dialect is
pinned by exact statement-string tests (``tests/test_jdbc_dialects.py``)
until a real server can run them.

Why the MySQL upsert is NOT ``INSERT ... ON DUPLICATE KEY UPDATE``:
ODKU needs a UNIQUE index to detect conflicts, and the only equi-
indexable key the backend has is the md5 surrogate ``__kh`` (the real
key equality is null-safe and multi-column — un-indexable; see the
KH_COL note in ``jdbc_state.py``). A UNIQUE(__kh) conflict target
would make an md5 collision between two DIFFERENT keys silently merge
their state, where the Derby MERGE keeps null-safe per-column
residual predicates that defuse exactly that. The portable equivalent
that preserves both properties is the classic two-statement upsert —
``UPDATE t JOIN s`` then ``INSERT ... WHERE NOT EXISTS`` — with
MySQL's ``<=>`` null-safe operator carrying the residuals; both
statements run inside the backend's single epoch transaction, and the
staged batch is pre-deduplicated per key, so the pair is atomic and
exactly-once exactly like the single MERGE.
"""

from __future__ import annotations

from dataclasses import dataclass

# Hidden surrogate-key / epoch columns — shared with jdbc_state.py
# (imported there; defined here to keep this module dependency-free).
KH_COL = "__kh"
EPOCH_COL = "__epoch"


@dataclass(frozen=True)
class SqlDialect:
    """Statement factory for one RDBMS. Instances are stateless."""

    name: str
    # substrings identifying an ignorable "object already exists"
    # error (lazy DDL runs every batch)
    exists_ok_markers: tuple[str, ...]
    # substrings identifying a duplicate-key error on the epoch
    # ledger insert (= micro-batch replay -> skip)
    dup_key_markers: tuple[str, ...]
    # substrings identifying "table does not exist" on first read
    missing_table_markers: tuple[str, ...]
    # staging column type override for StringType (both Derby's CLOB
    # and MySQL's TEXT default cannot be merge/index keys)
    string_stage_type: str = "VARCHAR(1024)"

    def quote(self, ident: str) -> str:
        raise NotImplementedError

    # -- shared helpers ----------------------------------------------------

    def _null_safe_eq(self, left: str, right: str) -> str:
        return f"({left} = {right} OR ({left} IS NULL AND {right} IS NULL))"

    def on_clause(self, key_cols: list[str]) -> str:
        """Leading indexable ``__kh`` equality + null-safe residuals
        (the KH_COL note in jdbc_state.py)."""
        q = self.quote
        return " AND ".join(
            [f"t.{q(KH_COL)} = s.{q(KH_COL)}"]
            + [self._null_safe_eq(f"t.{q(k)}", f"s.{q(k)}") for k in key_cols]
        )

    # -- DDL ---------------------------------------------------------------

    def create_state_table(self, table: str, stage: str) -> str:
        raise NotImplementedError

    def create_kh_index(self, table: str) -> str:
        return (
            f"CREATE INDEX {table}_kh_idx ON {table}({self.quote(KH_COL)})"
        )

    def create_epoch_ledger(self, table: str) -> str:
        raise NotImplementedError

    def insert_epoch(self, table: str, epoch_id: int) -> str:
        return f"INSERT INTO {table}_epochs VALUES ({int(epoch_id)})"

    # -- the three merge algebras -----------------------------------------

    def upsert_accumulate(
        self, table: str, stage: str, key_cols: list[str], value_col: str
    ) -> list[str]:
        raise NotImplementedError

    def insert_missing(
        self, table: str, stage: str, key_cols: list[str], ins_cols: list[str]
    ) -> list[str]:
        raise NotImplementedError

    def delete_matching_partitions(
        self, table: str, stage: str, partition_cols: list[str]
    ) -> str:
        raise NotImplementedError


class DerbyDialect(SqlDialect):
    """ANSI MERGE (Derby >= 10.11) — the sandbox-proven path."""

    def __init__(self) -> None:
        super().__init__(
            name="derby",
            # X0Y32 object exists
            exists_ok_markers=("X0Y32", "already exists"),
            dup_key_markers=("23505", "duplicate key"),
            missing_table_markers=("does not exist", "42X05"),
        )

    def quote(self, ident: str) -> str:
        # Spark's JDBC writer creates case-exact quoted identifiers;
        # raw SQL must quote the same way or Derby upper-cases and
        # misses.
        return '"' + ident + '"'

    def create_state_table(self, table: str, stage: str) -> str:
        return f"CREATE TABLE {table} AS SELECT * FROM {stage} WITH NO DATA"

    def create_epoch_ledger(self, table: str) -> str:
        return (
            f"CREATE TABLE {table}_epochs (epoch BIGINT NOT NULL PRIMARY KEY)"
        )

    def _merge(
        self,
        table: str,
        stage: str,
        key_cols: list[str],
        matched: str,
        ins_cols: list[str],
    ) -> str:
        q = self.quote
        cols = ", ".join(q(c) for c in ins_cols)
        vals = ", ".join(f"s.{q(c)}" for c in ins_cols)
        return (
            f"MERGE INTO {table} t USING {stage} s "
            f"ON {self.on_clause(key_cols)} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )

    def upsert_accumulate(
        self, table: str, stage: str, key_cols: list[str], value_col: str
    ) -> list[str]:
        q = self.quote
        matched = (
            f"WHEN MATCHED THEN UPDATE SET {q(value_col)} = "
            f"t.{q(value_col)} + s.{q(value_col)} "
        )
        return [
            self._merge(table, stage, key_cols, matched, [*key_cols, value_col, KH_COL])
        ]

    def insert_missing(
        self, table: str, stage: str, key_cols: list[str], ins_cols: list[str]
    ) -> list[str]:
        return [self._merge(table, stage, key_cols, "", ins_cols)]

    def delete_matching_partitions(
        self, table: str, stage: str, partition_cols: list[str]
    ) -> str:
        q = self.quote
        corr = " AND ".join(
            [f"s.{q(KH_COL)} = t.{q(KH_COL)}"]
            + [
                self._null_safe_eq(f"s.{q(p)}", f"t.{q(p)}")
                for p in partition_cols
            ]
        )
        return (
            f"DELETE FROM {table} t WHERE EXISTS "
            f"(SELECT 1 FROM {stage} s WHERE {corr})"
        )


class MySqlDialect(SqlDialect):
    """MySQL 8 (the reference's actual sink — ``JdbcHelper.scala``).

    No MERGE statement; the module docstring explains why the upserts
    are UPDATE-join + NOT-EXISTS-insert rather than
    ``ON DUPLICATE KEY UPDATE``. String-pinned by unit tests; no
    MySQL server exists in the sandbox to integration-test against.
    """

    def __init__(self) -> None:
        super().__init__(
            name="mysql",
            # 1050 table exists, 1061 duplicate key name (index)
            exists_ok_markers=("1050", "1061", "already exists",
                               "Duplicate key name"),
            dup_key_markers=("1062", "Duplicate entry"),
            missing_table_markers=("1146", "doesn't exist", "does not exist"),
        )

    def quote(self, ident: str) -> str:
        return "`" + ident + "`"

    def _null_safe_eq(self, left: str, right: str) -> str:
        # MySQL's native null-safe equality — sargable on the leading
        # __kh conjunct's plain `=`, residual-checked here
        return f"{left} <=> {right}"

    def create_state_table(self, table: str, stage: str) -> str:
        # LIKE copies column types/nullability; IF NOT EXISTS makes
        # the lazy DDL idempotent without error-code games
        return f"CREATE TABLE IF NOT EXISTS {table} LIKE {stage}"

    def create_epoch_ledger(self, table: str) -> str:
        return (
            f"CREATE TABLE IF NOT EXISTS {table}_epochs "
            "(epoch BIGINT NOT NULL PRIMARY KEY)"
        )

    def _insert_not_exists(
        self, table: str, stage: str, key_cols: list[str], ins_cols: list[str]
    ) -> str:
        q = self.quote
        cols = ", ".join(q(c) for c in ins_cols)
        vals = ", ".join(f"s.{q(c)}" for c in ins_cols)
        return (
            f"INSERT INTO {table} ({cols}) SELECT {vals} FROM {stage} s "
            f"WHERE NOT EXISTS "
            f"(SELECT 1 FROM {table} t WHERE {self.on_clause(key_cols)})"
        )

    def upsert_accumulate(
        self, table: str, stage: str, key_cols: list[str], value_col: str
    ) -> list[str]:
        q = self.quote
        return [
            f"UPDATE {table} t JOIN {stage} s ON {self.on_clause(key_cols)} "
            f"SET t.{q(value_col)} = t.{q(value_col)} + s.{q(value_col)}",
            self._insert_not_exists(
                table, stage, key_cols, [*key_cols, value_col, KH_COL]
            ),
        ]

    def insert_missing(
        self, table: str, stage: str, key_cols: list[str], ins_cols: list[str]
    ) -> list[str]:
        return [self._insert_not_exists(table, stage, key_cols, ins_cols)]

    def delete_matching_partitions(
        self, table: str, stage: str, partition_cols: list[str]
    ) -> str:
        q = self.quote
        corr = " AND ".join(
            [f"s.{q(KH_COL)} = t.{q(KH_COL)}"]
            + [
                self._null_safe_eq(f"s.{q(p)}", f"t.{q(p)}")
                for p in partition_cols
            ]
        )
        # multi-table DELETE form: MySQL rejects an alias after
        # `DELETE FROM table` but accepts `DELETE t FROM table t`
        return (
            f"DELETE t FROM {table} t WHERE EXISTS "
            f"(SELECT 1 FROM {stage} s WHERE {corr})"
        )


DIALECTS: dict[str, SqlDialect] = {
    "derby": DerbyDialect(),
    "mysql": MySqlDialect(),
}


def dialect_for_url(url: str) -> SqlDialect:
    """Infer the dialect from a JDBC URL (``jdbc:derby:...``,
    ``jdbc:mysql://...``). Unknown schemes raise — a silent default
    would run Derby SQL against a foreign server."""
    scheme = url.split(":", 2)[1].lower() if url.count(":") >= 2 else ""
    try:
        return DIALECTS[scheme]
    except KeyError:
        raise ValueError(
            f"no SQL dialect for JDBC url {url!r} (known: {sorted(DIALECTS)}); "
            "pass JdbcStateBackend(..., dialect=...) explicitly"
        ) from None
