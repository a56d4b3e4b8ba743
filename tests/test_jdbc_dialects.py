"""Statement-string pins for the JDBC state-backend dialects.

The Derby dialect is integration-proven (tests/test_jdbc_state.py runs
the three algebras end-to-end against embedded Derby); MySQL — the
reference's actual sink (``JdbcHelper.scala:82-137``) — has no server
in the sandbox, so its statements are pinned here exactly: quoting,
null-safe residuals, the two-statement upsert shape, and the
error-marker tables the backend's replay/skip logic keys on.
No SparkSession needed.
"""

from __future__ import annotations

import pytest

from bigdata_commerce_spark.streaming.dialects import (
    DerbyDialect,
    MySqlDialect,
    dialect_for_url,
)

MY = MySqlDialect()
DB = DerbyDialect()


def test_dialect_for_url_infers_scheme():
    assert dialect_for_url("jdbc:derby:/tmp/db;create=true").name == "derby"
    assert dialect_for_url("jdbc:mysql://host:3306/commerce").name == "mysql"
    with pytest.raises(ValueError, match="no SQL dialect"):
        dialect_for_url("jdbc:oracle:thin:@host")


def test_mysql_on_clause_is_indexable_and_null_safe():
    on = MY.on_clause(["date", "user_id"])
    # leading plain equality on the surrogate key -> index lookup
    assert on.startswith("t.`__kh` = s.`__kh`")
    # residuals use MySQL's native null-safe operator
    assert "t.`date` <=> s.`date`" in on
    assert "t.`user_id` <=> s.`user_id`" in on


def test_mysql_accumulate_is_update_join_then_insert_not_exists():
    stmts = MY.upsert_accumulate("st", "st_stage", ["date", "user_id"], "n")
    assert len(stmts) == 2
    assert stmts[0] == (
        "UPDATE st t JOIN st_stage s ON t.`__kh` = s.`__kh` AND "
        "t.`date` <=> s.`date` AND t.`user_id` <=> s.`user_id` "
        "SET t.`n` = t.`n` + s.`n`"
    )
    assert stmts[1] == (
        "INSERT INTO st (`date`, `user_id`, `n`, `__kh`) "
        "SELECT s.`date`, s.`user_id`, s.`n`, s.`__kh` FROM st_stage s "
        "WHERE NOT EXISTS (SELECT 1 FROM st t WHERE t.`__kh` = s.`__kh` "
        "AND t.`date` <=> s.`date` AND t.`user_id` <=> s.`user_id`)"
    )


def test_mysql_distinct_append_is_insert_only():
    stmts = MY.insert_missing("bl", "bl_stage", ["user_id"], ["user_id", "__epoch", "__kh"])
    assert len(stmts) == 1
    assert stmts[0].startswith("INSERT INTO bl (`user_id`, `__epoch`, `__kh`)")
    assert "UPDATE" not in stmts[0]
    assert "WHERE NOT EXISTS" in stmts[0]


def test_mysql_partition_delete_uses_multi_table_form():
    sql = MY.delete_matching_partitions("top3", "top3_stage", ["date", "province"])
    # MySQL rejects `DELETE FROM t alias`; requires `DELETE t FROM t t`
    assert sql.startswith("DELETE t FROM top3 t WHERE EXISTS ")
    assert "s.`date` <=> t.`date`" in sql
    assert "s.`province` <=> t.`province`" in sql


def test_mysql_ddl_is_idempotent_via_if_not_exists():
    assert MY.create_state_table("st", "st_stage") == (
        "CREATE TABLE IF NOT EXISTS st LIKE st_stage"
    )
    assert MY.create_epoch_ledger("st") == (
        "CREATE TABLE IF NOT EXISTS st_epochs "
        "(epoch BIGINT NOT NULL PRIMARY KEY)"
    )
    assert MY.create_kh_index("st") == "CREATE INDEX st_kh_idx ON st(`__kh`)"


def test_mysql_error_markers():
    # 1062 duplicate entry = epoch already applied (replay skip);
    # 1146 = table missing on first read; 1050/1061 = lazy DDL
    assert "1062" in MY.dup_key_markers
    assert "1146" in MY.missing_table_markers
    for code in ("1050", "1061"):
        assert code in MY.exists_ok_markers


def test_mysql_stage_type_is_indexable():
    # Spark's MySQL dialect maps StringType -> TEXT, which cannot be
    # a key/index column without a prefix length — stage as VARCHAR
    assert MY.string_stage_type == "VARCHAR(1024)"


def test_kh_stages_at_index_safe_width():
    """__kh must stage as VARCHAR(32) (round-7 advice): it is the only
    indexed column, and at the MySQL default width the LIKE-inherited
    state table's kh index key would be utf8mb4 VARCHAR(1024) = 4096
    bytes > InnoDB's 3072-byte limit — error 1071, not replay-ignorable,
    wedging every micro-batch on a real MySQL 8 server."""
    from bigdata_commerce_spark.streaming.jdbc_state import stage_column_types

    dtypes = [("k", "string"), ("n", "bigint"), ("__kh", "string")]
    assert stage_column_types(dtypes, MY) == "k VARCHAR(1024), __kh VARCHAR(32)"
    # Derby takes the same width: the staged digest never exceeds 32
    # chars.
    assert stage_column_types(dtypes, DB) == "k VARCHAR(1024), __kh VARCHAR(32)"


def test_derby_statements_unchanged_by_dialect_refactor():
    """The refactor must be a pure extraction: Derby's statement
    strings are byte-identical to the pre-dialect inline SQL (which
    the integration suite proved against a live Derby)."""
    assert DB.on_clause(["k"]) == (
        't."__kh" = s."__kh" AND (t."k" = s."k" OR (t."k" IS NULL AND s."k" IS NULL))'
    )
    assert DB.upsert_accumulate("st", "st_stage", ["k"], "n") == [
        'MERGE INTO st t USING st_stage s ON t."__kh" = s."__kh" AND '
        '(t."k" = s."k" OR (t."k" IS NULL AND s."k" IS NULL)) '
        'WHEN MATCHED THEN UPDATE SET "n" = t."n" + s."n" '
        'WHEN NOT MATCHED THEN INSERT ("k", "n", "__kh") '
        'VALUES (s."k", s."n", s."__kh")'
    ]
    assert DB.insert_missing("bl", "bl_stage", ["u"], ["u", "__epoch", "__kh"]) == [
        'MERGE INTO bl t USING bl_stage s ON t."__kh" = s."__kh" AND '
        '(t."u" = s."u" OR (t."u" IS NULL AND s."u" IS NULL)) '
        'WHEN NOT MATCHED THEN INSERT ("u", "__epoch", "__kh") '
        'VALUES (s."u", s."__epoch", s."__kh")'
    ]
    assert DB.delete_matching_partitions("t3", "t3_stage", ["d"]) == (
        'DELETE FROM t3 t WHERE EXISTS (SELECT 1 FROM t3_stage s WHERE '
        's."__kh" = t."__kh" AND (s."d" = t."d" OR (s."d" IS NULL AND t."d" IS NULL)))'
    )
    assert DB.create_state_table("st", "st_stage") == (
        "CREATE TABLE st AS SELECT * FROM st_stage WITH NO DATA"
    )
