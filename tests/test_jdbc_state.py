"""JDBC MERGE state backend against embedded Derby: the three DAO
merge algebras (reference ``JdbcHelper.scala:21-389``) applied as
stage + set-based MERGE, with epoch-ledger replay idempotency, and
parity with the parquet epoch sinks on identical batch sequences."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_commerce_spark.sources.sinks import derby_config
from bigdata_commerce_spark.streaming import sinks
from bigdata_commerce_spark.streaming.jdbc_state import JdbcStateBackend



# Slow tier (VERDICT r12 item 2 / r13 suite tiering): JDBC-backed state end-to-end (~70 s).
pytestmark = pytest.mark.slow
def _backend(spark, tmp_path, name):
    return JdbcStateBackend(spark, derby_config(str(tmp_path / name)))


def _counts(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_hostile_key_values_roundtrip_exactly(spark, tmp_path):
    """Key VALUES never enter SQL text (they travel through the
    parameterized JDBC writer into the stage table; only identifiers
    are interpolated), so quotes, injection-shaped strings, unicode,
    NULL and '' must all merge and read back exactly — the audit that
    a value-interpolating MERGE would fail on the first quote."""
    be = _backend(spark, tmp_path, "hostile")
    sink = be.accumulate_sink("t_hostile", ["k"], "v")
    rows = [
        ("o'quote", 1),
        ("uni je 日本", 2),
        ("semi;DROP TABLE x;--", 3),
        (None, 4),
        ("", 5),
    ]
    sink(_counts(spark, rows), 0)
    sink(_counts(spark, rows), 1)
    got = sorted(((r.k, r.v) for r in be.read_state("t_hostile").collect()), key=str)
    assert got == sorted(((k, 2 * v) for k, v in rows), key=str)


def test_accumulate_merge_and_replay(spark, tmp_path):
    be = _backend(spark, tmp_path, "acc")
    sink = be.accumulate_sink("t_acc", ["k"], "v")
    sink(_counts(spark, [("a", 1), ("a", 2), ("b", 5)]), 0)
    sink(_counts(spark, [("a", 10), ("c", 1)]), 1)
    # replayed epoch must be a no-op (ledger already has epoch 1)
    sink(_counts(spark, [("a", 10), ("c", 1)]), 1)
    got = {(r.k, r.v) for r in be.read_state("t_acc").collect()}
    assert got == {("a", 13), ("b", 5), ("c", 1)}


def test_distinct_append_never_duplicates(spark, tmp_path):
    be = _backend(spark, tmp_path, "dist")
    sink = be.distinct_append_sink("t_bl", ["k"])
    sink(_counts(spark, [("u1", 0), ("u1", 0), ("u2", 0)]), 0)
    sink(_counts(spark, [("u2", 0), ("u3", 0)]), 1)
    got = sorted(r.k for r in be.read_state("t_bl").collect())
    assert got == ["u1", "u2", "u3"]


def test_replace_partition_deletes_then_inserts(spark, tmp_path):
    be = _backend(spark, tmp_path, "rp")
    sink = be.replace_partition_sink("t_top3", ["p"])
    df0 = spark.createDataFrame(
        [("p1", "x", 1), ("p1", "y", 2), ("p2", "z", 3)], "p string, k string, v long"
    )
    sink(df0, 0)
    # p1's ranking changes entirely; p2 untouched
    df1 = spark.createDataFrame([("p1", "w", 9)], "p string, k string, v long")
    sink(df1, 1)
    got = {(r.p, r.k, r.v) for r in be.read_state("t_top3").collect()}
    assert got == {("p1", "w", 9), ("p2", "z", 3)}


def test_kill_and_resume_from_checkpoint_matches_uninterrupted(spark, tmp_path):
    """Stop a streaming query mid-stream, restart it from the same
    checkpoint against the same Derby database, and the final state
    must equal an uninterrupted run over the same chunks — the JDBC
    twin of the parquet backend's restart-recovery test. The epoch
    ledger must also absorb any replayed micro-batch across the
    restart boundary without double-applying."""
    import shutil

    def write_chunk(flat, name, rows):
        staging = tmp_path / f"stage_{flat.name}_{name}"
        _counts(spark, rows).coalesce(1).write.parquet(str(staging))
        part = next(staging.glob("part-*.parquet"))
        shutil.copy(part, flat / f"{name}.parquet")

    def run(flat, ckpt, backend, table):
        sink = backend.accumulate_sink(table, ["k"], "v")
        q = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(flat))
            .writeStream.option("checkpointLocation", str(ckpt))
            .foreachBatch(sink)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    chunk1 = [("a", 1), ("b", 2)]
    chunk2 = [("a", 10), ("c", 3)]
    chunk3 = [("b", 1), ("c", 1)]

    # Interrupted run: chunk1, stop (the "kill"), land more chunks,
    # restart from the same checkpoint.
    flat = tmp_path / "flat"
    flat.mkdir()
    be = _backend(spark, tmp_path, "rec")
    write_chunk(flat, "c1", chunk1)
    run(flat, tmp_path / "ckpt", be, "t_rec")
    write_chunk(flat, "c2", chunk2)
    write_chunk(flat, "c3", chunk3)
    run(flat, tmp_path / "ckpt", be, "t_rec")

    # Uninterrupted twin: all chunks visible from the start.
    flat2 = tmp_path / "flat2"
    flat2.mkdir()
    be2 = _backend(spark, tmp_path, "rec_twin")
    for name, rows in (("c1", chunk1), ("c2", chunk2), ("c3", chunk3)):
        write_chunk(flat2, name, rows)
    run(flat2, tmp_path / "ckpt2", be2, "t_rec")

    got = {(r.k, r.v) for r in be.read_state("t_rec").collect()}
    want = {(r.k, r.v) for r in be2.read_state("t_rec").collect()}
    assert got == want == {("a", 11), ("b", 3), ("c", 4)}


def test_jdbc_matches_parquet_epoch_sinks(spark, tmp_path):
    """Same merge algebra behind both backends: an identical batch
    sequence through the parquet accumulate sink and the JDBC MERGE
    accumulate sink must land identical state."""
    be = _backend(spark, tmp_path, "parity")
    jdbc_sink = be.accumulate_sink("t_par", ["k"], "v")
    pq_sink = sinks.accumulate_sink(str(tmp_path / "pq_state"), ["k"], "v")
    batches = [
        _counts(spark, [("a", 1), ("b", 2), ("a", 3)]),
        _counts(spark, [("b", 1)]),
        _counts(spark, [("c", 7), ("a", 1)]),
    ]
    for e, b in enumerate(batches):
        jdbc_sink(b, e)
        pq_sink(b, e)
    got_jdbc = {(r.k, r.v) for r in be.read_state("t_par").collect()}
    got_pq = {
        (r.k, r.v) for r in sinks.read_state(spark, str(tmp_path / "pq_state")).collect()
    }
    assert got_jdbc == got_pq == {("a", 5), ("b", 3), ("c", 7)}


def test_distinct_append_before_epoch_replays_historical_view(spark, tmp_path):
    """The replay-determinism contract: read_state(before_epoch=N) on
    an append-only table reconstructs the state as it stood before
    epoch N — so a replayed batch sees the SAME blacklist it saw
    originally even if later sinks of that epoch already committed.
    Merge-accumulated tables keep no history: asking raises."""
    import pytest as _pytest

    be = _backend(spark, tmp_path, "hist")
    bl = be.distinct_append_sink("t_hist", ["k"])
    bl(_counts(spark, [("u1", 0)]), 0)
    bl(_counts(spark, [("u2", 0)]), 1)
    bl(_counts(spark, [("u3", 0)]), 2)

    assert sorted(r.k for r in be.read_state("t_hist").collect()) == ["u1", "u2", "u3"]
    # the view a replay of epoch 1 must see: only epoch-0 insertions
    assert sorted(r.k for r in be.read_state("t_hist", before_epoch=1).collect()) == ["u1"]
    assert sorted(r.k for r in be.read_state("t_hist", before_epoch=2).collect()) == ["u1", "u2"]
    # the hidden epoch stamp never leaks into the returned schema
    assert be.read_state("t_hist").columns == ["k"]

    acc = be.accumulate_sink("t_acc_hist", ["k"], "v")
    acc(_counts(spark, [("a", 1)]), 0)
    with _pytest.raises(ValueError, match="no history"):
        be.read_state("t_acc_hist", before_epoch=1)


def test_merge_sinks_fold_null_keys(spark, tmp_path):
    """NULL join keys must merge like the parquet backend's groupBy
    (NULLs equal), not re-insert a fresh NULL row every epoch."""
    be = _backend(spark, tmp_path, "nulls")
    sink = be.accumulate_sink("t_null", ["k"], "v")
    sink(_counts(spark, [(None, 2), ("a", 1)]), 0)
    sink(_counts(spark, [(None, 3)]), 1)
    sink(_counts(spark, [(None, 5)]), 2)
    got = {(r.k, r.v) for r in be.read_state("t_null").collect()}
    assert got == {(None, 10), ("a", 1)}

    bl = be.distinct_append_sink("t_null_bl", ["k"])
    bl(_counts(spark, [(None, 0), ("u1", 0)]), 0)
    bl(_counts(spark, [(None, 0)]), 1)
    assert {r.k for r in be.read_state("t_null_bl").collect()} == {None, "u1"}
