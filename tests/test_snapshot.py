"""Snapshot publish (sources/snapshot.py): atomic commit visibility,
snapshot isolation across republish, time travel, crashed-publish
invisibility, and vacuum retention."""

from __future__ import annotations

import pytest

from bigdata_commerce_spark.sources import snapshot as snap


def _df(spark, tag):
    return spark.createDataFrame([(i, tag) for i in range(5)], "id long, tag string")


def test_publish_read_roundtrip_and_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert snap.publish_snapshot(_df(spark, "a"), t) == 1
    assert snap.publish_snapshot(_df(spark, "b"), t) == 2
    assert snap.list_snapshots(spark, t) == [1, 2]
    assert {r.tag for r in snap.read_snapshot(spark, t).collect()} == {"b"}
    # time travel: the superseded version stays readable, bit for bit
    assert {r.tag for r in snap.read_snapshot(spark, t, version=1).collect()} == {"a"}


def test_pinned_reader_survives_republish(spark, tmp_path):
    """Snapshot isolation: a DataFrame resolved against v1 returns v1
    rows even after v2 is committed (v1 files are never touched)."""
    t = str(tmp_path / "tbl")
    snap.publish_snapshot(_df(spark, "a"), t)
    pinned = snap.read_snapshot(spark, t, version=1)
    snap.publish_snapshot(_df(spark, "b"), t)
    assert {r.tag for r in pinned.collect()} == {"a"}


def test_crashed_publish_is_invisible(spark, tmp_path):
    """Data files without a manifest (writer died before the rename)
    must not be readable and must be reclaimed by vacuum."""
    t = str(tmp_path / "tbl")
    snap.publish_snapshot(_df(spark, "a"), t)
    # simulate the crash: data lands, manifest never does
    _df(spark, "orphan").write.parquet(f"{t}/v99-deadbeef")
    assert snap.list_snapshots(spark, t) == [1]
    assert {r.tag for r in snap.read_snapshot(spark, t).collect()} == {"a"}
    deleted = snap.vacuum(spark, t, keep_last=1, min_age_seconds=0)
    assert "v99-deadbeef" in deleted
    assert {r.tag for r in snap.read_snapshot(spark, t).collect()} == {"a"}


def test_vacuum_retention(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for tag in ("a", "b", "c"):
        snap.publish_snapshot(_df(spark, tag), t)
    deleted = snap.vacuum(spark, t, keep_last=2, min_age_seconds=0)
    assert len(deleted) == 1 and deleted[0].startswith("v1-")
    assert snap.list_snapshots(spark, t) == [2, 3]
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, t, version=1)
    assert {r.tag for r in snap.read_snapshot(spark, t, version=2).collect()} == {"b"}
    with pytest.raises(ValueError):
        snap.vacuum(spark, t, keep_last=0)


def test_vacuum_grace_period_protects_inflight_publish(spark, tmp_path):
    """A fresh unreferenced data dir (a publish that has not committed
    its manifest YET) survives a default-window vacuum — only the
    explicit min_age_seconds=0 maintenance mode reclaims it."""
    t = str(tmp_path / "tbl")
    snap.publish_snapshot(_df(spark, "a"), t)
    _df(spark, "inflight").write.parquet(f"{t}/v2-inflight0")
    assert snap.vacuum(spark, t, keep_last=1) == []  # default 24h window
    assert snap.vacuum(spark, t, keep_last=1, min_age_seconds=0) == ["v2-inflight0"]


def test_vacuum_race_with_inflight_pinned_reader(spark, tmp_path):
    """The vacuum/reader race at the retention boundary, pinning the
    grace-period contract: ``min_age_seconds`` is measured from the
    data directory's PUBLISH mtime, so an in-flight reader pinned to
    version V is guaranteed safe iff it finishes within ``min_age`` of
    V's publish — even after V falls out of the ``keep_last`` window.
    The minimum safe ``min_age`` is therefore (longest reader runtime
    + max version age when a reader may still pin it); the 24h default
    covers any same-day read. ``min_age=0`` revokes that guarantee and
    is only safe with no readers in flight (the maintenance-window
    mode), which the second half demonstrates by racing it."""
    t = str(tmp_path / "tbl")
    snap.publish_snapshot(_df(spark, "a"), t)
    pinned = snap.read_snapshot(spark, t, version=1)  # reader now in flight
    snap.publish_snapshot(_df(spark, "b"), t)
    snap.publish_snapshot(_df(spark, "c"), t)

    # v1 is EXPIRED (keep_last=1 retains only v3) but younger than
    # min_age: vacuum must leave its files alone, and the in-flight
    # reader completes correctly mid-interleave.
    assert snap.vacuum(spark, t, keep_last=1, min_age_seconds=3600) == []
    assert {r.tag for r in pinned.collect()} == {"a"}
    # ...and the reader can even KEEP reading (a multi-action job)
    assert pinned.count() == 5

    # Maintenance mode (min_age=0) breaks the contract by design: the
    # expired version's files go away and the still-pinned reader's
    # next action fails loudly rather than returning partial rows.
    deleted = snap.vacuum(spark, t, keep_last=1, min_age_seconds=0)
    assert any(d.startswith("v1-") for d in deleted)
    with pytest.raises(Exception, match="(?i)not exist|notfound|path"):
        pinned.collect()
    # the retained head version is untouched throughout
    assert {r.tag for r in snap.read_snapshot(spark, t).collect()} == {"c"}


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        snap.read_snapshot(spark, str(tmp_path / "nope"))


def test_curation_to_snapshot_pipeline_last_mile(spark, tmp_path):
    """The publish step of a real cycle: curate the corpus, publish it
    as the next table version, and register its fingerprints in the
    incremental store — the next cycle's novelty check then excludes
    everything this cycle published."""
    from bigdata_commerce_spark.operators import incremental_dedup as inc
    from bigdata_commerce_spark.operators.text import curate
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    kept = curate(docs)
    t = str(tmp_path / "corpus")
    v = snap.publish_snapshot(kept, t)
    assert v == 1
    published = snap.read_snapshot(spark, t)
    assert published.count() == kept.count() > 0

    store = str(tmp_path / "fpstore")
    inc.init_store(spark, store)
    surviving = docs.join(published.select("doc_id"), "doc_id", "left_semi")
    inc.commit_batch(surviving, store)
    # re-offering the same curated docs next cycle: zero novel
    assert inc.novel_documents(surviving, store).count() == 0
    # a genuinely new document is still admitted
    fresh = spark.createDataFrame(
        [(999_999, "a genuinely new never seen document xyzzy")],
        "doc_id long, text string",
    )
    assert inc.novel_documents(fresh, store).count() == 1


def test_snapshot_read_keeps_pushdown(spark, tmp_path):
    """read_snapshot resolves to a plain parquet scan, so filter
    pushdown and column pruning survive the manifest indirection."""
    t = str(tmp_path / "tbl")
    snap.publish_snapshot(
        spark.range(1000).selectExpr("id", "id * 2 AS a", "id * 3 AS b"), t
    )
    q = snap.read_snapshot(spark, t).where("a > 100").select("id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(a), GreaterThan(a,100)]" in plan, plan[:1200]
    assert "ReadSchema: struct<id:bigint,a:bigint>" in plan


def test_optimize_snapshot_preserves_data_and_tightens_layout(spark, tmp_path):
    """Z-order rewrite publishes a NEW version with identical rows;
    the source version stays readable (isolation); per-file footer
    ranges for the probed predicate overlap FEWER files than the
    shuffled source layout."""
    from pyspark.sql import functions as F

    from bigdata_commerce_spark.sources.layout import files_overlapping
    from bigdata_commerce_spark.sources.snapshot import (
        optimize_snapshot,
        read_snapshot,
    )

    n = 4096
    df = (
        spark.range(n)
        .select(
            (F.col("id") * 2654435761 % n).alias("a"),
            (F.col("id") * 40503 % n).alias("b"),
        )
        .repartition(8)  # deliberately scrambled layout
    )
    d = str(tmp_path / "tbl")
    v1 = snap.publish_snapshot(df, d)
    v2 = optimize_snapshot(spark, d, "a", "b", n_files=8)
    assert v2 == v1 + 1

    rows = lambda dd: sorted((r["a"], r["b"]) for r in dd.collect())
    assert rows(read_snapshot(spark, d, v2)) == rows(read_snapshot(spark, d, v1))

    from bigdata_commerce_spark.sources.snapshot import _read_manifest

    p1 = f"{d}/{_read_manifest(spark, d, v1)['data_dir']}"
    p2 = f"{d}/{_read_manifest(spark, d, v2)['data_dir']}"
    lo, hi = 100, 180
    hit1, tot1 = files_overlapping(p1, "a", lo, hi)
    hit2, tot2 = files_overlapping(p2, "a", lo, hi)
    assert hit1 == tot1  # scrambled: every file spans the range
    assert hit2 < tot2   # z-ordered: the narrow probe skips files


def test_optimize_snapshot_refuses_historical_version(spark, tmp_path):
    import pytest

    from bigdata_commerce_spark.sources.snapshot import optimize_snapshot

    d = str(tmp_path / "tbl")
    v1 = snap.publish_snapshot(
        spark.createDataFrame([(1, 2)], "a long, b long"), d
    )
    snap.publish_snapshot(spark.createDataFrame([(3, 4)], "a long, b long"), d)
    with pytest.raises(ValueError, match="rollback"):
        optimize_snapshot(spark, d, "a", "b", version=v1)


def test_compact_snapshot_merges_small_files_preserving_data(spark, tmp_path):
    """Bin-packing compaction publishes a NEW version with identical
    rows in far fewer files, sized from the source's ACTUAL bytes;
    the fragmented source version stays readable (isolation)."""
    import glob

    from pyspark.sql import functions as F

    d = str(tmp_path / "tbl")
    # a fragmented publish: 32 tiny files
    df = spark.range(4096).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(32)
    v1 = snap.publish_snapshot(df, d)

    def data_files(version):
        p = f"{d}/{snap._read_manifest(spark, d, version)['data_dir']}"
        return glob.glob(f"{p}/part-*.parquet")

    n_small = len(data_files(v1))
    assert n_small == 32
    total = sum(__import__("os").path.getsize(f) for f in data_files(v1))

    # target = 1/4 of the total -> ceil gives 5 files (or 4 if exact)
    v2 = snap.compact_snapshot(spark, d, target_file_bytes=total // 4)
    assert v2 == v1 + 1
    n_compact = len(data_files(v2))
    assert n_compact <= 5
    assert n_compact >= 1

    rows = lambda v: sorted(
        (r.id, r.k) for r in snap.read_snapshot(spark, d, v).collect()
    )
    assert rows(v2) == rows(v1)
    # pinned reader of the fragmented version is untouched
    assert len(data_files(v1)) == n_small


def test_compact_snapshot_plan_has_no_shuffle(spark, tmp_path):
    """Compaction must be a map-side coalesce, never a full shuffle
    of the table (the rewrite would otherwise cost a 100 TB exchange)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "tbl")
    snap.publish_snapshot(spark.range(1000).repartition(16), d)
    src = snap.read_snapshot(spark, d).coalesce(2)
    plan = src._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    v2 = snap.compact_snapshot(spark, d, target_file_bytes=1 << 40)
    # one file: everything fit a single target bin
    import glob
    p = f"{d}/{snap._read_manifest(spark, d, v2)['data_dir']}"
    assert len(glob.glob(f"{p}/part-*.parquet")) == 1


def test_compact_snapshot_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snap.compact_snapshot(spark, str(tmp_path / "none"))
