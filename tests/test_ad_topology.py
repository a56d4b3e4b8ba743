"""Fast-tier coverage of the reqs 7-10 ad-click topology: a three-file
backlog drained through ``run_ad_pipeline`` with every state table
checked against its batch twin, the state reads' zero-job contract,
and the NULL-key semantics of the parquet merge sinks."""

from __future__ import annotations

import datetime as dt
import shutil
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.topk import top_k_per_group
from bigdata_commerce_spark.streaming import ad_stream, pipelines, sinks
from tests.conftest import in_job_group

THRESHOLD = 3
HEAVY = 99
DAY = dt.datetime(2024, 3, 8, 10, 0, tzinfo=dt.timezone.utc)
TABLES = ("user_counts", "blacklist", "cumulative", "top3", "trend")


def _event(minutes: float, province: str, city: str, user: int, ad: int) -> tuple:
    t = DAY + dt.timedelta(minutes=minutes)
    return (t, t.date(), province, city, user, ad)


def _chunks() -> list[list[tuple]]:
    """Three files of organic clicks. The heavy user clicks ad 1 twice
    per file, so its count crosses THRESHOLD with the second file and
    the third file's two clicks must be filtered out. Files 0 and 2 each
    hold a NULL-time click (NULL date: the top3 partition (NULL, p1) is
    replaced across epochs), and file 1 holds a click exactly on a
    minute boundary."""
    chunks = []
    for i in range(3):
        rows = [
            _event(i * 25 + j * 1.37, f"p{j % 3}", f"c{j % 5}", j % 7, j % 4)
            for j in range(12)
        ]
        rows += [_event(i * 25 + 3.5, "p2", "c9", HEAVY, 1)] * 2
        chunks.append(rows)
    chunks[0].append((None, None, "p1", "c1", 5, 2))
    chunks[2].append((None, None, "p1", "c1", 6, 3))
    chunks[1].append(_event(65, "p0", "c0", 3, 0))  # 11:05:00.000000 exactly
    return chunks


def _counts(df) -> Counter:
    return Counter(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ad_topology")
    chunks = _chunks()
    flat = root / "flat"
    flat.mkdir()
    for i, chunk in enumerate(chunks):
        out = root / f"chunk_{i}"
        spark.createDataFrame(chunk, ad_stream.AD_EVENT_SCHEMA).coalesce(1).write.parquet(
            str(out)
        )
        shutil.copy(next(out.glob("part-*.parquet")), flat / f"{i:02d}.parquet")

    handles = pipelines.run_ad_pipeline(
        pipelines.file_event_source(spark, str(flat)),
        str(root / "state"),
        blacklist_threshold=THRESHOLD,
    )
    try:
        handles.process_all()
    finally:
        handles.stop()

    # Effective rows: all but the heavy user's clicks after blacklisting.
    effective = chunks[0] + chunks[1] + [r for r in chunks[2] if r[4] != HEAVY]
    events = spark.createDataFrame(effective, ad_stream.AD_EVENT_SCHEMA)
    return handles, events


def test_state_tables_match_batch_twins(spark, drained):
    handles, events = drained
    state = {name: handles.backend.read_state(name) for name in TABLES}

    def count_by(*keys):
        return events.groupBy(*keys).agg(F.count(F.lit(1)).alias("click_count"))

    assert _counts(state["user_counts"]) == _counts(count_by("event_date", "user_id", "ad_id"))
    assert _counts(state["cumulative"]) == _counts(
        count_by("event_date", "province", "city", "ad_id")
    )
    bl = {r.user_id for r in state["blacklist"].collect()}
    assert bl == {
        r.user_id
        for r in count_by("event_date", "user_id", "ad_id")
        .where(F.col("click_count") > THRESHOLD)
        .collect()
    }
    assert bl == {HEAVY}
    top3 = top_k_per_group(
        count_by("event_date", "province", "ad_id"),
        ["event_date", "province"],
        [F.desc("click_count"), F.asc("ad_id")],
        k=3,
    )
    assert _counts(state["top3"]) == _counts(top3)
    assert state["top3"].where(F.col("event_date").isNull()).count() == 2


def test_trend_matches_f_window(spark, drained):
    """The generator-built windows equal F.window's, the NULL-time
    clicks fall in no window, and the minute-boundary click starts a
    window at its own time."""
    handles, events = drained
    got = handles.backend.read_state("trend")
    twin = (
        events.groupBy(F.window("event_time", "60 minutes", "1 minute"), "ad_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "ad_id",
            "click_count",
        )
    )
    assert _counts(got) == _counts(twin)
    assert got.where(F.col("window_start").isNull()).count() == 0
    boundary = DAY + dt.timedelta(minutes=65)
    opened = got.where((F.col("window_start") == boundary) & (F.col("ad_id") == 0))
    assert [r.click_count for r in opened.collect()] == [1]


def test_read_state_submits_no_job_and_pins_inferred_schema(spark, drained, tmp_path):
    """Reading a committed epoch takes its schema from a part-file
    footer instead of a schema-inference job; the pinned schema is the
    one inference would find, also for an epoch of zero rows."""
    handles, _ = drained
    empty_dir = str(tmp_path / "empty")
    sinks.distinct_append_sink(empty_dir, ["user_id"])(
        spark.createDataFrame([], "user_id long"), 0
    )
    dirs = [handles.backend.state_location(n) for n in TABLES] + [empty_dir]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pinned = in_job_group(
        sc, "read_state_probe", lambda: [sinks.read_state(spark, d).schema for d in dirs]
    )
    inferred = in_job_group(
        sc,
        "inference_probe",
        lambda: [
            spark.read.parquet(f"{d}/epoch={sinks._latest_epoch(d)}").schema for d in dirs
        ],
    )
    # The listener bus delivers in order: once the inference jobs are
    # visible, any job the reads submitted would be too.
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("inference_probe") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("inference_probe"), "probe sees no jobs at all"
    assert tracker.getJobIdsForGroup("read_state_probe") == []
    assert pinned == inferred


def test_replace_partition_sink_replaces_null_partition(spark, tmp_path):
    state = str(tmp_path / "parts")
    sink = sinks.replace_partition_sink(state, ["p"])
    schema = "p string, k string, v long"
    sink(spark.createDataFrame([("a", "y", 2), (None, "x", 1)], schema), 0)
    sink(spark.createDataFrame([(None, "z", 3)], schema), 1)
    got = sinks.read_state(spark, state).collect()
    assert sorted(map(tuple, got), key=repr) == [("a", "y", 2), (None, "z", 3)]


def test_overwrite_sink_replaces_null_key(spark, tmp_path):
    state = str(tmp_path / "keys")
    sink = sinks.overwrite_sink(state, ["k"])
    schema = "k string, v long"
    sink(spark.createDataFrame([("a", 2), (None, 1)], schema), 0)
    sink(spark.createDataFrame([(None, 5)], schema), 1)
    got = sinks.read_state(spark, state).collect()
    assert sorted(map(tuple, got), key=repr) == [("a", 2), (None, 5)]
