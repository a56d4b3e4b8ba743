"""``hadoopfs.parquet_schema`` is the schema parquet inference finds,
read from one footer on the driver without a Spark job — on inputs
chosen to break a footer reader that only decodes Spark's own
row-metadata key: pyarrow files (no Spark key, so the parquet types
are converted under the session's confs), nanosecond timestamps under
both ``nanosAsLong`` settings, naive timestamps (NTZ), nested and
decimal columns, a zero-row epoch and a non-UTC session."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from bigdata_commerce_spark.sources.hadoopfs import parquet_schema
from bigdata_commerce_spark.sources.testdata import TABLES
from bigdata_commerce_spark.streaming import sinks
from tests.conftest import SF_ORACLE, in_job_group

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _assert_footer_schema_is_inferred(spark, paths) -> None:
    """Each path's footer schema equals the inferred one, and reading
    the footers submits no job while inference does."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = time.monotonic_ns()
    pinned = in_job_group(sc, f"footer_{tag}", lambda: [parquet_schema(spark, p) for p in paths])
    inferred = in_job_group(
        sc, f"infer_{tag}", lambda: [spark.read.parquet(p).schema for p in paths]
    )
    # The listener bus delivers in order: once the inference jobs are
    # visible, any job the footer reads submitted would be too.
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"infer_{tag}") and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(f"infer_{tag}"), "probe sees no jobs at all"
    assert tracker.getJobIdsForGroup(f"footer_{tag}") == []
    assert pinned == inferred


@pytest.fixture
def conf(spark):
    """Set session confs for one test; the previous values come back."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_testdata_tables(spark, conf, nanos_as_long):
    conf(NANOS, nanos_as_long)
    paths = [os.path.join(SF_ORACLE, f"{t}.parquet") for t in TABLES]
    _assert_footer_schema_is_inferred(spark, paths)


def test_pyarrow_nanos_follow_nanos_as_long(spark, conf, tmp_path):
    """TIMESTAMP(NANOS) reads as bigint under nanosAsLong and is
    refused without it, by the footer read exactly as by inference."""
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}), path)
    conf(NANOS, "true")
    _assert_footer_schema_is_inferred(spark, [path])
    assert parquet_schema(spark, path)["ts"].dataType.simpleString() == "bigint"
    conf(NANOS, "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(path)
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        parquet_schema(spark, path)


def test_pyarrow_naive_timestamp_is_ntz(spark, tmp_path):
    path = str(tmp_path / "naive.parquet")
    ts = dt.datetime(2024, 3, 8, 10, 0)
    pq.write_table(
        pa.table(
            {
                "naive": pa.array([ts], pa.timestamp("us")),
                "aware": pa.array([ts], pa.timestamp("us", tz="UTC")),
            }
        ),
        path,
    )
    _assert_footer_schema_is_inferred(spark, [path])
    types = {f.name: f.dataType.simpleString() for f in parquet_schema(spark, path)}
    assert types == {"naive": "timestamp_ntz", "aware": "timestamp"}


def test_spark_written_nested_and_decimal(spark, tmp_path):
    path = str(tmp_path / "nested")
    spark.createDataFrame(
        [(decimal.Decimal("12.345"), (1, "a"), [1.5, None], {"k": 2})],
        "d decimal(9,3), s struct<i:int not null,t:string>, a array<double>, m map<string,long>",
    ).repartition(3).write.parquet(path)
    _assert_footer_schema_is_inferred(spark, [path])
    assert parquet_schema(spark, path).simpleString() == (
        "struct<d:decimal(9,3),s:struct<i:int,t:string>,a:array<double>,m:map<string,bigint>>"
    )


def test_zero_row_state_epoch(spark, tmp_path):
    state = str(tmp_path / "empty")
    sinks.distinct_append_sink(state, ["user_id", "day"])(
        spark.createDataFrame([], "user_id long, day date"), 0
    )
    _assert_footer_schema_is_inferred(spark, [f"{state}/epoch=0"])
    assert sinks.read_state(spark, state).collect() == []


def test_non_utc_session(spark, conf, tmp_path):
    path = str(tmp_path / "tz.parquet")
    ts = dt.datetime(2024, 3, 8, 10, 0)
    pq.write_table(
        pa.table(
            {
                "naive": pa.array([ts], pa.timestamp("us")),
                "aware": pa.array([ts], pa.timestamp("us", tz="Asia/Kolkata")),
                "millis": pa.array([ts], pa.timestamp("ms", tz="UTC")),
            }
        ),
        path,
    )
    conf("spark.sql.session.timeZone", "America/Los_Angeles")
    _assert_footer_schema_is_inferred(spark, [path, os.path.join(SF_ORACLE, "events.parquet")])
