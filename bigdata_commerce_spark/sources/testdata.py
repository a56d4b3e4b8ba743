"""Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).

Tables (one parquet each): region nation customer supplier part
orders lineitem events documents embeddings.

Reading is ``spark.read.parquet`` with the schema passed in, taken
from the file's footer on the driver (``hadoopfs.parquet_schema``), so
a load submits no Spark job: the reference's Hive tables get their
schema from the metastore, and parquet schema inference would be one
job per load. Columnar scan, filter and projection pushdown come free
from Catalyst. The reference instead round-trips every scan through
``Dataset.as[CaseClass].rdd``
(``session/src/main/scala/SessionStat.scala:705-710``) which defeats
column pruning; staying in DataFrame land is the fix, not a feature.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_commerce_spark.sources.hadoopfs import parquet_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Timestamp columns whose parquet physical type varies by generator
# version: TIMESTAMP(NANOS) reads as long (with
# spark.sql.legacy.parquet.nanosAsLong=true, set in session.py) and is
# truncated to microseconds — the same conversion DuckDB applies;
# timezone-less timestamp[us] reads as TIMESTAMP_NTZ in Spark >=3.5
# and is cast to TIMESTAMP, value-preserving under the pinned UTC
# session timezone (and agreeing with DuckDB's naive-timestamp
# epoch arithmetic). Downstream operators see plain TIMESTAMP either
# way.
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Defensive runtime confs for externally-built sessions (the
    # verify driver constructs its own SparkSession): nanos parquet
    # timestamps otherwise fail the scan, and a non-UTC session
    # timezone would shift every timestamp value relative to the
    # UTC-naive DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Read after the confs above: the footer's types convert under them.
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for col in _TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, DEFAULT_SF_DIR) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
