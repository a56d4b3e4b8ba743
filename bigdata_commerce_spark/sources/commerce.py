"""Commerce schemas + seeded fixture generator (FIXTURES.md family A).

Mirrors the reference's data model (``commons/src/main/scala/commons/
model/DataModel.scala:26-71``) and mock value domains
(``mock/src/main/scala/MockDataGenerate.scala:27-197``) with two
deliberate deviations the new engine's docs call out:

- generation is **seeded** (the reference's unseeded Random makes its
  fixtures irreproducible — SURVEY.md §5);
- hours are zero-padded proper timestamps (the reference emits
  ``"2024-1-1 5:..."`` and leans on lenient Joda parsing —
  SURVEY.md §2.12/10).

The sentinel conventions are kept (-1 longs / null strings, CSV id
lists, JSON extend_info) because the *ingest* layer is what
normalizes them — that round trip is part of what we test.
"""

from __future__ import annotations

import os
import random
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_commerce_spark.functions import csv_to_array, nullif_sentinel

USER_VISIT_ACTION_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("page_id", T.LongType(), True),
        T.StructField("action_time", T.StringType(), True),
        T.StructField("search_keyword", T.StringType(), True),
        T.StructField("click_category_id", T.LongType(), True),
        T.StructField("click_product_id", T.LongType(), True),
        T.StructField("order_category_ids", T.StringType(), True),
        T.StructField("order_product_ids", T.StringType(), True),
        T.StructField("pay_category_ids", T.StringType(), True),
        T.StructField("pay_product_ids", T.StringType(), True),
        T.StructField("city_id", T.LongType(), True),
    ]
)

USER_INFO_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("professional", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("sex", T.StringType(), True),
    ]
)

PRODUCT_INFO_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.LongType(), True),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("extend_info", T.StringType(), True),
    ]
)

# city dim hard-coded in the reference (``AreaTop3Stat.scala:166-174``)
CITY_INFO = [
    (0, "Beijing", "North"),
    (1, "Shanghai", "East"),
    (2, "Guangzhou", "South"),
    (3, "Shenzhen", "South"),
    (4, "Hangzhou", "East"),
    (5, "Chengdu", "West"),
    (6, "Wuhan", "Center"),
    (7, "Xian", "Northwest"),
    (8, "Nanjing", "East"),
    (9, "Chongqing", "West"),
]

SEARCH_KEYWORDS = [
    "hotpot", "cake", "chongqing spicy", "sushi", "new year gift",
    "pins", "guitar", "tissue", "tea table", "bicycle",
]

ACTIONS = ("search", "click", "order", "pay")


def generate_commerce_rows() -> dict[str, list[tuple]]:
    """Seeded twin of MockDataGenerate as plain Python rows (no Spark
    dependency, so fixtures can be persisted at import time for the
    DuckDB oracle): user_visit_action, user_info, product_info,
    city_info with the reference's value domains. 50 users with 5
    sessions each, up to 30 actions a session, all on 2024-03-08,
    seed 7."""
    rng = random.Random(7)
    u = uuid.UUID(int=rng.getrandbits(128))  # namespace for session ids

    actions = []
    for user_id in range(50):
        for s in range(5):
            session_id = uuid.uuid5(u, f"{user_id}:{s}").hex
            base_hour = rng.randint(0, 23)
            for a in range(rng.randint(1, 30)):
                mm, ss = rng.randint(0, 59), rng.randint(0, 59)
                ts = f"2024-03-08 {base_hour:02d}:{mm:02d}:{ss:02d}"
                kind = ACTIONS[rng.randint(0, 3)]
                search_kw = None
                click_cat = click_prod = -1
                order_cats = order_prods = pay_cats = pay_prods = None
                if kind == "search":
                    search_kw = SEARCH_KEYWORDS[rng.randint(0, 9)]
                elif kind == "click":
                    click_cat = rng.randint(0, 99)
                    click_prod = rng.randint(0, 99)
                elif kind == "order":
                    order_cats = ",".join(str(rng.randint(0, 99)) for _ in range(rng.randint(1, 3)))
                    order_prods = ",".join(str(rng.randint(0, 99)) for _ in range(rng.randint(1, 3)))
                else:
                    pay_cats = ",".join(str(rng.randint(0, 99)) for _ in range(rng.randint(1, 3)))
                    pay_prods = ",".join(str(rng.randint(0, 99)) for _ in range(rng.randint(1, 3)))
                actions.append(
                    (
                        "2024-03-08", user_id, session_id, rng.randint(0, 9), ts, search_kw,
                        click_cat, click_prod, order_cats, order_prods, pay_cats,
                        pay_prods, rng.randint(0, 9),
                    )
                )

    users = [
        (
            i, f"user{i}", f"name{i}", rng.randint(0, 59), f"professional{rng.randint(0, 99)}",
            f"city{rng.randint(0, 9)}", "male" if rng.random() < 0.5 else "female",
        )
        for i in range(50)
    ]
    products = [
        (i, f"product{i}", '{"product_status": %d}' % rng.randint(0, 1))
        for i in range(100)
    ]

    return {
        "user_visit_action": actions,
        "user_info": users,
        "product_info": products,
        "city_info": list(CITY_INFO),
    }


def generate_commerce_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """The row generator as Spark DataFrames (test/ad-hoc entry)."""
    rows = generate_commerce_rows()
    return {
        "user_visit_action": spark.createDataFrame(
            rows["user_visit_action"], USER_VISIT_ACTION_SCHEMA
        ),
        "user_info": spark.createDataFrame(rows["user_info"], USER_INFO_SCHEMA),
        "product_info": spark.createDataFrame(rows["product_info"], PRODUCT_INFO_SCHEMA),
        "city_info": spark.createDataFrame(
            rows["city_info"], "city_id long, city_name string, area string"
        ),
    }


# ---------------------------------------------------------------------------
# Fixture persistence: the catalog's commerce queries and their DuckDB
# oracles must read the *same* bytes, and the driver may run the oracle
# SQL before (or without) the Spark query — so fixtures are written as
# plain parquet with pyarrow (no SparkSession needed) the first time
# anything imports the catalog, under the gitignored spark-warehouse/.
# ---------------------------------------------------------------------------

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ARROW_SCHEMAS = {
    "user_visit_action": [
        ("date", "string"), ("user_id", "int64"), ("session_id", "string"),
        ("page_id", "int64"), ("action_time", "string"), ("search_keyword", "string"),
        ("click_category_id", "int64"), ("click_product_id", "int64"),
        ("order_category_ids", "string"), ("order_product_ids", "string"),
        ("pay_category_ids", "string"), ("pay_product_ids", "string"),
        ("city_id", "int64"),
    ],
    "user_info": [
        ("user_id", "int64"), ("username", "string"), ("name", "string"),
        ("age", "int32"), ("professional", "string"), ("city", "string"),
        ("sex", "string"),
    ],
    "product_info": [
        ("product_id", "int64"), ("product_name", "string"), ("extend_info", "string"),
    ],
    "city_info": [
        ("city_id", "int64"), ("city_name", "string"), ("area", "string"),
    ],
}


def ensure_commerce_fixtures() -> str:
    """Write the seeded fixture tables as single parquet files (one per
    table) and return the directory. Idempotent: generation is fully
    deterministic, so an existing complete directory is reused;
    writes go through a temp file + atomic rename so a concurrent
    reader never sees a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(
        _REPO_ROOT,
        "spark-warehouse",
        "commerce_fixtures",
        "u50_s5_a30_2024-03-08_seed7",
    )
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in _ARROW_SCHEMAS}
    if all(os.path.exists(p) for p in paths.values()):
        return out_dir

    os.makedirs(out_dir, exist_ok=True)
    rows = generate_commerce_rows()
    for table, fields in _ARROW_SCHEMAS.items():
        schema = pa.schema([(n, getattr(pa, t)()) for n, t in fields])
        cols = list(zip(*rows[table])) or [[] for _ in fields]
        arrays = [pa.array(list(c), type=schema.field(i).type) for i, c in enumerate(cols)]
        tmp = paths[table] + f".tmp.{os.getpid()}"
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), tmp)
        os.replace(tmp, paths[table])
    return out_dir


def normalize_actions(raw: DataFrame) -> DataFrame:
    """Typed ingest boundary (SURVEY.md §1.4): -1/null sentinels ->
    real NULLs, CSV id strings -> array<bigint>, string times ->
    TimestampType. Downstream operators never see the legacy encoding.

    TOTAL over garbage input (try_to_date/try_to_timestamp/per-token
    try_cast): a malformed date string or id token in one row becomes
    NULL in that row — under ANSI mode the plain conversions would
    abort the whole 100 TB load for it."""
    return raw.select(
        F.expr("try_to_date(date)").alias("action_date"),
        "user_id",
        "session_id",
        "page_id",
        F.try_to_timestamp("action_time").alias("action_time"),
        "search_keyword",
        nullif_sentinel("click_category_id").alias("click_category_id"),
        nullif_sentinel("click_product_id").alias("click_product_id"),
        csv_to_array("order_category_ids").alias("order_category_ids"),
        csv_to_array("order_product_ids").alias("order_product_ids"),
        csv_to_array("pay_category_ids").alias("pay_category_ids"),
        csv_to_array("pay_product_ids").alias("pay_product_ids"),
        "city_id",
    )
