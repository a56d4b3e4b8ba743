"""Semi-structured ingestion via Spark 4's VARIANT type.

The reference parses its JSON task-params and event payloads with
per-field string functions (``get_json_object`` — our §2.8 coverage);
VARIANT is the Spark-4-native upgrade: parse ONCE into a binary
semi-structured value, then typed ``variant_get`` extractions that
Catalyst can push into scans of variant-typed columns. For a
100 TB event stream with a JSON props column, the parse-once shape
removes the per-extraction re-parse that stacked get_json_object
calls pay.

Totality discipline: ``try_parse_json`` — a malformed payload becomes
a NULL variant (and NULL extractions) instead of an ANSI-mode job
abort (the conform_schema/try_cast posture applied to JSON).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def variant_extract(
    df: DataFrame, json_col: str, fields: dict[str, tuple[str, str]]
) -> DataFrame:
    """Parse ``json_col`` once and extract ``fields`` as typed
    columns: {out_name: (json_path, spark_type)} — e.g.
    {"ad_id": ("$.k", "int")}. A missing path, a type mismatch
    (try_variant_get — plain variant_get THROWS there), or a
    malformed document all yield NULL in that column (totality)."""
    v = F.try_parse_json(F.col(json_col))
    out = df.withColumn("__v", v)
    for name, (path, typ) in fields.items():
        out = out.withColumn(name, F.try_variant_get(F.col("__v"), path, typ))
    return out.drop("__v")
