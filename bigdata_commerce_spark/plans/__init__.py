"""Query catalog: the reference's ten requirements (plus the
relational and training-data operator suites) as (Spark, oracle-SQL)
pairs over the shared testdata.

Each query's decorator states its registry: ``@query`` for the 50
driver slots, ``@twin_query`` for the pytest-checked twins.
ROTATION.md lists the membership and tests/test_rotation_ledger.py
pins it."""

from bigdata_commerce_spark.plans import (  # noqa: F401
    catalog,
    catalog_dataops,
    catalog_relational_ext,
)
from bigdata_commerce_spark.plans.registry import (
    ORACLES,
    QUERIES,
    TWIN_ORACLES,
    TWIN_QUERIES,
)

# The SQL-surface twin must produce byte-identical results to the
# DataFrame form — give it the same oracle.
ORACLES.setdefault("region_top3_parts_sql", ORACLES["region_top3_parts"])

__all__ = ["QUERIES", "ORACLES", "TWIN_QUERIES", "TWIN_ORACLES"]
