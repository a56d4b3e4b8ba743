"""Connected components on an edge list that fails to compute."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.dedup_cluster import connected_components


def test_connected_components_releases_edges_on_error(spark):
    """An edge list that fails to compute leaves no cached projection
    behind: the persisted (a, b) frame is released on every exit."""
    edges = spark.range(3).select(
        F.col("id").alias("id1"),
        F.raise_error(F.lit("bad edge")).cast("long").alias("id2"),
    )
    with pytest.raises(Exception, match="bad edge"):
        connected_components(spark.range(4), edges)
    ab = edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    assert ab.storageLevel == StorageLevel.NONE
