from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdata_commerce_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def in_job_group(sc, group: str, action):
    """Run ``action`` with its Spark jobs tagged ``group`` (readable
    through ``sc.statusTracker().getJobIdsForGroup``); the caller's
    group, if any, is restored after."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        return action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bigdata_commerce_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()
