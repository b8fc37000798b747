from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from schemamap_spark.session import get_spark  # noqa: E402

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("schemamap-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    return SchemamapEngine(spark, FixtureCatalog(spark))


@pytest.fixture(scope="session")
def rdd_free():
    """Predicate: a frame plans no Python-RDD leaf (`LogicalRDD` /
    `Scan ExistingRDD`), whose every action would start Python workers."""

    def check(df) -> bool:
        qe = df._jdf.queryExecution()
        plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        return "LogicalRDD" not in plans and "ExistingRDD" not in plans

    return check
