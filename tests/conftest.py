from __future__ import annotations

import itertools
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

SF_DIR = "/root/testdata/sf0.001"


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (cached query plans)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


_groups = itertools.count()


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"counted-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from arcadedb_spark.session import get_spark

    s = get_spark("arcadedb-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def db(spark):
    from arcadedb_spark.database import Database

    return Database.open(spark, SF_DIR)
