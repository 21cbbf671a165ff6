import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lightcurvesclassifier_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("lcc-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from lightcurvesclassifier_spark.sources.testdata import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


def job_count(spark, group, action):
    """The number of Spark jobs ``action()`` launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are listener events
    return len(sc.statusTracker().getJobIdsForGroup(group))
