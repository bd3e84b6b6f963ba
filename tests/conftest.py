from __future__ import annotations

import pytest

from rag_vector_database_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rvdb-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4",
                              "spark.driver.memory": "4g",
                              "spark.ui.enabled": "false"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def job_count(spark):
    """``job_count(group)``: the number of Spark jobs run under job
    group ``group``. The listener bus is drained first, so a job that
    has just finished is counted."""
    sc = spark.sparkContext

    def count(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
