from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cust_sagemaker_feature_store_spark import get_spark
from cust_sagemaker_feature_store_spark.catalog import TABLES
from cust_sagemaker_feature_store_spark.testing import duckdb_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh Spark job group and
    returns the number of jobs it started."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn) -> int:
        group = f"count_jobs_{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb_connection(sf_dir, TABLES)
    yield con
    con.close()
