"""Shared fixtures: one SparkSession per test run + a DuckDB oracle con."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.catalog import TABLE_NAMES, table_path
from datastream_processing_demo_spark.plans.registry import all_queries
from datastream_processing_demo_spark.session import EngineConfig, get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The JVM shares a 16 GB host with this process, which holds about 5 GB
# during the sim_ann_* oracle tests. get_session's 16g default heap let
# the JVM grow to 8-10 GB beside it; 4g keeps both in memory. A value
# set by the caller wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    # Stateful queries run on Spark's default HDFS-backed state store
    # (session.py); set SPARK_GRAFT_STATESTORE to sweep the streaming
    # suites under RocksDB (org.apache.spark.sql.execution.streaming.
    # state.RocksDBStateStoreProvider) and pin provider parity of results
    extra = {}
    provider = os.environ.get("SPARK_GRAFT_STATESTORE")
    if provider:
        extra["spark.sql.streaming.stateStore.providerClass"] = provider
    s = get_session(EngineConfig(app_name="tests", extra_conf=extra))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class QueryFrames(dict):
    """name -> DataFrame of a registered query, built on first lookup.

    Building a query can run Spark jobs (the ANN lanes collect the
    corpus to train their centroids and codebooks eagerly), and both
    test_oracle_queries and test_registry_guard need every query
    built. Running a frame does not change its schema, so the guard
    reads the frame the oracle test ran instead of building it again."""

    def __init__(self, spark, sf_dir):
        super().__init__()
        self._specs = all_queries()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name):
        df = self[name] = self._specs[name].spark(self._spark, self._sf_dir)
        return df


@pytest.fixture(scope="session")
def query_frames(spark, sf_dir):
    return QueryFrames(spark, sf_dir)


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    yield con
    con.close()
