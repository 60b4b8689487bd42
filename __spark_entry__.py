"""Entry-point contract of the batch query surface (PySpark target).

``entry(spark)`` is a smoke query; ``queries()[name]`` runs a registered
query over a testdata directory (sf0.01 in the oracle tests), and
``oracle_sql()[name]`` is the DuckDB SQL it is compared against
(row count, schema and an order-insensitive value hash; see
tools/selfcheck.py and tests/test_oracle_queries.py).

All real logic lives in ``datastream_processing_demo_spark``; this file
just adapts the plan registry to the entry-point shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datastream_processing_demo_spark.plans.registry import (  # noqa: E402
    all_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    spec = all_queries()["q1_pricing_summary"]
    return spec.spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.2, in
    registration order."""
    return {name: spec.spark for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every hash-checkable query."""
    return {name: spec.oracle for name, spec in all_queries().items()
            if spec.oracle is not None}
