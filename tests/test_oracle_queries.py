"""t1/t2 correctness net (SURVEY.md §5.2): every registered query runs on
Spark AND its DuckDB oracle over the same parquet; results must match
exactly (row count, column names, order-insensitive values).

This is the same comparison the driver applies at sf0.01; tests run at
sf0.001 for speed.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_processing_demo_spark.plans.registry import all_queries
from tools.selfcheck import compare

_SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_matches_oracle(name, query_frames, oracle_con):
    spec = _SPECS[name]
    sdf = query_frames[name].toPandas()
    if spec.oracle is None:
        # rows-only check (driver's weaker gate for non-SQL-expressible ops)
        assert sdf is not None
        return
    odf = oracle_con.execute(spec.oracle).fetchdf()
    problems = compare(sdf, odf)
    assert not problems, f"{name}: {problems}"


def test_compare_catches_dtype_class_mismatch():
    """The driver's value hash is type-sensitive: a Spark DOUBLE column with
    values equal to a DuckDB TINYINT column (signum vs sign, both ±1/0) is a
    driver red. compare() must catch it locally — this exact blind spot let
    fn_math stay red for three rounds."""
    import numpy as np
    import pandas as pd

    spark_side = pd.DataFrame({"s": np.array([1.0, -1.0, 0.0], dtype="float64")})
    oracle_side = pd.DataFrame({"s": np.array([1, -1, 0], dtype="int8")})
    problems = compare(spark_side, oracle_side)
    assert problems and "dtype class" in problems[0]

    # equal classes (different widths) must still pass
    a = pd.DataFrame({"s": np.array([1, 2], dtype="int64")})
    b = pd.DataFrame({"s": np.array([1, 2], dtype="int32")})
    assert not compare(a, b)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(_SPECS)
    assert list(q) == list(all_queries())
