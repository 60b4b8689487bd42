"""Driver-canonicalizability guard for every registered query's output.

The driver compares Spark vs DuckDB by pulling both results into pandas,
``sort_values``-ing every column, and value-hashing. A top-level
array/map/struct output column puts unhashable cells (list/dict) in the
frame and crashes the canonicalizer — the query goes driver-RED even when
every value is correct. That is exactly how ``text_tokenize_ids`` shipped
red in CORRECTNESS_r05 while all local gates were green (the old
selfcheck mapped list cells to tuples, masking the class).

Rule pinned here: NO registered query may emit a top-level ArrayType,
MapType, or StructType column. Complex values must ship serialized to a
driver-safe scalar (``array_join``, ``to_json``, ...) in BOTH the Spark
query and the oracle. There is deliberately no allowlist — none is
proven driver-safe.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from datastream_processing_demo_spark.plans.registry import all_queries

_SPECS = all_queries()

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_output_schema_is_driver_canonicalizable(name, query_frames):
    # built here, or by test_oracle_queries earlier in the session; this
    # is the frame's last reader, so release it
    df = query_frames[name]
    del query_frames[name]
    bad = [f.name for f in df.schema.fields
           if isinstance(f.dataType, _COMPLEX)]
    assert not bad, (
        f"{name}: top-level complex output column(s) {bad} would crash the "
        f"driver's pandas canonicalizer (unhashable cells). Serialize to a "
        f"scalar (array_join / to_json) in BOTH the Spark query and the "
        f"oracle — see CORRECTNESS_r05 text_tokenize_ids.")


def test_selfcheck_canon_rejects_list_cells():
    """tools/selfcheck._canon must reproduce the driver's failure on
    unhashable cells — the pre-r6 tuple-mapping masked the red."""
    import pandas as pd

    from tools.selfcheck import _canon

    df = pd.DataFrame({"doc_id": [1, 2], "token_ids": [[1, 2], [3]]})
    with pytest.raises(TypeError, match="unhashable"):
        _canon(df)


def test_every_query_ships_an_oracle():
    """OPERATORS.md claims '228 oracle-checked, 0 rows-only'. Guard the
    invariant: a new @query registration without a DuckDB oracle would
    silently reintroduce the weaker rows-only driver check (VERDICT r4
    item 7). Genuinely non-SQL-expressible ops must be added to the
    explicit allowlist here, with a justification."""
    allowed_rows_only: set[str] = set()
    missing = {name for name, spec in all_queries().items()
               if spec.oracle is None} - allowed_rows_only
    assert not missing, (
        f"queries registered without an oracle: {sorted(missing)} — "
        "add a DuckDB oracle or allowlist with justification")
