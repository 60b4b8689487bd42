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

import ast
import os
import sys
from pathlib import Path

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


# Test-only entry points, each the one a test needs, with its reason.
# What they call (`semdedup_candidates`, `blocked_components`) is
# reached through them.
_TEST_ONLY_DEFS = {
    "semdedup": "the fold lane that the registered `semdedup_fast` is "
                "compared against",
    "batch_user_totals": "the golden result for the stateful operator",
}


def _used_names(tree: ast.AST) -> set[str]:
    """Every name a subtree loads, as a bare name or an attribute. A
    plain import is not a use; an `import ... as` rename counts its
    original name."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_package_def_is_reached_outside_the_tests():
    """No code that only tests reach: every top-level def and class of
    the package is reached by name from the registered queries, the
    allowlisted test entry points, the job, the worker daemon, the entry
    contract, or what perfbench, the examples and the tools use.
    Name-based, so a shared name keeps both defs alive; it errs on the
    side of passing."""
    root = Path(__file__).resolve().parents[1]
    pkg = root / "datastream_processing_demo_spark"
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    module_code: dict[str, list[ast.stmt]] = {}
    reached: set[tuple[str, str]] = set()
    work: list[ast.AST] = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        mod = path.relative_to(root).as_posix()
        module_code[mod] = []
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                module_code[mod].append(node)
                continue
            defs.setdefault(node.name, []).append((mod, node))
            if node.name in _TEST_ONLY_DEFS or any(
                    isinstance(d, ast.Call)
                    and getattr(d.func, "id", None) == "query"
                    for d in node.decorator_list):
                reached.add((mod, node.name))
                work.append(node)
        if path.name in ("job.py", "worker_daemon.py"):
            work.append(tree)
    extra = [root / "__spark_entry__.py"]
    for d in ("perfbench", "examples", "tools"):
        extra += [p for p in (root / d).rglob("*.py")
                  if "tests" not in p.relative_to(root).parts]
    work += [ast.parse(p.read_text(encoding="utf-8")) for p in extra]

    # A module's own top-level code runs once any of its defs is used.
    live = {mod for mod, _ in reached}
    work += [stmt for mod in live for stmt in module_code[mod]]
    while work:
        for name in _used_names(work.pop()):
            for mod, node in defs.get(name, ()):
                if (mod, name) in reached:
                    continue
                reached.add((mod, name))
                work.append(node)
                if mod not in live:
                    live.add(mod)
                    work += module_code[mod]

    assert set(_TEST_ONLY_DEFS) <= set(defs), "stale allowlist entry"
    unreached = sorted(f"{mod}:{name}" for name, found in defs.items()
                       for mod, _ in found if (mod, name) not in reached)
    assert not unreached, (
        f"defs that only tests reach: {unreached} — delete them with "
        "their tests, or allowlist the test entry point with a reason")
