"""Query registry: name -> (spark callable, duckdb oracle SQL).

This is the engine's correctness contract. Every operator claimed in
SURVEY.md §2.2 appears here as a named query; the driver runs the Spark
side and the oracle SQL side-by-side at sf0.01 and hash-compares.

Determinism rules baked into every registered query (FIXTURES.md):
- money/float SUMs computed as exact integer-cents sums then divided once
  (order-independent, bit-identical in Spark and DuckDB);
- float outputs that can't be made exact are ROUND()ed so the ~1e-12
  aggregation-order noise can't flip a hash;
- ties before any LIMIT/top-k broken by a full deterministic key;
- column names aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None        # DuckDB SQL over pre-registered views; None => rows-only check
    category: str
    description: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, category: str, oracle: str | None = None,
          description: str = "") -> Callable[[SparkQuery], SparkQuery]:
    """Decorator registering a (spark, sf_dir) -> DataFrame query."""
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle,
                                    category=category, description=description)
        return fn
    return deco


def all_queries() -> dict[str, QuerySpec]:
    from . import load_all
    load_all()
    return dict(_REGISTRY)


def get(name: str) -> QuerySpec:
    return all_queries()[name]
