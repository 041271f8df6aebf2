"""Query catalog: the single source of truth behind ``__spark_entry__.py``.

Each :class:`QuerySpec` binds a declared query name (SURVEY.md §2's
contract column) to

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation,
- ``oracle`` — the DuckDB-SQL twin (None → driver's weaker rows-only
  check, for genuinely non-SQL-expressible ops).

SURVEY.md §2 and §2.9 map every query name to the row it covers.

Authoring rules (SURVEY.md §5):
- results are multisets; no terminal sort unless a limit makes it a
  top-k (the comparators ignore row order, and a bare global sort
  costs a range-partitioned shuffle plus a sampling job);
- alias every computed column identically in both twins;
- round floats (``round(x, 6)``) in both to dodge summation-order drift;
- ``sort_array`` any collected arrays;
- never use ``first()``/nondeterministic dedup in an oracle query.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None


REGISTRY: dict[str, QuerySpec] = {}

# Name of the most recently constructed query (cache-lifetime guard in
# ``register``): construction of a DIFFERENT query releases all tracked
# caches; re-construction of the same one keeps its warm state.
_LAST_CONSTRUCTED: str | None = None

# Modules that populate the registry on import.
_QUERY_MODULES = (
    "frauddetection_spark.queries.relational",
    "frauddetection_spark.queries.features",
    "frauddetection_spark.queries.graph",
    "frauddetection_spark.queries.sampling",
    "frauddetection_spark.queries.metrics",
    "frauddetection_spark.queries.text",
    "frauddetection_spark.queries.similarity",
    "frauddetection_spark.queries.streaming_twins",
    "frauddetection_spark.queries.python_surface",
    "frauddetection_spark.queries.llm_pipeline",
    "frauddetection_spark.queries.analytics",
    "frauddetection_spark.queries.fraud",
    "frauddetection_spark.queries.behavior",
    "frauddetection_spark.queries.scorecard",
    "frauddetection_spark.queries.sketches",
)


def register(name: str, oracle: str | None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the catalog.

    The registered callable releases every TRACKED cache left by prior
    DIFFERENT-name query constructions before building its own plan: a
    long driver session runs hundreds of queries back-to-back and the
    per-query persists (shingle frontiers, rank frames, IVF/PQ
    codebooks) would otherwise accumulate until executor memory
    pressure inflates later queries 1.5-3×, whichever runner drives
    the session. Unpersist is always correctness-safe — a
    still-referenced plan just recomputes. Re-running the SAME query
    (repeats, retries) does NOT release: an identical re-persist
    plan-matches the existing cache entry (no growth), and releasing
    would throw away the warm state the repeat could reuse.

    The wrapper carries ``functools.wraps(fn)``, so ``inspect.unwrap``
    recovers the query's own function (source, module, name)."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
            global _LAST_CONSTRUCTED
            from frauddetection_spark.operators.caching import release_caches

            if _LAST_CONSTRUCTED != name:
                release_caches()
            _LAST_CONSTRUCTED = name
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name=name, fn=guarded, oracle=oracle)
        return fn

    return wrap


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the catalog."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return REGISTRY
