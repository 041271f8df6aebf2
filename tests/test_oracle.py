"""Every registered query with a DuckDB twin must hash-match it.

This mirrors the driver's t2 gate (row count + schema + order-insensitive
value hash) at sf0.001 so regressions surface in seconds, not at the
driver.
"""

from __future__ import annotations

import pytest

from frauddetection_spark.oracle import compare
from frauddetection_spark.plans.registry import load_all

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    res = compare(name, spec.fn(spark, sf_dir), duck, spec.oracle)
    assert res.ok, f"{name}: {res.detail}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(name, spark, sf_dir):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
