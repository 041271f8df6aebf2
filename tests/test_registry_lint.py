"""Registry-wide output-shape lints.

A query that emits a raw ``ArrayType`` top-level column can hash-match
locally and still fail the driver: the DRIVER's canonicalizer (pandas
``sort_values`` over raw cells) crashes on list values (``TypeError:
unhashable type: 'list'``) — ``q_inverted_index`` once failed that
way. Two defenses:

1. **Structural** (here): no declared ORACLE query may emit ArrayType /
   MapType / StructType at the top level of its output schema. Arrays
   must be joined to strings (the ``q_collect_series`` convention:
   ``array_join(transform(...), ',')`` / DuckDB ``array_to_string``).
   Rows-only queries (no DuckDB twin → the driver only counts rows)
   are exempt: the driver never canonicalizes them. The schemas come
   from the suite's one catalog construction pass (the
   ``plan_inspections`` fixture in tests/conftest.py).

2. **Behavioral** (lives in :func:`frauddetection_spark.oracle.compare`):
   every oracle comparison also runs a vendored replica of the driver's
   own canonicalizer, so any OTHER shape pandas cannot sort fails the
   local suite before it can fail the driver.
"""

from __future__ import annotations

import pytest

from frauddetection_spark.plans.registry import load_all

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


def test_driver_canon_rejects_list_cells():
    """The vendored driver leg must reproduce the driver's crash on
    list cells — otherwise it silently stops being the stricter
    comparator and the q_inverted_index failure can recur undetected.
    (The repo's own _canon_frame stringifies the same frame fine: that
    permissiveness gap is exactly what hid q_inverted_index.)"""
    import pandas as pd
    import pytest as _pytest

    from frauddetection_spark.oracle import _canon_frame, driver_canon_frame

    pdf = pd.DataFrame({"k": ["a", "b"], "v": [[1, 2], [3]]})
    assert len(_canon_frame(pdf)) == 2  # permissive leg copes
    with _pytest.raises(TypeError):
        driver_canon_frame(pdf)  # driver leg crashes, as the driver does


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_output_is_atomic(name, plan_inspections):
    bad = plan_inspections[0][name]["non_atomic"]
    assert not bad, (
        f"{name} emits non-atomic top-level column(s) {bad} — the driver "
        "canonicalizer crashes on these (as it did on q_inverted_index). "
        "Join arrays to strings per the q_collect_series convention."
    )
