"""Session-scoped registry for persisted DataFrames.

Some operators persist frames whose lifetime outlives the function that
created them (pagerank/probe invariants referenced by the RETURNED lazy
plan): an eager unpersist would defeat the cache, so callers own
cleanup — run :func:`release_caches` after the final action on the
result (long-lived driver sessions accumulate cached frames otherwise).
The plan registry's per-query guard calls it automatically between
queries.

The registry is its own module, not a private helper of one operator
module, so that every operator and query module imports it from one
place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later bulk release and return
    it unchanged. Call this on every ``.persist()`` whose unpersist
    cannot happen inside the creating function."""
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked invariant cache; returns the count.
    Safe at any time — unpersist never breaks correctness, only forces
    recomputation if the plan is re-executed afterwards."""
    n = 0
    while _TRACKED_CACHES:
        _TRACKED_CACHES.pop().unpersist()
        n += 1
    return n
