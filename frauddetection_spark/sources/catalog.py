"""Table facts, keyed by file identity.

The one place the engine learns facts about a table file at plan time:
its raw Spark schema and row count (the parquet footer, read driver
side by pyarrow, no Spark job) and any statistic a query computes on
demand (the common-neighbor contact statistics). At 100 TB these
numbers live in a table catalog (ANALYZE / ingest-time stats); here the
catalog is an in-process memo.

Every fact is keyed by the path AND its ``(mtime_ns, size)``
fingerprint, so a file rewritten in place under a long-lived session is
never answered from the old file's facts. When a path's fingerprint
changes, its entries are dropped and every tracked Spark cache is
released: Spark's CacheManager matches a persisted parquet scan by path
alone, so a cache built from the old file would otherwise keep serving
the old rows to a re-built plan.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any, NamedTuple

from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    StructField,
    StructType,
)

from frauddetection_spark.operators.caching import release_caches


class Footer(NamedTuple):
    schema: StructType  # raw Spark schema of the file's physical types
    num_rows: int


# path → (fingerprint, {fact key → value})
_FACTS: dict[str, tuple[tuple[int, int], dict[str, Any]]] = {}


def fingerprint(path: str) -> tuple[int, int]:
    """``(mtime_ns, size)`` of ``path`` — changes on any rewrite."""
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def stats(path: str, key: str, compute: Callable[[], Any]) -> Any:
    """The fact ``key`` about the file at ``path``: ``compute()`` runs
    once per fingerprint of the file and its result is reused until the
    file changes."""
    fp = fingerprint(path)
    held = _FACTS.get(path)
    if held is None or held[0] != fp:
        if held is not None:
            release_caches()
        held = _FACTS[path] = (fp, {})
    facts = held[1]
    if key not in facts:
        facts[key] = compute()
    return facts[key]


def footer(path: str) -> Footer:
    """Raw Spark schema and row count from one parquet footer read.

    Handing Spark an explicit schema skips its schema-inference job at
    plan time; at 100 TB that job is a full footer sweep across every
    file."""

    def read() -> Footer:
        import pyarrow.parquet as pq

        meta = pq.read_metadata(path)
        schema = StructType(
            [
                StructField(f.name, _arrow_to_spark(f.type), True)
                for f in meta.schema.to_arrow_schema()
            ]
        )
        return Footer(schema, meta.num_rows)

    return stats(path, "footer", read)


def _arrow_to_spark(arrow_type) -> DataType:
    """Spark type of a physical arrow type, except that timestamp[ns]
    maps to LongType — the nanosAsLong representation the loader
    converts with `div 1000`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_timestamp(arrow_type) and arrow_type.unit == "ns":
        return LongType()
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        return ArrayType(_arrow_to_spark(arrow_type.value_type))
    return from_arrow_type(arrow_type)
