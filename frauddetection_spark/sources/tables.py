"""Explicit schemas + loaders for the engine's tables.

The reference infers every schema at read time (pandas ``read_csv``,
``Code for Sichuan/Data_processing/data_process.py:53-55``). At 100 TB
schema inference is a full scan, so this engine pins an explicit
StructType per source and *asserts* it against what arrives — a
mismatch should fail loudly at plan time, not silently coerce.

Tables mirror /root/testdata/sf*/: a TPC-H-ish star schema plus
``events`` (the CDR-shaped stream table, standing in for voc.csv),
``documents`` and ``embeddings`` (LLM-pipeline extensions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from frauddetection_spark.sources.catalog import footer


def _s(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    # CDR-shaped event stream: maps to the reference's voc.csv
    # (phone_no_m→user_id, start_datetime→ts, calltype_id→event_type,
    # call_dur→value; data_process.py:55-58).
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TABLE_NAMES: tuple[str, ...] = tuple(SCHEMAS)

# Runtime-settable confs the engine's read path depends on. The driver
# harness (and any downstream user) may hand us a PLAIN SparkSession
# without the repo's session factory, so every read entry point applies
# these defensively — both are runtime-settable on a live session:
#  - nanosAsLong: events.parquet carries INT64 TIMESTAMP(NANOS); without
#    this flag a vanilla session dies with PARQUET_TYPE_ILLEGAL before
#    any query runs.
#  - UTC session timezone: keeps timestamp rendering/extraction identical
#    across Spark and the DuckDB oracle regardless of host timezone.
_REQUIRED_CONFS: tuple[tuple[str, str], ...] = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.session.timeZone", "UTC"),
)


def ensure_read_confs(spark: SparkSession) -> None:
    """Apply the runtime confs any session needs to read our tables."""
    for key, value in _REQUIRED_CONFS:
        spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table with its pinned schema.

    The physical schema comes from the catalog's footer read (no Spark
    job) and is verified against the pinned one — a mismatch fails
    loudly at plan time rather than silently coercing.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    ensure_read_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw = footer(path).schema
    missing = set(SCHEMAS[name].fieldNames()) - set(raw.fieldNames())
    if missing:
        raise ValueError(f"table {name}: missing columns {sorted(missing)}")
    return pinned_projection(spark.read.schema(raw).parquet(path), name, raw)


def pinned_projection(df: DataFrame, name: str, raw: StructType) -> DataFrame:
    """Project a frame read with the raw footer schema ``raw`` onto the
    pinned schema for ``name``.

    Casts only where the physical type drifted (e.g. int32 where int64
    is pinned). Timestamps written as INT64 TIMESTAMP(NANOS) arrive as
    long nanos (nanosAsLong) and are truncated to micros with integer
    division — the same truncation DuckDB applies; timestamps already
    in micros pass through untouched. Shared by the batch loader and
    the streaming source so both adapt to whichever physical encoding
    the files carry. ``raw`` is the schema the caller already holds,
    so projecting costs no schema round trip to the JVM, and the
    projection is SQL text handed over in one ``selectExpr`` rather
    than a ``Column`` built call by call.
    """
    got = {f.name: f.dataType for f in raw.fields}
    exprs = []
    for f in SCHEMAS[name].fields:
        c, want = f"`{f.name}`", f.dataType
        if isinstance(want, TimestampType) and got[f.name] == LongType():
            exprs.append(f"timestamp_micros({c} div 1000) AS {c}")
        elif got[f.name] != want:
            exprs.append(f"CAST({c} AS {want.simpleString()}) AS {c}")
        else:
            exprs.append(c)
    return df.selectExpr(*exprs)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL surface)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
