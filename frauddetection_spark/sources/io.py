"""Sources & sinks beyond plain parquet reads (SURVEY.md §2.1 S1/S4 +
the partitioned/bucketed layouts §4 calls for at 100 TB).

Layout policy for big tables:
- **Partition** by a low-cardinality pruning key (date, region): a
  filtered read then scans only matching directories
  (PartitionFilters in the plan — verified in tests/test_io.py).
- **Bucket** by the dominant join/agg key: two tables bucketed on the
  same key join with ZERO shuffle (no Exchange in the plan — also
  verified). At 100 TB, pre-bucketing the events table on user_id
  removes the biggest recurring shuffle in the behavioral-feature
  queries.
- CSV exists for interchange only (reference reads CSV,
  data_process.py:53-55): always an explicit schema — inference is a
  full extra scan and type-unstable.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Directory-partitioned parquet sink. Caller picks partition keys
    with enough files per partition to parallelize but few enough
    directories to keep listings cheap (≲ 10⁴)."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def read_partitioned(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read back a partitioned layout; partition columns come from the
    directory structure and filters on them prune at planning time.
    Pass an explicit `schema` (partition column included, matched by
    name) to skip footer-based inference — inference can launch a
    Spark job at plan-construction time."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_by: str, n_buckets: int = 8
) -> None:
    """Bucketed managed table (saveAsTable — bucketing metadata lives
    in the session catalog), replacing any table of that name.
    Joins/aggregations on `bucket_by` between co-bucketed tables skip
    the shuffle."""
    spark = df.sparkSession
    # a managed-table location can outlive the catalog entry (new
    # session, old warehouse dir) — clear both before writing
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.exists(loc):
        import shutil

        shutil.rmtree(loc)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_by)
        .format("parquet")
        .saveAsTable(table)
    )


def write_range_sorted(
    df: DataFrame, path: str, keys: list[str], n_partitions: int
) -> None:
    """Range-partitioned, within-partition-sorted parquet sink — the
    layout that makes downstream merge joins and key-range scans cheap
    at 100 TB: ``repartitionByRange`` samples the keys and assigns
    disjoint key ranges to output files (so a key-range predicate
    touches few files and parquet min/max row-group stats prune hard),
    and ``sortWithinPartitions`` makes every file internally ordered
    (run-length/delta encoding compresses better, and a merge reader
    never re-sorts). Verified in tests/test_io.py: per-file key ranges
    are pairwise disjoint."""
    (
        df.repartitionByRange(n_partitions, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(path)
    )


def export_csv(df: DataFrame, path: str) -> None:
    """CSV sink (header, default quoting). Doubles round-trip via
    Spark's shortest-repr writer."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: StructType, **options: str
) -> DataFrame:
    """CSV scan with a REQUIRED explicit schema (S1; never infer —
    inference is a full scan at 100 TB and is type-unstable).

    Extra reader options pass through — e.g. ``escape='"'`` for
    RFC-4180 files (doubled quotes) vs Spark's backslash default."""
    reader = spark.read.schema(schema).option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """ORC source with a REQUIRED explicit schema (S1 — the other
    columnar interchange format big lakes actually hold; Spark's reader
    is built in, same pushdown + pruning machinery as parquet). Never
    infer: footer inference over 10⁶ files is a driver stall."""
    return spark.read.schema(schema).orc(path)


def read_xml(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """XML source with a REQUIRED explicit schema (S1 — Spark 4 ships
    the spark-xml reader built in; rowTag-scoped parsing). Never infer:
    structure inference over many files is a driver stall, and it can
    type-flip sparse columns."""
    reader = spark.read.format("xml").option("rowTag", "row")
    return reader.schema(schema).load(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSON-lines source with a REQUIRED explicit schema (engine
    policy §1.2: never infer — Spark's JSON inference is a full data
    scan at 100 TB, and silently widens types). One JSON object per
    line, the interchange format of every LLM-corpus distribution."""
    return spark.read.schema(schema).json(path)


def derived_fixture(
    sf_dir: str,
    kind: str,
    src_name: str,
    build: Callable[[str, str], None],
) -> str:
    """Materialize-once driver-side fixture derived from
    ``{sf_dir}/{src_name}.parquet`` by a pure-Python ``build`` (pyarrow
    on the driver — constructing a query that calls this runs ZERO
    Spark jobs).

    The fixture directory is content-addressed: its name carries a hash
    of the source's real path, a hash of the builder's source text, and
    the source's catalog fingerprint ``(mtime_ns, size)``. A rewritten
    source therefore gets a fresh fixture — without this, Spark would
    aggregate a stale copy while the DuckDB oracle reads the fresh
    parquet, a spurious (or, worse, masked) oracle mismatch — and so
    does a changed builder, whose old output would otherwise be served
    at an unchanged fingerprint. (Source text, unlike compiled code,
    carries no file path or line numbers, so two checkouts of one
    builder share its fixture instead of evicting each other's.) Two
    data directories that share a basename never share a fixture. The
    build runs in a temporary directory that is renamed into place, so
    a concurrent reader never observes a half-built fixture; fixtures
    of the source's older fingerprints or builders are removed.

    ``build(src_parquet_path, out_dir)`` writes the fixture files.
    Returns the fixture directory.
    """
    import glob
    import hashlib
    import inspect
    import shutil
    import tempfile

    from frauddetection_spark.sources.catalog import fingerprint

    src = os.path.realpath(os.path.join(sf_dir, f"{src_name}.parquet"))
    mtime_ns, size = fingerprint(src)
    source = hashlib.sha1(src.encode()).hexdigest()[:16]
    builder = hashlib.sha1(inspect.getsource(build).encode()).hexdigest()[:8]
    prefix = os.path.join(
        tempfile.gettempdir(), f"fd_spark_{kind}_{src_name}_{source}_"
    )
    path = f"{prefix}{builder}_{mtime_ns}_{size}"
    if not os.path.isdir(path):
        tmp = tempfile.mkdtemp(prefix="fd_spark_build_")
        try:
            build(src, tmp)
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):  # not a concurrent builder's win
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        for old in glob.glob(f"{glob.escape(prefix)}*"):
            if old != path:
                shutil.rmtree(old, ignore_errors=True)
    return path


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Incremental backfill sink: overwrite ONLY the partitions present
    in ``df``, leaving every other partition directory untouched
    (``partitionOverwriteMode=dynamic``). This is the idempotent daily
    re-run pattern at 100 TB — recompute one day/region and replace its
    directory atomically instead of rewriting the table or appending
    duplicates. STATIC overwrite (the default) would truncate the whole
    table first. Verified in tests/test_io.py: rewriting one partition
    leaves sibling partitions byte-identical and replaces (not appends)
    the target."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


# Bits per key of write_zordered's Morton value: 2^8 rank levels each.
ZORDER_BITS = 8


def write_zordered(
    df: DataFrame, path: str, key_a: str, key_b: str, n_partitions: int
) -> None:
    """Z-order (Morton-curve) layout over TWO numeric keys — the
    multi-dimension file-pruning technique (Delta OPTIMIZE ZORDER BY's
    core): each key is rank-normalized to 2^ZORDER_BITS levels, the two
    bit-strings are interleaved into one Morton value, and files are
    range-split + sorted on it. A single-key sort makes the OTHER
    key's per-file min/max spans useless (every file spans the full
    range); the Z-curve keeps every file a small rectangle in (a, b)
    space, so parquet row-group stats prune on BOTH predicates.
    Verified in tests/test_io.py: mean per-file span shrinks
    dramatically on the second dim vs a single-key sort.

    Rank bucketing (via the two-phase prefix_rank — O(1) per row, no
    cutpoint arrays) makes the curve robust to skewed value
    distributions. Cost: two range shuffles for the ranks + one for
    the final layout — a write-side job, amortized over every
    downstream 2-D-predicate read."""
    from pyspark.sql import functions as F

    from frauddetection_spark.operators.caching import release_caches
    from frauddetection_spark.operators.rank import prefix_rank

    levels = 1 << ZORDER_BITS
    ra = prefix_rank(
        df, [F.col(key_a), F.col(key_b)], total_count="_n"
    ).withColumnRenamed("rn", "_rna")
    rb = prefix_rank(
        ra, [F.col(key_b), F.col(key_a)], total_count="_n2"
    ).withColumnRenamed("rn", "_rnb")
    bucketed = rb.withColumn(
        "_ba", ((F.col("_rna") - 1) * levels / F.col("_n")).cast("bigint")
    ).withColumn(
        "_bb", ((F.col("_rnb") - 1) * levels / F.col("_n2")).cast("bigint")
    )
    # interleave bits: z = Σ_i ((ba>>i & 1) << 2i+1 | (bb>>i & 1) << 2i)
    z = F.lit(0).cast("bigint")
    for i in range(ZORDER_BITS):
        z = (
            z
            + (F.shiftright(F.col("_ba"), i).bitwiseAND(1).cast("bigint")
               * F.lit(1 << (2 * i + 1)))
            + (F.shiftright(F.col("_bb"), i).bitwiseAND(1).cast("bigint")
               * F.lit(1 << (2 * i)))
        )
    (
        bucketed.withColumn("_z", z)
        .repartitionByRange(n_partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_rna", "_rnb", "_n", "_n2", "_ba", "_bb", "_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    # the two prefix_rank passes persist their range frames; the write
    # is the final action, so release them eagerly here
    release_caches()


def compact_small_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    sort_by: list[str] | None = None,
) -> int:
    """Table-maintenance compaction: rewrite a parquet directory into
    ⌈total_bytes / target⌉ right-sized files (returns the file count).

    Small-files sprawl is the silent killer of 100-TB scans — every
    file is a task, a footer fetch, and an open/close; streaming sinks
    and per-partition appends routinely leave thousands of KB-sized
    files behind. Sizing is driven by the SOURCE's on-disk bytes
    (driver-side os.walk over the listing — metadata, no data read,
    no Spark job): post-compaction compressed size ≈ source compressed
    size, so targeting 128 MB spark.sql.files.maxPartitionBytes-
    aligned files keeps one scan task per file afterwards. With
    ``sort_by`` the rewrite range-partitions + sorts (re-establishing
    min/max row-group pruning, like write_range_sorted); without, a
    plain repartition(n) round-robins rows evenly. Writes to a NEW
    directory — callers swap atomically (rename) after validation, the
    same discipline every table format's OPTIMIZE uses."""
    import math

    total = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(in_path)
    if sort_by:
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in sort_by]
        out = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(out_path)
    return n
