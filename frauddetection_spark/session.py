"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 1000-executor / 100 TB target; a
local session sizes its cores, shuffle partitions and heap from the
cores this process may run on (``DEFAULT_CPUS``):

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the single highest-leverage setting
  for plans whose cardinalities we can't predict at authoring time.
- Arrow on — every pandas interchange (pandas_udf, applyInPandas,
  toPandas at the ML boundary) goes through columnar batches instead of
  pickled rows.
- UTC session timezone — timestamp semantics must not depend on the
  machine the driver happens to run on (and must match the DuckDB
  oracle, which compares naive timestamps).
- Explicit shuffle partitions as a *starting point*; AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local core count (and, through it, shuffle partitions and heap).
# SPARK_GRAFT_CPUS overrides; otherwise the cores this process may run
# on, so an unset variable never sizes the JVM for a bigger host.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def get_spark(
    app_name: str = "frauddetection-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Without ``SPARK_MASTER_URL`` the master is ``local[DEFAULT_CPUS]``;
    a deployment sets that variable and spark-submit supplies the
    cluster manager.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        # --- adaptivity: let the runtime fix what the planner can't know
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- columnar python interchange
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic timestamp semantics (matches DuckDB oracle)
        .config("spark.sql.session.timeZone", "UTC")
        # --- testdata writes TIMESTAMP(NANOS); Spark has no nanos type.
        #     Read as int64 and convert to micros in the loader (same
        #     truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- shuffle sizing: start at #cores locally; a real cluster
        #     would start at ~2-3x total cores and let AQE coalesce.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # --- scan sizing: default 128m is right for the 100 TB target
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast: dims (region/nation/customer/supplier/part at
        #     test SFs) should broadcast; AQE also converts at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- heap: scaled with the core count (0.75 GiB per local
        #     core, floor 8g), SPARK_GRAFT_DRIVER_MEM overrides
        #     (clusters pass their own).
        #     local[N] packs N executor cores into ONE driver
        #     JVM, so a flat heap starves concurrent tasks as N grows:
        #     a flat 8g gives 32 tasks 0.25 GiB each — ~10x under any
        #     production executor sizing (guide §5) — and GC churn
        #     then dominates (a 32-core profile spent 3x the GC time
        #     at 8g as at 24g). Heap per core keeps the per-task share
        #     fixed (24g at 32 cores, 8g at ≤10). This is §5 memory
        #     sizing that transfers to any executor shape, not a
        #     local-only tune.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", f"{max(8, (cpus * 3) // 4)}g"
            ),
        )
    )
    if not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
