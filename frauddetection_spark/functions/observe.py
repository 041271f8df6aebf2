"""In-flight pipeline metrics via ``DataFrame.observe`` — the
production pattern for data-quality gating at write time.

A 100-TB pipeline cannot afford a separate validation scan after every
write (that doubles I/O); ``observe`` attaches aggregate expressions
to the SAME job that materializes the data, so the metrics ride the
existing pass for free. The helpers here pair an observed write with
threshold assertions — reject-the-batch-don't-poison-the-table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class WriteMetrics:
    n_rows: int
    n_null_keys: int
    metrics: dict


def write_observed(
    df: DataFrame,
    path: str,
    key_col: str,
    extra_metrics: dict | None = None,
) -> WriteMetrics:
    """Overwrite ``path`` with parquet while collecting row count,
    null-key count, and any extra named aggregate expressions — all
    measured by the write job itself (zero additional scans). Returns
    the observed metrics so the caller can gate downstream steps (e.g.
    refuse to swap a partition whose null-key rate jumped)."""
    # The observed write runs on a THROWAWAY CHILD SESSION (same
    # SparkContext, own session state): registering an Observation
    # initializes the session's lazy observation listener, after which
    # that SparkSession is no longer Java-serializable — any later job
    # whose task closure drags the session (e.g. an MLlib model whose
    # training summary holds it) dies with Task-not-serializable. The
    # plan is rebound to the child via Dataset.ofRows, metrics are
    # collected there, and the caller's session stays clean.
    child = df.sparkSession.newSession()
    jvm = child.sparkContext._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        child._jsparkSession, df._jdf.queryExecution().logical()
    )
    cdf = DataFrame(jdf, child)
    obs = Observation("write_metrics")
    exprs = [
        F.count(F.lit(1)).alias("n_rows"),
        # count, not sum: a global sum over an empty write is NULL
        F.count(F.when(F.col(key_col).isNull(), 1)).alias("n_null_keys"),
    ]
    for name, col in (extra_metrics or {}).items():
        exprs.append(col.alias(name))
    observed = cdf.observe(obs, *exprs)
    observed.write.mode("overwrite").parquet(path)
    got = obs.get
    return WriteMetrics(
        n_rows=got["n_rows"],
        n_null_keys=got["n_null_keys"],
        metrics=dict(got),
    )


def assert_quality(
    m: WriteMetrics, min_rows: int = 1, max_null_key_rate: float = 0.0
) -> None:
    """Gate: raise if the batch is empty/too small or the null-key
    rate exceeds the budget. Callers run this BEFORE publishing the
    written path (manifest swap / partition rename)."""
    if m.n_rows < min_rows:
        raise ValueError(f"quality gate: {m.n_rows} rows < min {min_rows}")
    rate = m.n_null_keys / m.n_rows if m.n_rows else 1.0
    if rate > max_null_key_rate:
        raise ValueError(
            f"quality gate: null-key rate {rate:.6f} > {max_null_key_rate}"
        )
