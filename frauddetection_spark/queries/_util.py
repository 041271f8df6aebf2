"""Shared helpers for query authoring."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.operators.rank import prefix_rank
from frauddetection_spark.sources.tables import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its pinned schema."""
    return load_table(spark, sf_dir, name)


def r6(c: Column | str) -> Column:
    """Round a float column to 6 decimals in BOTH twins.

    CAVEAT (sf0.1 sweep finding): round(x, 6) is itself a divergence
    source — Spark (BigDecimal HALF_UP) and DuckDB (float multiply)
    disagree at .5e-6 boundaries even on identical doubles. Prefer:
    exact-int-derived values → emit UNROUNDED (identical doubles
    format identically); order-dependent float sums → quantize
    intermediates to int64 (scale-0 rounding IS exact in both
    engines). r6 remains only where an expression's value is identical
    across engines and far from boundaries in the test data; verify
    any new use at sf0.1, not just sf0.01."""
    return F.round(F.col(c) if isinstance(c, str) else c, 6)


def week_str() -> Column:
    """Monday-anchored week bucket of ``ts`` as a plain string.

    Both Spark and DuckDB ``date_trunc('week', ts)`` truncate to Monday;
    emitting a *string* avoids date-vs-timestamp dtype drift between the
    two engines' pandas conversions.
    """
    return F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")


# DuckDB twin of week_str
SQL_WEEK = "strftime(date_trunc('week', {ts}), '%Y-%m-%d')"


def cents(c: Column | str, scale: int = 100) -> Column:
    """Fixed-point integer view of a 2-decimal double column.

    Oracle-critical aggregates (sum/avg/variance over doubles) drift
    between engines at ~1e-7 relative because summation order and
    variance kernels differ; any fixed rounding can land on a digit
    boundary. Testdata money/value columns are 2-decimal fixed point,
    so summing exact int64 cents makes both engines produce *identical*
    doubles after one final division. (Int64 bounds: |Σ cents| < 9.2e18
    — safe up to ~1e14 rows of 4-digit values per group.)
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * scale).cast("bigint")


def quantile_ranks(
    spark: SparkSession, sf_dir: str, quantiles: tuple[tuple[str, int, int], ...]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared scaffolding of the exact per-event_type quantile queries
    (q_quantile_grid, q_quantile_interp). Returns three frames:

    - ``goff``: per event_type, its first global rank ``rn0`` and its
      row count ``nn``;
    - ``r``: every event with its value in cents ``c``, its group's
      ``nn`` and its 1-based rank ``grn`` within its event_type by
      (c, event_id);
    - ``fr``: the quantile spec as a ``(q_label, num, den)`` literal
      frame, one row per ``quantiles`` entry.

    Ranks come from prefix_rank over the TOTAL order (event_type, c,
    event_id) — range-partitioned two-phase ranking, never a per-group
    window that funnels a huge group through one task — and per-group
    ranks subtract each group's broadcast min-rank offset."""
    e = t(spark, sf_dir, "events")
    c = e.select("event_type", "event_id", cents("value").alias("c"))
    # the ranked frame feeds BOTH the row side and the per-group offset
    # aggregate; without the (tracked) persist Spark re-runs the whole
    # two-phase rank for each subtree — a doubled scan at any scale
    ranked = track_cache(
        prefix_rank(
            c, [F.col("event_type"), F.col("c"), F.col("event_id")]
        ).persist()
    )
    goff = ranked.groupBy("event_type").agg(
        F.min("rn").alias("rn0"), F.count("*").alias("nn")
    )
    r = ranked.join(F.broadcast(goff), "event_type").withColumn(
        "grn", F.col("rn") - F.col("rn0") + 1
    )
    fr = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lbl).alias("q_label"),
                            F.lit(num).cast("bigint").alias("num"),
                            F.lit(den).cast("bigint").alias("den"),
                        )
                        for lbl, num, den in quantiles
                    ]
                )
            ).alias("f")
        )
        .select("f.*")
    )
    return goff, r, fr
