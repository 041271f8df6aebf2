"""Distributed global ranking: two-phase range-partitioned prefix
ranks/sums, replacing the classic scale-killer
``row_number().over(Window.orderBy(...))`` — an UNPARTITIONED window
funnels every row through ONE task ("No Partition Defined for Window
operation" = single-reducer sort), which caps the operator at one
executor's memory no matter how large the cluster is.

The two-phase form (the discipline of classic zipWithIndex):

1. ``repartitionByRange`` on the order key — partitions are ordered and
   disjoint, so a row's global rank = its LOCAL rank within the
   partition + the total row count of all earlier partitions;
2. rank / running-sum *within* each partition (partitioned window —
   fully parallel);
3. per-partition totals (#partitions rows — bounded by cluster shape,
   not data) → prefix-sum offsets → broadcast join back.

Because the range partitions are ordered and disjoint, local + offset
equals the global answer no matter where the sampled partition bounds
land, so results are exact and deterministic even though
``repartitionByRange`` picks bounds by sampling.

Built on it: rank-statistic ROC-AUC (reference metric:
``Code for Amazon and Yelp/new_utlis_1.py:35-50`` roc_auc_score — the
reference trusts sklearn on a driver-local array; here the rank sums
are computed relationally and the formula is oracle-checked). AUC
needs only rank *sums* per tie-group, so it never materializes a
row-level rank at all: aggregate to score grain first (ties collapse),
then prefix-count gives every tie-group's midrank in closed form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache

# Offsets windows below run over ≤ RANK_PARTITIONS rows by construction
# (one row per range partition) — bounded by this constant, not by data.
RANK_PARTITIONS = 32


def prefix_rank(
    df: DataFrame,
    order_by: list[Column],
    sums: dict[str, Column] | None = None,
    total_count: str | None = None,
) -> DataFrame:
    """Global row_number ``rn`` (1-based) and inclusive prefix sums
    over a TOTAL order, with no unpartitioned row-level window.

    ``order_by`` must be a total order (break ties by a unique key) or
    ``rn`` is nondeterministic within ties. ``sums`` maps output column
    name → numeric expression; each output is the running sum of the
    expression over the global order, current row included.
    ``total_count`` (optional) names an extra column carrying the grand
    total row count — derived from the same per-partition size table
    (broadcast single row), NOT a second scan of ``df``: rank-transform
    consumers (ntile / percent_rank / cume_dist in closed form) need
    (rn, n) and would otherwise re-aggregate the input.
    """
    sums = dict(sums or {})
    # PERSIST the range-partitioned frame: the local-rank and the
    # per-partition-totals subplans below both read it, and without a
    # single materialization Spark may evaluate the RangeExchange
    # TWICE with independently SAMPLED bounds — rows then straddle
    # different partition boundaries in the two evaluations and the
    # local+offset sum is silently wrong (observed: 241 duplicate /
    # 288 missing ranks over a 15k-row aggregate input at sf0.1).
    # ReusedExchange usually hides this; it is not guaranteed.
    parts = track_cache(
        df.repartitionByRange(RANK_PARTITIONS, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    w_ord = Window.partitionBy("_pid").orderBy(*order_by)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    local = parts.withColumn("_lrn", F.row_number().over(w_ord))
    for name, col in sums.items():
        local = local.withColumn(f"_l_{name}", F.sum(col).over(w_cum))
    totals = parts.groupBy("_pid").agg(
        F.count("*").alias("_t_rn"),
        *[F.sum(col).alias(f"_t_{name}") for name, col in sums.items()],
    )
    # prefix offsets over one row per partition: bounded (≤
    # RANK_PARTITIONS rows) by construction — the whitelisted unpartitioned window
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid",
        F.coalesce(F.sum("_t_rn").over(w_off), F.lit(0)).alias("_o_rn"),
        *[
            F.coalesce(F.sum(f"_t_{name}").over(w_off), F.lit(0)).alias(
                f"_o_{name}"
            )
            for name in sums
        ],
    )
    out = local.join(F.broadcast(offs), "_pid")
    keep = [c for c in df.columns]
    proj = [*keep, (F.col("_lrn") + F.col("_o_rn")).cast("bigint").alias("rn")]
    for name in sums:
        proj.append((F.col(f"_l_{name}") + F.col(f"_o_{name}")).alias(name))
    if total_count is not None:
        grand = totals.agg(
            F.sum("_t_rn").cast("bigint").alias(total_count)
        )
        out = out.crossJoin(F.broadcast(grand))
        proj.append(F.col(total_count))
    return out.select(*proj)


def prefix_max(
    df: DataFrame,
    order_by: list[Column],
    value: Column,
    out: str = "prefix_max",
) -> DataFrame:
    """EXCLUSIVE running max of ``value`` over a global order — for each
    row, the max of ``value`` over all STRICTLY EARLIER rows (NULL for
    the first row), with no unpartitioned row-level window.

    Same two-phase shape as :func:`prefix_rank`: range-partition on the
    order key, local exclusive cummax within each partition, then fold
    in the max of all earlier partitions (offsets table is ≤
    RANK_PARTITIONS rows). ``order_by`` must be a TOTAL order (unique per row): rows
    that tie in the order key would otherwise see each other's values
    nondeterministically. Pre-aggregate to the key grain first when
    "earlier" must mean "strictly smaller key" (q_skyline does).
    """
    # persisted for the same two-evaluation bound-consistency reason
    # as prefix_rank (see comment there)
    parts = track_cache(
        df.repartitionByRange(RANK_PARTITIONS, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn("_lmax", F.max(value).over(w_loc))
    totals = parts.groupBy("_pid").agg(F.max(value).alias("_tmax"))
    # exclusive prefix over ≤ RANK_PARTITIONS per-partition rows — the
    # whitelisted bounded unpartitioned window (order col _pid)
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select("_pid", F.max("_tmax").over(w_off).alias("_omax"))
    joined = local.join(F.broadcast(offs), "_pid")
    # greatest() skips NULLs: first row of first partition → NULL
    return joined.select(
        *df.columns, F.greatest("_lmax", "_omax").alias(out)
    )


def auc_stats(scored: DataFrame) -> DataFrame:
    """Single-row (n_pos, n_neg, auc) from a (label ∈ {0,1}, score)
    DataFrame — Mann-Whitney rank-statistic ROC-AUC, fully distributed.

    AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ is the summed midrank
    of positives. Midranks only depend on per-score tie-group counts:
    a group with ``cum_before`` smaller rows and ``n`` members has
    midrank ``cum_before + (n+1)/2``. So: aggregate to score grain
    (one shuffle — ties collapse), prefix-count the groups in score
    order (:func:`prefix_rank` — distributed), and take one final
    aggregate. No row-level global window anywhere; every intermediate
    is a half-integer-exact double (midranks are k/2 with k < 2⁵³).

    Reference counterpart: sklearn roc_auc_score on a collected numpy
    array (new_utlis_1.py:35-50) — a driver-memory wall at scale.
    """
    by_score = scored.groupBy("score").agg(
        F.count("*").alias("_n"),
        F.sum("label").alias("_np"),
    )
    pr = prefix_rank(
        by_score, [F.col("score")], sums={"_cum_n": F.col("_n")}
    )
    agg = pr.agg(
        F.sum(
            F.col("_np")
            * (F.col("_cum_n") - F.col("_n") + (F.col("_n") + 1) / 2.0)
        ).alias("r_pos"),
        F.sum("_np").alias("n_pos"),
        F.sum(F.col("_n") - F.col("_np")).alias("n_neg"),
    )
    return agg.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        (
            (F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos").cast("double") * F.col("n_neg"))
        ).alias("auc"),
    )
