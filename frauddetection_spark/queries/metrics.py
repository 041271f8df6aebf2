"""Evaluation-metric queries (SURVEY.md §2.7 M5): confusion matrix,
per-class + macro precision/recall/F1, rank-statistic ROC-AUC, and
average precision — all as DataFrame aggregations, so the metric code
itself is oracle-checked (the reference trusts sklearn,
main.py:158-162 / new_utlis_1.py:35-50; we re-derive the formulas
relationally and verify them against DuckDB).

Fixture model: a deterministic "classifier" on the events users —
score = error_share = n_errors / n_events (exact int division), label
= n_errors ≥ ERROR_THRESHOLD (queries/sampling.py), prediction = score ≥
0.15. Score correlates with but does not determine the label, so the
confusion matrix and AUC are non-degenerate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frauddetection_spark.operators.rank import auc_stats, prefix_rank
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import t
from frauddetection_spark.queries.sampling import ERROR_THRESHOLD

SCORE_THRESHOLD = 0.15

_SQL_SCORED = f"""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    >= {ERROR_THRESHOLD} AS INTEGER) AS label,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS score
        FROM events GROUP BY user_id
"""


def _scored(events: DataFrame) -> DataFrame:
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return events.groupBy("user_id").agg(
        (n_err >= ERROR_THRESHOLD).cast("int").alias("label"),
        (n_err.cast("double") / F.count("*")).alias("score"),
    )


# ---------------------------------------------------------------------------
# confusion matrix
# ---------------------------------------------------------------------------


@register(
    "q_metric_confusion",
    oracle=f"""
    WITH s AS ({_SQL_SCORED})
    SELECT label,
           CAST(score >= {SCORE_THRESHOLD} AS INTEGER) AS pred,
           count(*) AS n
    FROM s GROUP BY 1, 2 ORDER BY label, pred
    """,
)
def q_metric_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix as a groupBy over (label, pred) — the primitive
    every threshold metric derives from. One small shuffle."""
    s = _scored(t(spark, sf_dir, "events"))
    return (
        s.withColumn("pred", (F.col("score") >= SCORE_THRESHOLD).cast("int"))
        .groupBy("label", "pred")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# per-class + macro precision / recall / F1
# ---------------------------------------------------------------------------


@register(
    "q_metric_prf",
    oracle=f"""
    WITH s AS ({_SQL_SCORED}),
    p AS (
        SELECT label, CAST(score >= {SCORE_THRESHOLD} AS INTEGER) AS pred
        FROM s
    ),
    per AS (
        SELECT cls,
               sum(CASE WHEN label = cls AND pred = cls THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN label != cls AND pred = cls THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN label = cls AND pred != cls THEN 1 ELSE 0 END) AS fn
        FROM p CROSS JOIN (SELECT unnest([0, 1]) AS cls)
        GROUP BY cls
    )
    SELECT cls,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(tp AS DOUBLE) / nullif(tp + fp, 0) AS precision,
           CAST(tp AS DOUBLE) / nullif(tp + fn, 0) AS recall,
           CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0) AS f1
    FROM per ORDER BY cls
    """,
)
def q_metric_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 from exact TP/FP/FN counts
    (macro = mean over this table's rows; reference prints sklearn's
    macro scores, new_utlis_1.py:42-48). The class dimension comes
    from an explode — no per-class query replays."""
    s = _scored(t(spark, sf_dir, "events")).withColumn(
        "pred", (F.col("score") >= SCORE_THRESHOLD).cast("int")
    )
    classes = s.crossJoin(
        F.broadcast(
            spark.range(2).select(F.col("id").cast("int").alias("cls"))
        )
    )
    per = classes.groupBy("cls").agg(
        F.sum(
            F.when((F.col("label") == F.col("cls")) & (F.col("pred") == F.col("cls")), 1).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("label") != F.col("cls")) & (F.col("pred") == F.col("cls")), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("label") == F.col("cls")) & (F.col("pred") != F.col("cls")), 1).otherwise(0)
        ).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return per.select(
        "cls",
        "tp",
        "fp",
        "fn",
        (tp.cast("double") / F.nullif(tp + fp, F.lit(0))).alias("precision"),
        (tp.cast("double") / F.nullif(tp + fn, F.lit(0))).alias("recall"),
        ((2 * tp).cast("double") / F.nullif(2 * tp + fp + fn, F.lit(0))).alias("f1"),
    )


# ---------------------------------------------------------------------------
# ROC-AUC via the Mann-Whitney rank statistic
# ---------------------------------------------------------------------------


@register(
    "q_metric_auc",
    oracle=f"""
    WITH s AS ({_SQL_SCORED}),
    ranked AS (
        SELECT label,
               rank() OVER (ORDER BY score)
                 + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS avg_rank
        FROM s
    ),
    agg AS (
        SELECT sum(CASE WHEN label = 1 THEN avg_rank ELSE 0 END) AS r_pos,
               sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n_pos,
               sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n_neg
        FROM ranked
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           (r_pos - n_pos * (n_pos + 1) / 2.0)
               / (CAST(n_pos AS DOUBLE) * n_neg) AS auc
    FROM agg
    """,
)
def q_metric_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC without thresholds: AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺·n⁻)
    where R⁺ is the summed average-rank of positives (ties → midrank;
    exact: ranks are half-integers, binary-exact doubles).

    Fully distributed (operators/rank.py::auc_stats): ties collapse to
    score grain in one shuffle, midranks come from a range-partitioned
    prefix count — no unpartitioned row-level window, so the query does
    not funnel every scored row through one task the way a
    ``rank().over(Window.orderBy(score))`` form would. The oracle twin
    keeps the row-level rank formulation — equal by the midrank
    identity."""
    s = _scored(t(spark, sf_dir, "events"))
    return auc_stats(s)


# ---------------------------------------------------------------------------
# average precision (deterministic tie-break ranking)
# ---------------------------------------------------------------------------


@register(
    "q_metric_ap",
    oracle=f"""
    WITH s AS ({_SQL_SCORED}),
    ranked AS (
        SELECT label,
               row_number() OVER (ORDER BY score DESC, user_id) AS k,
               sum(label) OVER (ORDER BY score DESC, user_id) AS cum_pos
        FROM s
    ),
    terms AS (
        SELECT CAST(round(CAST(cum_pos AS DOUBLE) / k * 1000000000)
                    AS BIGINT) AS prec_q,
               label
        FROM ranked
    )
    SELECT CAST(sum(CASE WHEN label = 1 THEN prec_q ELSE 0 END) AS DOUBLE)
               / sum(label) / 1000000000 AS average_precision,
           CAST(sum(label) AS BIGINT) AS n_pos
    FROM terms
    """,
)
def q_metric_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision AP = Σ_k P(k)·rel(k) / n⁺ over the ranked
    list (ties broken by user_id so the ranking is total and identical
    everywhere). Per-term precisions are fixed-point-quantized before
    the sum → exact-int accumulation, one final division.

    The rank and running positive count come from the two-phase
    range-partitioned prefix (operators/rank.py::prefix_rank) — a
    global ``Window.orderBy(score DESC, user_id)`` is a single-reducer
    sort; here both are partition-local plus broadcast offsets, exact because range partitions are ordered and disjoint."""
    s = _scored(t(spark, sf_dir, "events"))
    ranked = prefix_rank(
        s,
        [F.col("score").desc(), F.col("user_id")],
        sums={"cum_pos": F.col("label")},
    ).select("label", F.col("rn").alias("k"), "cum_pos")
    terms = ranked.select(
        "label",
        F.round(F.col("cum_pos").cast("double") / F.col("k") * 1_000_000_000)
        .cast("bigint")
        .alias("prec_q"),
    )
    return terms.agg(
        (
            F.sum(F.when(F.col("label") == 1, F.col("prec_q")).otherwise(0)).cast("double")
            / F.sum("label")
            / 1_000_000_000
        ).alias("average_precision"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )


# ---------------------------------------------------------------------------
# calibration curve (reliability diagram bins)
# ---------------------------------------------------------------------------


@register(
    "q_metric_calibration",
    oracle=f"""
    WITH counts AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
               count(*) AS n
        FROM events GROUP BY user_id
    ),
    binned AS (
        SELECT CASE WHEN (10 * n_err) // n > 9 THEN 9
                    ELSE (10 * n_err) // n END AS bin,
               CAST(n_err >= {ERROR_THRESHOLD} AS INTEGER) AS label,
               n_err, n
        FROM counts
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           count(*) AS n_users,
           CAST(sum(label) AS BIGINT) AS positives,
           CAST(sum(n_err) AS BIGINT) AS err_events,
           CAST(sum(n) AS BIGINT) AS events
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_metric_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the fixture classifier: decile
    score bins by PURE INTEGER arithmetic (bin = ⌊10·n_err/n⌋ capped
    at 9 — no float score materialized, so no boundary drift), with
    integer tallies per bin; observed positive rate = positives /
    n_users and mean predicted rate = err_events / events are exact
    ratios the consumer derives. Reference trusts sklearn's
    calibration_curve; here the binning itself is oracle-checked.
    One groupBy(user) + one groupBy(bin) — two shuffles at any scale.
    """
    e = t(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    counts = e.groupBy("user_id").agg(
        n_err.alias("n_err"), F.count("*").alias("n")
    )
    binned = counts.select(
        F.least(F.expr("(10 * n_err) div n"), F.lit(9)).alias("bin"),
        (F.col("n_err") >= ERROR_THRESHOLD).cast("int").alias("label"),
        "n_err",
        "n",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("label").alias("positives"),
            F.sum("n_err").alias("err_events"),
            F.sum("n").alias("events"),
        )
    )


# ---------------------------------------------------------------------------
# M5+ — ranking metrics: NDCG@10 and MRR@10 per user
# ---------------------------------------------------------------------------

# Discount constants round(1e9 / log2(i+1)) for ranks 1..10, and their
# prefix sums (ideal-DCG lookup). Precomputed once in Python and
# inlined into BOTH twins — the zero-query-time-transcendentals
# discipline (q_circular_hours, q_benford_groups): engines' log2/pow
# can differ in the last ulp; a shared integer constant table cannot.
_NDCG_K = 10
_NDCG_W = (1000000000, 630929754, 500000000, 430676558, 386852807,
           356207187, 333333333, 315464877, 301029996, 289064826)
_NDCG_C = (1000000000, 1630929754, 2130929754, 2561606312, 2948459119,
           3304666306, 3637999639, 3953464516, 4254494512, 4543559338)
_MRR_W = tuple(round(1e9 / r) for r in range(1, _NDCG_K + 1))

_SQL_DCG_CASE = "CASE rnk " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " ELSE 0 END"
_SQL_IDCG_CASE = (
    f"CASE WHEN n_rel >= {_NDCG_K} THEN {_NDCG_C[-1]} "
    + " ".join(f"WHEN n_rel = {j + 1} THEN {c}" for j, c in enumerate(_NDCG_C[:-1]))
    + " ELSE 0 END"
)
_SQL_RR_CASE = "CASE first_rel_rnk " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_MRR_W)
) + " ELSE 0 END"


@register(
    "q_ndcg",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY value DESC, event_id
               ) AS rnk
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CAST(sum(rel) AS BIGINT) AS n_rel,
               CAST(sum(CASE WHEN rel = 1 AND rnk <= {_NDCG_K}
                             THEN {_SQL_DCG_CASE} ELSE 0 END) AS BIGINT)
                   AS dcg_e9,
               min(CASE WHEN rel = 1 AND rnk <= {_NDCG_K} THEN rnk END)
                   AS first_rel_rnk
        FROM ranked GROUP BY 1
    )
    SELECT user_id, n_rel, dcg_e9,
           CAST({_SQL_IDCG_CASE} AS BIGINT) AS idcg_e9,
           CAST(dcg_e9 AS DOUBLE) / CAST({_SQL_IDCG_CASE} AS DOUBLE) AS ndcg,
           CAST(coalesce({_SQL_RR_CASE}, 0) AS BIGINT) AS rr_e9
    FROM per_user
    WHERE n_rel >= 1
    ORDER BY user_id
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics per user: NDCG@10 and MRR@10 where the
    'ranking' is the user's events ordered by model-score stand-in
    (value desc, event_id tiebreak) and relevance is the purchase
    flag — the offline eval every search/recsys pipeline runs at
    corpus scale. The reference's eval surface is classification-only
    (sklearn AUC/F1, main.py:158-162); ranking eval is its natural
    extension and shares the machinery.

    Numerics: DCG's 1/log2(1+i) discounts and MRR's 1/r reciprocals
    are the textbook float trap — both engines' libm can drift a last
    ulp and a SUM of drifted terms drifts further. Here every discount
    is a precomputed 1e-9-quantized integer constant inlined
    identically in both twins, DCG/IDCG accumulate as exact int64, and
    the single ndcg division is the only float op. One user-partitioned
    window (group-bounded, scale-safe) + one groupBy; the ideal-DCG
    needs no second ranking pass — it's a constant-table lookup on the
    relevant-count, because binary relevance makes the ideal ordering
    'all relevant first'."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    ranked = e.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
        F.row_number().over(w).alias("rnk"),
    )
    dcg_w = F.when(F.lit(False), 0)
    for i, wgt in enumerate(_NDCG_W):
        dcg_w = dcg_w.when(F.col("rnk") == i + 1, wgt)
    dcg_w = dcg_w.otherwise(0)
    per_user = ranked.groupBy("user_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.sum(
            F.when((F.col("rel") == 1) & (F.col("rnk") <= _NDCG_K), dcg_w)
            .otherwise(0)
        ).cast("bigint").alias("dcg_e9"),
        F.min(
            F.when((F.col("rel") == 1) & (F.col("rnk") <= _NDCG_K), F.col("rnk"))
        ).alias("first_rel_rnk"),
    )
    idcg = F.when(F.col("n_rel") >= _NDCG_K, _NDCG_C[-1])
    for j, c in enumerate(_NDCG_C[:-1]):
        idcg = idcg.when(F.col("n_rel") == j + 1, c)
    idcg = idcg.otherwise(0)
    rr = F.when(F.lit(False), 0)
    for i, wgt in enumerate(_MRR_W):
        rr = rr.when(F.col("first_rel_rnk") == i + 1, wgt)
    rr = rr.otherwise(0)
    return (
        per_user.filter(F.col("n_rel") >= 1)
        .select(
            "user_id",
            "n_rel",
            "dcg_e9",
            idcg.cast("bigint").alias("idcg_e9"),
            (F.col("dcg_e9").cast("double") / idcg.cast("double")).alias("ndcg"),
            F.coalesce(rr, F.lit(0)).cast("bigint").alias("rr_e9"),
        )
    )


# ---------------------------------------------------------------------------
# M5+ — threshold sweep: the full operating-point table (PR curve as data)
# ---------------------------------------------------------------------------


@register(
    "q_threshold_sweep",
    oracle=f"""
    WITH s AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    >= {ERROR_THRESHOLD} AS INTEGER) AS label,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) * 1000000
                   // CAST(count(*) AS BIGINT) AS s_q
        FROM events GROUP BY user_id
    ),
    grain AS (
        SELECT s_q, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(label) AS BIGINT) AS pos_g
        FROM s GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(pos_g) AS BIGINT) AS p FROM grain),
    sweep AS (
        SELECT s_q,
               CAST(sum(n_g) OVER w AS BIGINT) AS n_pred_pos,
               CAST(sum(pos_g) OVER w AS BIGINT) AS tp
        FROM grain
        WINDOW w AS (ORDER BY s_q DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT sw.s_q AS threshold_q6, sw.n_pred_pos, sw.tp,
           sw.n_pred_pos - sw.tp AS fp,
           CAST(sw.tp AS DOUBLE) / sw.n_pred_pos AS precision,
           CAST(sw.tp AS DOUBLE) / t.p AS recall,
           CAST(2 * sw.tp AS DOUBLE) / (sw.n_pred_pos + t.p) AS f1
    FROM sweep sw CROSS JOIN tot t
    ORDER BY threshold_q6 DESC
    """,
)
def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full operating-point table: precision / recall / F1 at EVERY
    distinct score threshold — the table a model owner actually reads
    to pick a production cutoff (q_metric_prf evaluates one fixed
    threshold, q_metric_ap integrates the curve away; the sweep is
    the missing middle). Scores collapse to an exact integer grain
    (n_err·1e6 div n — a float score key can split one logical
    threshold into two at engine boundaries), cumulative TP/FP come
    from ONE pass of suffix sums over the descending score grain, and
    F1 uses the algebraic form 2TP/(n_pred + P) so every ratio is a
    division of two exact ints. Scale: the sweep runs on the
    score-GRAIN (≤ |distinct scores| rows, after the per-user
    aggregate), ranked by the two-phase prefix_rank — no
    unpartitioned row-level window; at 100 TB you'd additionally
    quantize the grain (e.g. 1e-3) to bound the output table."""
    e = t(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    s = e.groupBy("user_id").agg(
        (n_err >= ERROR_THRESHOLD).cast("int").alias("label"),
        F.expr(
            f"cast(sum(case when event_type = 'error' then 1 else 0 end)"
            f" as bigint) * 1000000 div cast(count(*) as bigint)"
        ).alias("s_q"),
    )
    grain = s.groupBy("s_q").agg(
        F.count("*").alias("n_g"), F.sum("label").cast("bigint").alias("pos_g")
    )
    ranked = prefix_rank(
        grain,
        order_by=[F.col("s_q").desc()],
        sums={"n_pred_pos": F.col("n_g"), "tp": F.col("pos_g")},
    )
    tot = grain.agg(F.sum("pos_g").cast("bigint").alias("p"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.col("s_q").alias("threshold_q6"),
            F.col("n_pred_pos").cast("bigint").alias("n_pred_pos"),
            F.col("tp").cast("bigint").alias("tp"),
            (F.col("n_pred_pos") - F.col("tp")).cast("bigint").alias("fp"),
            (F.col("tp").cast("double") / F.col("n_pred_pos")).alias(
                "precision"
            ),
            (F.col("tp").cast("double") / F.col("p")).alias("recall"),
            (
                (2 * F.col("tp")).cast("double")
                / (F.col("n_pred_pos") + F.col("p"))
            ).alias("f1"),
        )
    )


# ---------------------------------------------------------------------------
# M5+ — DeLong variance of the AUC (is the AUC significantly > chance?)
# ---------------------------------------------------------------------------


@register(
    "q_auc_delong",
    oracle=f"""
    WITH s AS ({_SQL_SCORED}),
    grain AS (
        SELECT score, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(label) AS BIGINT) AS np_g
        FROM s GROUP BY 1
    ),
    pre AS (
        SELECT score, n_g, np_g,
               CAST(coalesce(sum(n_g) OVER w, 0) AS BIGINT) AS cum_n_before,
               CAST(coalesce(sum(np_g) OVER w, 0) AS BIGINT) AS cum_np_before
        FROM grain
        WINDOW w AS (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    tot AS (
        SELECT CAST(sum(np_g) AS BIGINT) AS n_pos,
               CAST(sum(n_g - np_g) AS BIGINT) AS n_neg
        FROM grain
    ),
    q AS (
        SELECT p.np_g, p.n_g - p.np_g AS nn_g,
               2 * (p.cum_n_before - p.cum_np_before)
                   + (p.n_g - p.np_g) AS v10_q,
               2 * t.n_pos - 2 * p.cum_np_before - p.np_g AS v01_q,
               t.n_pos, t.n_neg
        FROM pre p CROSS JOIN tot t
    ),
    moments AS (
        SELECT max(n_pos) AS n_pos, max(n_neg) AS n_neg,
               CAST(sum(np_g * v10_q) AS BIGINT) AS s10_1,
               CAST(sum(np_g * CAST(v10_q AS HUGEINT) * v10_q) AS HUGEINT)
                   AS s10_2,
               CAST(sum(nn_g * v01_q) AS BIGINT) AS s01_1,
               CAST(sum(nn_g * CAST(v01_q AS HUGEINT) * v01_q) AS HUGEINT)
                   AS s01_2
        FROM q
    )
    SELECT n_pos, n_neg,
           CAST(s10_1 AS DOUBLE) / nullif(2.0 * n_neg * n_pos, 0) AS auc,
           ((CAST(s10_2 AS DOUBLE) - CAST(s10_1 AS DOUBLE) * s10_1 / nullif(n_pos, 0))
             / nullif(n_pos - 1, 0) / nullif(4.0 * n_neg * n_neg, 0)) / nullif(n_pos, 0)
           + ((CAST(s01_2 AS DOUBLE) - CAST(s01_1 AS DOUBLE) * s01_1 / nullif(n_neg, 0))
             / nullif(n_neg - 1, 0) / nullif(4.0 * n_pos * n_pos, 0)) / nullif(n_neg, 0) AS var_auc,
           sqrt(((CAST(s10_2 AS DOUBLE) - CAST(s10_1 AS DOUBLE) * s10_1 / nullif(n_pos, 0))
             / nullif(n_pos - 1, 0) / nullif(4.0 * n_neg * n_neg, 0)) / nullif(n_pos, 0)
           + ((CAST(s01_2 AS DOUBLE) - CAST(s01_1 AS DOUBLE) * s01_1 / nullif(n_neg, 0))
             / nullif(n_neg - 1, 0) / nullif(4.0 * n_pos * n_pos, 0)) / nullif(n_neg, 0)) AS se_auc,
           (CAST(s10_1 AS DOUBLE) / nullif(2.0 * n_neg * n_pos, 0) - 0.5)
             / nullif(sqrt(((CAST(s10_2 AS DOUBLE) - CAST(s10_1 AS DOUBLE) * s10_1 / nullif(n_pos, 0))
               / nullif(n_pos - 1, 0) / nullif(4.0 * n_neg * n_neg, 0)) / nullif(n_pos, 0)
             + ((CAST(s01_2 AS DOUBLE) - CAST(s01_1 AS DOUBLE) * s01_1 / nullif(n_neg, 0))
               / nullif(n_neg - 1, 0) / nullif(4.0 * n_pos * n_pos, 0)) / nullif(n_neg, 0)), 0) AS z_vs_chance
    FROM moments
    """,
)
def q_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong variance of the ROC-AUC — the inference layer on top of
    q_metric_auc that model monitoring actually needs ('AUC fell from
    0.74 to 0.71 — noise or drift?'): per-observation placement
    values V₁₀ (each positive's fraction of negatives ranked below,
    ties half) and V₀₁, whose sample variances give
    Var(AUC) = S₁₀/n⁺ + S₀₁/n⁻. Exactness: placements are rationals
    with denominator 2n⁻ (resp. 2n⁺), so each tie-group's placement
    QUANTIZES to the exact integer 2·cum_neg_before + neg_in_group —
    no float placement ever sums across groups; both first and second
    moments ride int64/decimal, and AUC itself falls out of the same
    integers (Σnp·V10q / 2n⁻n⁺ ≡ the Mann-Whitney form). The score
    grain comes from ONE aggregation + the two-phase prefix_rank —
    same scale shape as q_metric_auc, no row-level global window.
    Reference parity: the reference reports sklearn's point AUC
    (new_utlis_1.py:35-50) with no uncertainty at all."""
    scored = _scored(t(spark, sf_dir, "events"))
    grain = scored.groupBy("score").agg(
        F.count("*").alias("n_g"), F.sum("label").cast("bigint").alias("np_g")
    )
    pr = prefix_rank(
        grain,
        [F.col("score")],
        sums={"cum_n": F.col("n_g"), "cum_np": F.col("np_g")},
    )
    pre = pr.select(
        "n_g",
        "np_g",
        (F.col("cum_n") - F.col("n_g")).alias("cum_n_before"),
        (F.col("cum_np") - F.col("np_g")).alias("cum_np_before"),
    )
    tot = grain.agg(
        F.sum("np_g").cast("bigint").alias("n_pos"),
        F.sum(F.col("n_g") - F.col("np_g")).cast("bigint").alias("n_neg"),
    )
    q = pre.crossJoin(F.broadcast(tot)).select(
        "np_g",
        (F.col("n_g") - F.col("np_g")).alias("nn_g"),
        (
            2 * (F.col("cum_n_before") - F.col("cum_np_before"))
            + (F.col("n_g") - F.col("np_g"))
        ).alias("v10_q"),
        (2 * F.col("n_pos") - 2 * F.col("cum_np_before") - F.col("np_g")).alias(
            "v01_q"
        ),
        "n_pos",
        "n_neg",
    )
    m = q.agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.sum(F.col("np_g") * F.col("v10_q")).cast("bigint").alias("s10_1"),
        F.sum(
            F.col("np_g").cast("decimal(38,0)") * F.col("v10_q") * F.col("v10_q")
        ).alias("s10_2"),
        F.sum(F.col("nn_g") * F.col("v01_q")).cast("bigint").alias("s01_1"),
        F.sum(
            F.col("nn_g").cast("decimal(38,0)") * F.col("v01_q") * F.col("v01_q")
        ).alias("s01_2"),
    )
    npos, nneg = F.col("n_pos"), F.col("n_neg")
    nz = lambda col: F.nullif(col, F.lit(0))  # noqa: E731  degenerate-class guard
    auc = F.col("s10_1").cast("double") / nz(2.0 * nneg * npos)
    s10 = (
        (
            F.col("s10_2").cast("double")
            - F.col("s10_1").cast("double") * F.col("s10_1") / nz(npos.cast("double"))
        )
        / nz((npos - 1).cast("double"))
        / nz(4.0 * nneg * nneg)
    )
    s01 = (
        (
            F.col("s01_2").cast("double")
            - F.col("s01_1").cast("double") * F.col("s01_1") / nz(nneg.cast("double"))
        )
        / nz((nneg - 1).cast("double"))
        / nz(4.0 * npos * npos)
    )
    var = s10 / nz(npos.cast("double")) + s01 / nz(nneg.cast("double"))
    return m.select(
        "n_pos",
        "n_neg",
        auc.alias("auc"),
        var.alias("var_auc"),
        F.sqrt(var).alias("se_auc"),
        # var can be exactly 0 (degenerate: every placement identical)
        ((auc - 0.5) / nz(F.sqrt(var))).alias("z_vs_chance"),
    )


# ---------------------------------------------------------------------------
# M5+ — Brier score with Murphy decomposition
# ---------------------------------------------------------------------------


@register(
    "q_brier_decomp",
    oracle=f"""
    WITH s AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    >= {ERROR_THRESHOLD} AS INTEGER) AS y,
               (CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                     AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS s_q6,
               least((CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                                END) AS BIGINT) * 10)
                     // CAST(count(*) AS BIGINT), 9) AS bin
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
               CAST(sum(CASE WHEN bin = 0 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_0,
               CAST(sum(CASE WHEN bin = 0 THEN y ELSE 0 END) AS BIGINT) AS p_0,
               CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
               CAST(sum(CASE WHEN bin = 1 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_1,
               CAST(sum(CASE WHEN bin = 1 THEN y ELSE 0 END) AS BIGINT) AS p_1,
               CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
               CAST(sum(CASE WHEN bin = 2 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_2,
               CAST(sum(CASE WHEN bin = 2 THEN y ELSE 0 END) AS BIGINT) AS p_2,
               CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_3,
               CAST(sum(CASE WHEN bin = 3 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_3,
               CAST(sum(CASE WHEN bin = 3 THEN y ELSE 0 END) AS BIGINT) AS p_3,
               CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_4,
               CAST(sum(CASE WHEN bin = 4 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_4,
               CAST(sum(CASE WHEN bin = 4 THEN y ELSE 0 END) AS BIGINT) AS p_4,
               CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_5,
               CAST(sum(CASE WHEN bin = 5 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_5,
               CAST(sum(CASE WHEN bin = 5 THEN y ELSE 0 END) AS BIGINT) AS p_5,
               CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_6,
               CAST(sum(CASE WHEN bin = 6 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_6,
               CAST(sum(CASE WHEN bin = 6 THEN y ELSE 0 END) AS BIGINT) AS p_6,
               CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_7,
               CAST(sum(CASE WHEN bin = 7 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_7,
               CAST(sum(CASE WHEN bin = 7 THEN y ELSE 0 END) AS BIGINT) AS p_7,
               CAST(sum(CASE WHEN bin = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_8,
               CAST(sum(CASE WHEN bin = 8 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_8,
               CAST(sum(CASE WHEN bin = 8 THEN y ELSE 0 END) AS BIGINT) AS p_8,
               CAST(sum(CASE WHEN bin = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_9,
               CAST(sum(CASE WHEN bin = 9 THEN s_q6 ELSE 0 END) AS BIGINT) AS s_9,
               CAST(sum(CASE WHEN bin = 9 THEN y ELSE 0 END) AS BIGINT) AS p_9,
               CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(y) AS BIGINT) AS pp,
               CAST(sum(CAST(s_q6 - 1000000 * y AS HUGEINT)
                        * (s_q6 - 1000000 * y)) AS HUGEINT) AS bq12
        FROM s
    )
    SELECT nn AS n_users, pp AS n_pos,
           CAST(bq12 AS DOUBLE) / 1e12 / nn AS brier,
           ((CASE WHEN n_0 = 0 THEN 0 ELSE CAST(s_0 - 1000000 * p_0 AS DOUBLE) * (s_0 - 1000000 * p_0) / n_0 / 1e12 END)
             + (CASE WHEN n_1 = 0 THEN 0 ELSE CAST(s_1 - 1000000 * p_1 AS DOUBLE) * (s_1 - 1000000 * p_1) / n_1 / 1e12 END)
             + (CASE WHEN n_2 = 0 THEN 0 ELSE CAST(s_2 - 1000000 * p_2 AS DOUBLE) * (s_2 - 1000000 * p_2) / n_2 / 1e12 END)
             + (CASE WHEN n_3 = 0 THEN 0 ELSE CAST(s_3 - 1000000 * p_3 AS DOUBLE) * (s_3 - 1000000 * p_3) / n_3 / 1e12 END)
             + (CASE WHEN n_4 = 0 THEN 0 ELSE CAST(s_4 - 1000000 * p_4 AS DOUBLE) * (s_4 - 1000000 * p_4) / n_4 / 1e12 END)
             + (CASE WHEN n_5 = 0 THEN 0 ELSE CAST(s_5 - 1000000 * p_5 AS DOUBLE) * (s_5 - 1000000 * p_5) / n_5 / 1e12 END)
             + (CASE WHEN n_6 = 0 THEN 0 ELSE CAST(s_6 - 1000000 * p_6 AS DOUBLE) * (s_6 - 1000000 * p_6) / n_6 / 1e12 END)
             + (CASE WHEN n_7 = 0 THEN 0 ELSE CAST(s_7 - 1000000 * p_7 AS DOUBLE) * (s_7 - 1000000 * p_7) / n_7 / 1e12 END)
             + (CASE WHEN n_8 = 0 THEN 0 ELSE CAST(s_8 - 1000000 * p_8 AS DOUBLE) * (s_8 - 1000000 * p_8) / n_8 / 1e12 END)
             + (CASE WHEN n_9 = 0 THEN 0 ELSE CAST(s_9 - 1000000 * p_9 AS DOUBLE) * (s_9 - 1000000 * p_9) / n_9 / 1e12 END)) / nn AS reliability,
           ((CASE WHEN n_0 = 0 THEN 0 ELSE n_0 * (CAST(p_0 AS DOUBLE) / n_0 - CAST(pp AS DOUBLE) / nn) * (CAST(p_0 AS DOUBLE) / n_0 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_1 = 0 THEN 0 ELSE n_1 * (CAST(p_1 AS DOUBLE) / n_1 - CAST(pp AS DOUBLE) / nn) * (CAST(p_1 AS DOUBLE) / n_1 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_2 = 0 THEN 0 ELSE n_2 * (CAST(p_2 AS DOUBLE) / n_2 - CAST(pp AS DOUBLE) / nn) * (CAST(p_2 AS DOUBLE) / n_2 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_3 = 0 THEN 0 ELSE n_3 * (CAST(p_3 AS DOUBLE) / n_3 - CAST(pp AS DOUBLE) / nn) * (CAST(p_3 AS DOUBLE) / n_3 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_4 = 0 THEN 0 ELSE n_4 * (CAST(p_4 AS DOUBLE) / n_4 - CAST(pp AS DOUBLE) / nn) * (CAST(p_4 AS DOUBLE) / n_4 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_5 = 0 THEN 0 ELSE n_5 * (CAST(p_5 AS DOUBLE) / n_5 - CAST(pp AS DOUBLE) / nn) * (CAST(p_5 AS DOUBLE) / n_5 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_6 = 0 THEN 0 ELSE n_6 * (CAST(p_6 AS DOUBLE) / n_6 - CAST(pp AS DOUBLE) / nn) * (CAST(p_6 AS DOUBLE) / n_6 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_7 = 0 THEN 0 ELSE n_7 * (CAST(p_7 AS DOUBLE) / n_7 - CAST(pp AS DOUBLE) / nn) * (CAST(p_7 AS DOUBLE) / n_7 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_8 = 0 THEN 0 ELSE n_8 * (CAST(p_8 AS DOUBLE) / n_8 - CAST(pp AS DOUBLE) / nn) * (CAST(p_8 AS DOUBLE) / n_8 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_9 = 0 THEN 0 ELSE n_9 * (CAST(p_9 AS DOUBLE) / n_9 - CAST(pp AS DOUBLE) / nn) * (CAST(p_9 AS DOUBLE) / n_9 - CAST(pp AS DOUBLE) / nn) END)) / nn AS resolution,
           (CAST(pp AS DOUBLE) / nn) * (1 - CAST(pp AS DOUBLE) / nn)
               AS uncertainty,
           CAST(bq12 AS DOUBLE) / 1e12 / nn
             - ((CASE WHEN n_0 = 0 THEN 0 ELSE CAST(s_0 - 1000000 * p_0 AS DOUBLE) * (s_0 - 1000000 * p_0) / n_0 / 1e12 END)
             + (CASE WHEN n_1 = 0 THEN 0 ELSE CAST(s_1 - 1000000 * p_1 AS DOUBLE) * (s_1 - 1000000 * p_1) / n_1 / 1e12 END)
             + (CASE WHEN n_2 = 0 THEN 0 ELSE CAST(s_2 - 1000000 * p_2 AS DOUBLE) * (s_2 - 1000000 * p_2) / n_2 / 1e12 END)
             + (CASE WHEN n_3 = 0 THEN 0 ELSE CAST(s_3 - 1000000 * p_3 AS DOUBLE) * (s_3 - 1000000 * p_3) / n_3 / 1e12 END)
             + (CASE WHEN n_4 = 0 THEN 0 ELSE CAST(s_4 - 1000000 * p_4 AS DOUBLE) * (s_4 - 1000000 * p_4) / n_4 / 1e12 END)
             + (CASE WHEN n_5 = 0 THEN 0 ELSE CAST(s_5 - 1000000 * p_5 AS DOUBLE) * (s_5 - 1000000 * p_5) / n_5 / 1e12 END)
             + (CASE WHEN n_6 = 0 THEN 0 ELSE CAST(s_6 - 1000000 * p_6 AS DOUBLE) * (s_6 - 1000000 * p_6) / n_6 / 1e12 END)
             + (CASE WHEN n_7 = 0 THEN 0 ELSE CAST(s_7 - 1000000 * p_7 AS DOUBLE) * (s_7 - 1000000 * p_7) / n_7 / 1e12 END)
             + (CASE WHEN n_8 = 0 THEN 0 ELSE CAST(s_8 - 1000000 * p_8 AS DOUBLE) * (s_8 - 1000000 * p_8) / n_8 / 1e12 END)
             + (CASE WHEN n_9 = 0 THEN 0 ELSE CAST(s_9 - 1000000 * p_9 AS DOUBLE) * (s_9 - 1000000 * p_9) / n_9 / 1e12 END)) / nn
             + ((CASE WHEN n_0 = 0 THEN 0 ELSE n_0 * (CAST(p_0 AS DOUBLE) / n_0 - CAST(pp AS DOUBLE) / nn) * (CAST(p_0 AS DOUBLE) / n_0 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_1 = 0 THEN 0 ELSE n_1 * (CAST(p_1 AS DOUBLE) / n_1 - CAST(pp AS DOUBLE) / nn) * (CAST(p_1 AS DOUBLE) / n_1 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_2 = 0 THEN 0 ELSE n_2 * (CAST(p_2 AS DOUBLE) / n_2 - CAST(pp AS DOUBLE) / nn) * (CAST(p_2 AS DOUBLE) / n_2 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_3 = 0 THEN 0 ELSE n_3 * (CAST(p_3 AS DOUBLE) / n_3 - CAST(pp AS DOUBLE) / nn) * (CAST(p_3 AS DOUBLE) / n_3 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_4 = 0 THEN 0 ELSE n_4 * (CAST(p_4 AS DOUBLE) / n_4 - CAST(pp AS DOUBLE) / nn) * (CAST(p_4 AS DOUBLE) / n_4 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_5 = 0 THEN 0 ELSE n_5 * (CAST(p_5 AS DOUBLE) / n_5 - CAST(pp AS DOUBLE) / nn) * (CAST(p_5 AS DOUBLE) / n_5 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_6 = 0 THEN 0 ELSE n_6 * (CAST(p_6 AS DOUBLE) / n_6 - CAST(pp AS DOUBLE) / nn) * (CAST(p_6 AS DOUBLE) / n_6 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_7 = 0 THEN 0 ELSE n_7 * (CAST(p_7 AS DOUBLE) / n_7 - CAST(pp AS DOUBLE) / nn) * (CAST(p_7 AS DOUBLE) / n_7 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_8 = 0 THEN 0 ELSE n_8 * (CAST(p_8 AS DOUBLE) / n_8 - CAST(pp AS DOUBLE) / nn) * (CAST(p_8 AS DOUBLE) / n_8 - CAST(pp AS DOUBLE) / nn) END)
             + (CASE WHEN n_9 = 0 THEN 0 ELSE n_9 * (CAST(p_9 AS DOUBLE) / n_9 - CAST(pp AS DOUBLE) / nn) * (CAST(p_9 AS DOUBLE) / n_9 - CAST(pp AS DOUBLE) / nn) END)) / nn
             - (CAST(pp AS DOUBLE) / nn) * (1 - CAST(pp AS DOUBLE) / nn)
               AS within_bin
    FROM cells
    """,
)
def q_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition BS ≈ reliability −
    resolution + uncertainty — the scoring-rule completion of
    q_metric_calibration: reliability says how far bin forecasts sit
    from bin outcomes (lower better), resolution how much the bins
    separate outcomes (higher better), uncertainty the irreducible
    outcome variance; the emitted within_bin residual is the part the
    binned identity misses when forecasts vary inside bins (exactly
    zero only for K-valued forecasts — reporting it keeps the
    decomposition honest rather than silently approximate).
    Forecasts quantize to exact integers (s_q6 = n_err·1e6 div n; the
    Brier sum rides decimal/HUGEINT), bins are the calibration
    query's pure-integer deciles, and the ten per-bin float terms
    pivot into ONE row over the FIXED bin domain 0..9 and add in a
    single written order with zero-bin guards — the q_anova_f / q_did
    fixed-cell discipline. One groupBy(user) + one single-row
    conditional aggregate."""
    e = t(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    s = e.groupBy("user_id").agg(
        (n_err >= ERROR_THRESHOLD).cast("int").alias("y"),
        F.expr(
            "(cast(sum(case when event_type = 'error' then 1 else 0 end)"
            " as bigint) * 1000000) div cast(count(*) as bigint)"
        ).alias("s_q6"),
        F.least(
            F.expr(
                "(cast(sum(case when event_type = 'error' then 1 else 0 end)"
                " as bigint) * 10) div cast(count(*) as bigint)"
            ),
            F.lit(9),
        ).alias("bin"),
    )
    cells = s.agg(
        F.sum(F.when(F.col("bin") == 0, 1).otherwise(0)).cast("bigint").alias("n_0"),
        F.sum(F.when(F.col("bin") == 0, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_0"),
        F.sum(F.when(F.col("bin") == 0, F.col("y")).otherwise(0)).cast("bigint").alias("p_0"),
        F.sum(F.when(F.col("bin") == 1, 1).otherwise(0)).cast("bigint").alias("n_1"),
        F.sum(F.when(F.col("bin") == 1, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_1"),
        F.sum(F.when(F.col("bin") == 1, F.col("y")).otherwise(0)).cast("bigint").alias("p_1"),
        F.sum(F.when(F.col("bin") == 2, 1).otherwise(0)).cast("bigint").alias("n_2"),
        F.sum(F.when(F.col("bin") == 2, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_2"),
        F.sum(F.when(F.col("bin") == 2, F.col("y")).otherwise(0)).cast("bigint").alias("p_2"),
        F.sum(F.when(F.col("bin") == 3, 1).otherwise(0)).cast("bigint").alias("n_3"),
        F.sum(F.when(F.col("bin") == 3, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_3"),
        F.sum(F.when(F.col("bin") == 3, F.col("y")).otherwise(0)).cast("bigint").alias("p_3"),
        F.sum(F.when(F.col("bin") == 4, 1).otherwise(0)).cast("bigint").alias("n_4"),
        F.sum(F.when(F.col("bin") == 4, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_4"),
        F.sum(F.when(F.col("bin") == 4, F.col("y")).otherwise(0)).cast("bigint").alias("p_4"),
        F.sum(F.when(F.col("bin") == 5, 1).otherwise(0)).cast("bigint").alias("n_5"),
        F.sum(F.when(F.col("bin") == 5, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_5"),
        F.sum(F.when(F.col("bin") == 5, F.col("y")).otherwise(0)).cast("bigint").alias("p_5"),
        F.sum(F.when(F.col("bin") == 6, 1).otherwise(0)).cast("bigint").alias("n_6"),
        F.sum(F.when(F.col("bin") == 6, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_6"),
        F.sum(F.when(F.col("bin") == 6, F.col("y")).otherwise(0)).cast("bigint").alias("p_6"),
        F.sum(F.when(F.col("bin") == 7, 1).otherwise(0)).cast("bigint").alias("n_7"),
        F.sum(F.when(F.col("bin") == 7, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_7"),
        F.sum(F.when(F.col("bin") == 7, F.col("y")).otherwise(0)).cast("bigint").alias("p_7"),
        F.sum(F.when(F.col("bin") == 8, 1).otherwise(0)).cast("bigint").alias("n_8"),
        F.sum(F.when(F.col("bin") == 8, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_8"),
        F.sum(F.when(F.col("bin") == 8, F.col("y")).otherwise(0)).cast("bigint").alias("p_8"),
        F.sum(F.when(F.col("bin") == 9, 1).otherwise(0)).cast("bigint").alias("n_9"),
        F.sum(F.when(F.col("bin") == 9, F.col("s_q6")).otherwise(0)).cast("bigint").alias("s_9"),
        F.sum(F.when(F.col("bin") == 9, F.col("y")).otherwise(0)).cast("bigint").alias("p_9"),
        F.count("*").alias("nn"),
        F.sum("y").cast("bigint").alias("pp"),
        F.sum(
            (F.col("s_q6") - 1000000 * F.col("y")).cast("decimal(38,0)")
            * (F.col("s_q6") - 1000000 * F.col("y"))
        ).alias("bq12"),
    )
    rel = (
        F.when(F.col("n_0") == 0, 0.0).otherwise((F.col("s_0") - 1000000 * F.col("p_0")).cast("double") * (F.col("s_0") - 1000000 * F.col("p_0")) / F.col("n_0") / F.lit(1e12))
        + F.when(F.col("n_1") == 0, 0.0).otherwise((F.col("s_1") - 1000000 * F.col("p_1")).cast("double") * (F.col("s_1") - 1000000 * F.col("p_1")) / F.col("n_1") / F.lit(1e12))
        + F.when(F.col("n_2") == 0, 0.0).otherwise((F.col("s_2") - 1000000 * F.col("p_2")).cast("double") * (F.col("s_2") - 1000000 * F.col("p_2")) / F.col("n_2") / F.lit(1e12))
        + F.when(F.col("n_3") == 0, 0.0).otherwise((F.col("s_3") - 1000000 * F.col("p_3")).cast("double") * (F.col("s_3") - 1000000 * F.col("p_3")) / F.col("n_3") / F.lit(1e12))
        + F.when(F.col("n_4") == 0, 0.0).otherwise((F.col("s_4") - 1000000 * F.col("p_4")).cast("double") * (F.col("s_4") - 1000000 * F.col("p_4")) / F.col("n_4") / F.lit(1e12))
        + F.when(F.col("n_5") == 0, 0.0).otherwise((F.col("s_5") - 1000000 * F.col("p_5")).cast("double") * (F.col("s_5") - 1000000 * F.col("p_5")) / F.col("n_5") / F.lit(1e12))
        + F.when(F.col("n_6") == 0, 0.0).otherwise((F.col("s_6") - 1000000 * F.col("p_6")).cast("double") * (F.col("s_6") - 1000000 * F.col("p_6")) / F.col("n_6") / F.lit(1e12))
        + F.when(F.col("n_7") == 0, 0.0).otherwise((F.col("s_7") - 1000000 * F.col("p_7")).cast("double") * (F.col("s_7") - 1000000 * F.col("p_7")) / F.col("n_7") / F.lit(1e12))
        + F.when(F.col("n_8") == 0, 0.0).otherwise((F.col("s_8") - 1000000 * F.col("p_8")).cast("double") * (F.col("s_8") - 1000000 * F.col("p_8")) / F.col("n_8") / F.lit(1e12))
        + F.when(F.col("n_9") == 0, 0.0).otherwise((F.col("s_9") - 1000000 * F.col("p_9")).cast("double") * (F.col("s_9") - 1000000 * F.col("p_9")) / F.col("n_9") / F.lit(1e12))
    ) / F.col("nn")
    res = (
        F.when(F.col("n_0") == 0, 0.0).otherwise(F.col("n_0") * (F.col("p_0").cast("double") / F.col("n_0") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_0").cast("double") / F.col("n_0") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_1") == 0, 0.0).otherwise(F.col("n_1") * (F.col("p_1").cast("double") / F.col("n_1") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_1").cast("double") / F.col("n_1") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_2") == 0, 0.0).otherwise(F.col("n_2") * (F.col("p_2").cast("double") / F.col("n_2") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_2").cast("double") / F.col("n_2") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_3") == 0, 0.0).otherwise(F.col("n_3") * (F.col("p_3").cast("double") / F.col("n_3") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_3").cast("double") / F.col("n_3") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_4") == 0, 0.0).otherwise(F.col("n_4") * (F.col("p_4").cast("double") / F.col("n_4") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_4").cast("double") / F.col("n_4") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_5") == 0, 0.0).otherwise(F.col("n_5") * (F.col("p_5").cast("double") / F.col("n_5") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_5").cast("double") / F.col("n_5") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_6") == 0, 0.0).otherwise(F.col("n_6") * (F.col("p_6").cast("double") / F.col("n_6") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_6").cast("double") / F.col("n_6") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_7") == 0, 0.0).otherwise(F.col("n_7") * (F.col("p_7").cast("double") / F.col("n_7") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_7").cast("double") / F.col("n_7") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_8") == 0, 0.0).otherwise(F.col("n_8") * (F.col("p_8").cast("double") / F.col("n_8") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_8").cast("double") / F.col("n_8") - F.col("pp").cast("double") / F.col("nn")))
        + F.when(F.col("n_9") == 0, 0.0).otherwise(F.col("n_9") * (F.col("p_9").cast("double") / F.col("n_9") - F.col("pp").cast("double") / F.col("nn")) * (F.col("p_9").cast("double") / F.col("n_9") - F.col("pp").cast("double") / F.col("nn")))
    ) / F.col("nn")
    brier = F.col("bq12").cast("double") / F.lit(1e12) / F.col("nn")
    unc = (F.col("pp").cast("double") / F.col("nn")) * (
        1 - F.col("pp").cast("double") / F.col("nn")
    )
    return cells.select(
        F.col("nn").cast("bigint").alias("n_users"),
        F.col("pp").cast("bigint").alias("n_pos"),
        brier.alias("brier"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        (brier - rel + res - unc).alias("within_bin"),
    )
