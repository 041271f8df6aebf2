"""Scorecard / model-monitoring analytics: KS separation, cumulative
gains & lift, population-stability drift (PSI), weight-of-evidence /
information value, leave-one-out target encoding, Welch's t-test, and
market-basket co-occurrence lift.

These are the operators a fraud-score *consumer* runs on top of the
reference's model outputs (the reference stops at sklearn AUC /
classification_report, ``Code for Amazon and Yelp/new_utlis_1.py:35-50``
and ``main.py:158-162``): credit/fraud scorecards are monitored with
KS + gains tables, binned WOE/IV drives feature selection, and PSI is
the standard score-drift alarm. All re-derived relationally with the
repo's exact-arithmetic oracle discipline — integer counts/cents into
decimal(38,0)/HUGEINT sufficient statistics, doubles only through
expressions written identically in both twins, order-dependent float
sums quantized to int64 before aggregation (the q_metric_ap pattern).

Shared fixture classifier: queries/metrics.py::_scored (score =
error-share, label = n_errors ≥ ERROR_THRESHOLD) so every metric here
is computed over the same non-degenerate (label, score) table the M5
metrics use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.rank import prefix_rank
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import cents, t
from frauddetection_spark.queries.metrics import _scored, _SQL_SCORED
from frauddetection_spark.queries.sampling import ERROR_THRESHOLD

_DEC = "decimal(38,0)"
_Q = 1_000_000_000  # fixed-point quantum for order-independent float sums


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov separation statistic
# ---------------------------------------------------------------------------


@register(
    "q_ks_score",
    oracle=f"""
    WITH s AS ({_SQL_SCORED}),
    g AS (
        SELECT score, count(*) AS n, sum(label) AS np
        FROM s GROUP BY 1
    ),
    c AS (
        SELECT sum(n) OVER (ORDER BY score) AS cum_n,
               sum(np) OVER (ORDER BY score) AS cum_p
        FROM g
    ),
    tot AS (
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(n) - sum(np) AS BIGINT) AS n_neg
        FROM g
    )
    SELECT n_pos, n_neg,
           CAST(max(abs(CAST(cum_p AS HUGEINT) * n_neg
                        - CAST(cum_n - cum_p AS HUGEINT) * n_pos))
                AS DOUBLE)
             / (CAST(n_pos AS DOUBLE) * n_neg) AS ks
    FROM c CROSS JOIN tot
    GROUP BY n_pos, n_neg
    """,
)
def q_ks_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov statistic of the fixture classifier — the
    scorecard industry's headline separation metric: max over score
    thresholds of |CDF⁺(s) − CDF⁻(s)|. Computed at score grain (ties
    collapse in one shuffle), cumulative counts via the two-phase
    range-partitioned prefix (operators/rank.py — no single-reducer
    window), and the max is taken over the EXACT integer cross product
    |cum_p·n⁻ − cum_n⁻·n⁺| in decimal(38,0) (cum·n products overflow
    int64 at ~10¹² rows) with ONE final double division — so both
    engines agree bit-for-bit. Grand totals come from the max of the
    running sums (monotone), not a second scan."""
    s = _scored(t(spark, sf_dir, "events"))
    g = s.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("label").alias("np")
    )
    pr = prefix_rank(
        g,
        [F.col("score")],
        sums={"cum_n": F.col("n"), "cum_p": F.col("np")},
    )
    tot = pr.agg(
        F.max("cum_p").cast("bigint").alias("n_pos"),
        (F.max("cum_n") - F.max("cum_p")).cast("bigint").alias("n_neg"),
    )
    d = pr.crossJoin(F.broadcast(tot)).select(
        "n_pos",
        "n_neg",
        F.abs(
            F.col("cum_p").cast(_DEC) * F.col("n_neg")
            - (F.col("cum_n") - F.col("cum_p")).cast(_DEC) * F.col("n_pos")
        ).alias("dev"),
    )
    return d.groupBy("n_pos", "n_neg").agg(
        (
            F.max("dev").cast("double")
            / (F.col("n_pos").cast("double") * F.col("n_neg"))
        ).alias("ks")
    )


# ---------------------------------------------------------------------------
# cumulative gains / lift table by score decile
# ---------------------------------------------------------------------------


@register(
    "q_lift_gains",
    oracle=f"""
    WITH s AS ({_SQL_SCORED}),
    r AS (
        SELECT label,
               row_number() OVER (ORDER BY score DESC, user_id) AS rn,
               count(*) OVER () AS n_all
        FROM s
    ),
    g AS (
        SELECT ((rn - 1) * 10) // n_all + 1 AS decile,
               count(*) AS n_users, sum(label) AS n_pos
        FROM r GROUP BY 1
    ),
    f AS (
        SELECT decile, n_users, n_pos,
               sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
               sum(n_pos) OVER () AS total_pos,
               sum(n_users) OVER () AS total_users
        FROM g
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(cum_pos AS DOUBLE) / total_pos AS gain,
           CAST(n_pos AS DOUBLE) * total_users
             / (CAST(n_users AS DOUBLE) * total_pos) AS lift
    FROM f ORDER BY decile
    """,
)
def q_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table: rank by score descending, cut
    into 10 equal-frequency buckets with the CLOSED-FORM decile
    ⌊(rn−1)·10/n⌋+1 (identical integer arithmetic in both engines —
    never the engine-native ntile, whose remainder placement is an
    implementation detail), then per-decile capture rate and lift.
    Ranks come from the two-phase prefix_rank carrying the grand total
    in the same pass (total_count — no second scan); the cumulative /
    total windows run over the 10-row decile table (bounded by
    construction, partitioned on a literal). Lift and gain are single
    double expressions over exact ints, written identically in both
    twins."""
    s = _scored(t(spark, sf_dir, "events"))
    r = prefix_rank(
        s, [F.col("score").desc(), F.col("user_id")], total_count="n_all"
    )
    g = r.select(
        F.expr("((rn - 1) * 10) div n_all + 1").alias("decile"),
        "label",
    ).groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("label").alias("n_pos")
    )
    one = Window.partitionBy(F.lit(1))
    w_cum = one.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    f = g.select(
        "decile",
        "n_users",
        "n_pos",
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n_pos").over(one).alias("total_pos"),
        F.sum("n_users").over(one).alias("total_users"),
    )
    return f.select(
        F.col("decile").cast("bigint").alias("decile"),
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        (F.col("cum_pos").cast("double") / F.col("total_pos")).alias("gain"),
        (
            F.col("n_pos").cast("double")
            * F.col("total_users")
            / (F.col("n_users").cast("double") * F.col("total_pos"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# population stability index (distribution drift)
# ---------------------------------------------------------------------------

_PSI_BIN = "LEAST({c} // 5000, 9)"  # 10 fixed 50.00-wide amount bins


@register(
    "q_psi",
    oracle=f"""
    WITH e AS (
        SELECT CAST(date_part('day', ts) <= 15 AS INTEGER) AS is_base,
               {_PSI_BIN.format(c="CAST(round(value * 100) AS BIGINT)")}
                   AS bin
        FROM events
    ),
    g AS (
        SELECT bin,
               sum(is_base) AS base_n,
               sum(1 - is_base) AS targ_n
        FROM e GROUP BY 1
    ),
    f AS (
        SELECT bin, base_n, targ_n,
               sum(base_n) OVER () AS base_tot,
               sum(targ_n) OVER () AS targ_tot
        FROM g
        WHERE base_n > 0 AND targ_n > 0
    ),
    terms AS (
        SELECT bin,
               CAST(base_n AS BIGINT) AS base_n,
               CAST(targ_n AS BIGINT) AS targ_n,
               (CAST(base_n AS DOUBLE) / base_tot
                - CAST(targ_n AS DOUBLE) / targ_tot)
               * ln((CAST(base_n AS DOUBLE) / base_tot)
                    / (CAST(targ_n AS DOUBLE) / targ_tot)) AS psi_term
        FROM f
    )
    SELECT CAST(bin AS BIGINT) AS bin, base_n, targ_n, psi_term,
           CAST(sum(CAST(round(psi_term * {_Q}) AS BIGINT)) OVER ()
                AS DOUBLE) / {_Q} AS psi_total
    FROM terms ORDER BY bin
    """,
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month over 10 fixed-width amount bins — the standard score/
    feature drift alarm (PSI > 0.25 ⇒ re-fit). Bin ids are pure integer
    arithmetic on cents (no float boundary drift); each bin's
    (p_base − p_target)·ln(p_base/p_target) term is one double
    expression over exact int ratios, written identically in both
    twins; the PSI total is summed order-independently by quantizing
    terms to 1e-9 fixed point first (the q_metric_ap pattern — a raw
    double window-sum would drift with addition order). Scale: one
    groupBy to 10 bins, windows over the bounded bin table only."""
    e = t(spark, sf_dir, "events").select(
        (F.dayofmonth("ts") <= 15).cast("int").alias("is_base"),
        F.least(
            F.expr("CAST(round(value * 100) AS BIGINT) div 5000"), F.lit(9)
        ).alias("bin"),
    )
    g = e.groupBy("bin").agg(
        F.sum("is_base").alias("base_n"),
        F.sum(F.lit(1) - F.col("is_base")).alias("targ_n"),
    )
    one = Window.partitionBy(F.lit(1))
    f = (
        g.filter((F.col("base_n") > 0) & (F.col("targ_n") > 0))
        .withColumn("base_tot", F.sum("base_n").over(one))
        .withColumn("targ_tot", F.sum("targ_n").over(one))
    )
    p_b = F.col("base_n").cast("double") / F.col("base_tot")
    p_t = F.col("targ_n").cast("double") / F.col("targ_tot")
    terms = f.select(
        "bin",
        F.col("base_n").cast("bigint").alias("base_n"),
        F.col("targ_n").cast("bigint").alias("targ_n"),
        ((p_b - p_t) * F.log(p_b / p_t)).alias("psi_term"),
    )
    return terms.select(
        F.col("bin").cast("bigint").alias("bin"),
        "base_n",
        "targ_n",
        "psi_term",
        (
            F.sum(F.round(F.col("psi_term") * _Q).cast("bigint"))
            .over(one)
            .cast("double")
            / F.lit(_Q)
        ).alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# weight of evidence / information value
# ---------------------------------------------------------------------------


@register(
    "q_woe_iv",
    oracle=f"""
    WITH counts AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS n_err,
               count(*) AS n
        FROM events GROUP BY user_id
    ),
    binned AS (
        SELECT CASE WHEN (10 * n_err) // n > 9 THEN 9
                    ELSE (10 * n_err) // n END AS bin,
               CAST(n_err >= {ERROR_THRESHOLD} AS INTEGER) AS bad
        FROM counts
    ),
    g AS (
        SELECT bin, sum(1 - bad) AS goods, sum(bad) AS bads
        FROM binned GROUP BY 1
    ),
    f AS (
        SELECT bin, goods, bads,
               sum(goods) OVER () AS g_tot,
               sum(bads) OVER () AS b_tot
        FROM g WHERE goods > 0 AND bads > 0
    ),
    terms AS (
        SELECT bin,
               CAST(goods AS BIGINT) AS goods,
               CAST(bads AS BIGINT) AS bads,
               ln((CAST(goods AS DOUBLE) / g_tot)
                  / (CAST(bads AS DOUBLE) / b_tot)) AS woe,
               (CAST(goods AS DOUBLE) / g_tot
                - CAST(bads AS DOUBLE) / b_tot)
               * ln((CAST(goods AS DOUBLE) / g_tot)
                    / (CAST(bads AS DOUBLE) / b_tot)) AS iv_term
        FROM f
    )
    SELECT CAST(bin AS BIGINT) AS bin, goods, bads, woe, iv_term,
           CAST(sum(CAST(round(iv_term * {_Q}) AS BIGINT)) OVER ()
                AS DOUBLE) / {_Q} AS iv_total
    FROM terms ORDER BY bin
    """,
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence per score bin and total information value —
    the classic scorecard feature-strength measure (IV > 0.3 ⇒ strong
    predictor). Reuses q_metric_calibration's pure-integer decile bins
    (⌊10·n_err/n⌋ capped at 9); WOE = ln(dist_good/dist_bad) and the IV
    terms are single double expressions over exact integer tallies,
    identical in both twins; bins missing either class are excluded in
    both (WOE undefined); the IV total is an order-independent
    quantized-int sum. Scale: one groupBy(user) + one groupBy(bin);
    windows only over the ≤10-row bin table."""
    e = t(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    counts = e.groupBy("user_id").agg(
        n_err.alias("n_err"), F.count("*").alias("n")
    )
    binned = counts.select(
        F.least(F.expr("(10 * n_err) div n"), F.lit(9)).alias("bin"),
        (F.col("n_err") >= ERROR_THRESHOLD).cast("int").alias("bad"),
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.lit(1) - F.col("bad")).alias("goods"),
        F.sum("bad").alias("bads"),
    )
    one = Window.partitionBy(F.lit(1))
    f = (
        g.filter((F.col("goods") > 0) & (F.col("bads") > 0))
        .withColumn("g_tot", F.sum("goods").over(one))
        .withColumn("b_tot", F.sum("bads").over(one))
    )
    d_g = F.col("goods").cast("double") / F.col("g_tot")
    d_b = F.col("bads").cast("double") / F.col("b_tot")
    terms = f.select(
        "bin",
        F.col("goods").cast("bigint").alias("goods"),
        F.col("bads").cast("bigint").alias("bads"),
        F.log(d_g / d_b).alias("woe"),
        ((d_g - d_b) * F.log(d_g / d_b)).alias("iv_term"),
    )
    return terms.select(
        F.col("bin").cast("bigint").alias("bin"),
        "goods",
        "bads",
        "woe",
        "iv_term",
        (
            F.sum(F.round(F.col("iv_term") * _Q).cast("bigint"))
            .over(one)
            .cast("double")
            / F.lit(_Q)
        ).alias("iv_total"),
    )


# ---------------------------------------------------------------------------
# leave-one-out target encoding
# ---------------------------------------------------------------------------


@register(
    "q_target_encode",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS amt_cents
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(sum(amt_cents) AS BIGINT) AS s_cents,
               count(*) AS n
        FROM e GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.amt_cents,
           CAST(s.s_cents - e.amt_cents AS DOUBLE) / (s.n - 1)
               AS loo_mean_cents
    FROM e JOIN s USING (event_type)
    ORDER BY e.event_id
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type by amount — the
    standard high-cardinality categorical encoder for tabular ML
    (each row's encoding excludes its own target, preventing the
    single-row leakage naive mean encoding has). Closed form
    (Σ_g − xᵢ)/(n_g − 1) from one exact-cents aggregate per category,
    broadcast back — a map-side join at any scale (category dim ≪
    fact), one shuffle total. One double division per row, identical
    in both twins."""
    e = t(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("amt_cents")
    )
    s = e.groupBy("event_type").agg(
        F.sum("amt_cents").cast("bigint").alias("s_cents"),
        F.count("*").alias("n"),
    )
    return (
        e.join(F.broadcast(s), "event_type")
        .select(
            "event_id",
            "event_type",
            "amt_cents",
            (
                (F.col("s_cents") - F.col("amt_cents")).cast("double")
                / (F.col("n") - 1)
            ).alias("loo_mean_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test
# ---------------------------------------------------------------------------


@register(
    "q_ttest_welch",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    m AS (
        SELECT
            sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n1,
            sum(CASE WHEN event_type = 'purchase' THEN CAST(c AS HUGEINT)
                     ELSE 0 END) AS s1,
            sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS ss1,
            sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
            sum(CASE WHEN event_type = 'view' THEN CAST(c AS HUGEINT)
                     ELSE 0 END) AS s2,
            sum(CASE WHEN event_type = 'view'
                     THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS ss2
        FROM e
    ),
    v AS (
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               CAST(s1 AS DOUBLE) / n1 AS mean1,
               CAST(s2 AS DOUBLE) / n2 AS mean2,
               CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS se1,
               CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
                   / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS se2
        FROM m
    )
    SELECT n1, n2, mean1, mean2,
           (mean1 - mean2) / sqrt(se1 + se2) AS t_stat,
           (se1 + se2) * (se1 + se2)
             / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)) AS df
    FROM v
    """,
)
def q_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: do purchase and view amounts
    differ in mean? t = (m₁−m₂)/√(v₁/n₁+v₂/n₂) with Welch–Satterthwaite
    df — the A/B-comparison primitive. All sufficient statistics are
    exact integer moments in decimal(38,0)/HUGEINT (Σc² overflows int64
    at ~10⁸ rows of 4-digit cents), folded to doubles through the same
    expression text in both twins: sᵢ/nᵢ = vᵢ/nᵢ is computed directly
    as (n·ss−s²)/(n²(n−1)) so no intermediate variance rounding
    differs. Single full-table conditional aggregate — one shuffle to
    one row at any scale."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select("event_type", cents("value").alias("c"))
    cd = F.col("c").cast(_DEC)
    is1 = F.col("event_type") == "purchase"
    is2 = F.col("event_type") == "view"
    m = e.agg(
        F.sum(F.when(is1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(is1, cd).otherwise(F.lit(0).cast(_DEC))).alias("s1"),
        F.sum(F.when(is1, cd * F.col("c")).otherwise(F.lit(0).cast(_DEC))).alias("ss1"),
        F.sum(F.when(is2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(is2, cd).otherwise(F.lit(0).cast(_DEC))).alias("s2"),
        F.sum(F.when(is2, cd * F.col("c")).otherwise(F.lit(0).cast(_DEC))).alias("ss2"),
    )
    v = m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        (F.col("s1").cast("double") / F.col("n1")).alias("mean1"),
        (F.col("s2").cast("double") / F.col("n2")).alias("mean2"),
        (
            (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n1").cast("double") * F.col("n1") * (F.col("n1") - 1))
        ).alias("se1"),
        (
            (F.col("n2") * F.col("ss2") - F.col("s2") * F.col("s2")).cast("double")
            / (F.col("n2").cast("double") * F.col("n2") * (F.col("n2") - 1))
        ).alias("se2"),
    )
    se = F.col("se1") + F.col("se2")
    return v.select(
        "n1",
        "n2",
        "mean1",
        "mean2",
        ((F.col("mean1") - F.col("mean2")) / F.sqrt(se)).alias("t_stat"),
        (
            se * se
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            )
        ).alias("df"),
    )


# ---------------------------------------------------------------------------
# market-basket co-occurrence (support / lift)
# ---------------------------------------------------------------------------


@register(
    "q_cooccurrence",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    marg AS (SELECT l_partkey, count(*) AS n_part FROM li GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT p1, p2, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / n_orders AS support,
           CAST(n AS DOUBLE) * n_orders
             / (CAST(ma.n_part AS DOUBLE) * mb.n_part) AS lift
    FROM pairs
    JOIN marg ma ON pairs.p1 = ma.l_partkey
    JOIN marg mb ON pairs.p2 = mb.l_partkey
    CROSS JOIN tot
    ORDER BY p1, p2
    """,
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts bought together in ≥2 orders,
    with support n/|orders| and lift n·|orders|/(n_a·n_b) — the
    association-rule primitive behind "customers also bought" and
    collusion-pair detection. The self-join is keyed on the basket id
    with p1 < p2 dedup, so work is Σ|basket|², linear in orders while
    basket size is bounded (TPC-H ≤ 7; at 100 TB cap or sample
    whale baskets first). Marginals and the order total join back as
    exact ints; support/lift are single double expressions identical
    in both twins.

    Plan shape (the q_item_cf diagonal trick at order grain):
    ONE groupBy(order) collect_set builds each basket (dedup in the
    same shuffle); posexplode + explode(slice at i+1) emits every
    within-basket pair INCLUDING the diagonal (p, p), so a single
    (p1, p2) count shuffle yields pair counts (off-diagonal) AND the
    per-part marginals n_part (diagonal), while the order total is a
    count of the persisted basket table. A self-join of the distinct
    incidence on the basket id would pay two probe-side shuffles of
    it plus separate marginal/total aggregations."""
    from frauddetection_spark.operators.caching import track_cache

    baskets = track_cache(
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select("ps")
        .persist()
    )
    tot = baskets.agg(F.count("*").cast("bigint").alias("n_orders"))
    counts = track_cache(
        baskets.select(F.posexplode("ps").alias("i", "p1"), "ps")
        .select(
            "p1",
            F.explode(
                F.slice("ps", F.col("i") + F.lit(1), F.size("ps"))
            ).alias("p2"),
        )
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    marg = counts.filter(F.col("p1") == F.col("p2")).select(
        F.col("p1").alias("l_partkey"), F.col("n").alias("n_part")
    )
    pairs = counts.filter(
        (F.col("p1") != F.col("p2")) & (F.col("n") >= 2)
    )
    out = (
        pairs.join(
            marg.select(F.col("l_partkey").alias("p1"), F.col("n_part").alias("na")),
            "p1",
        )
        .join(
            marg.select(F.col("l_partkey").alias("p2"), F.col("n_part").alias("nb")),
            "p2",
        )
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        "p1",
        "p2",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("n_orders")).alias("support"),
        (
            F.col("n").cast("double")
            * F.col("n_orders")
            / (F.col("na").cast("double") * F.col("nb"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# two-proportion z-test (A/B conversion comparison)
# ---------------------------------------------------------------------------


@register(
    "q_ztest_proportions",
    oracle="""
    WITH e AS (
        SELECT CAST(date_part('day', ts) <= 15 AS INTEGER) AS is_a,
               CAST(event_type = 'purchase' AS INTEGER) AS conv
        FROM events
    ),
    m AS (
        SELECT sum(is_a) AS n1,
               sum(is_a * conv) AS x1,
               sum(1 - is_a) AS n2,
               sum((1 - is_a) * conv) AS x2
        FROM e
    ),
    v AS (
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
               CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
               CAST(x1 AS DOUBLE) / n1 AS p1,
               CAST(x2 AS DOUBLE) / n2 AS p2,
               CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS p_pool
        FROM m
    )
    SELECT n1, x1, n2, x2, p1, p2,
           (p1 - p2)
             / sqrt(p_pool * (1 - p_pool)
                    * (1.0 / n1 + 1.0 / n2)) AS z_stat
    FROM v
    """,
)
def q_ztest_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: did the purchase-conversion rate move
    between the first and second half of the month? Pooled-variance
    z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) — the A/B-test and
    before/after-release primitive. One conditional aggregate to four
    exact integers; every double (p₁, p₂, pooled p̂, z) is a single
    expression over those ints written identically in both twins.
    One shuffle to one row at any scale."""
    e = t(spark, sf_dir, "events").select(
        (F.dayofmonth("ts") <= 15).cast("int").alias("is_a"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    m = e.agg(
        F.sum("is_a").alias("n1"),
        F.sum(F.col("is_a") * F.col("conv")).alias("x1"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n2"),
        F.sum((F.lit(1) - F.col("is_a")) * F.col("conv")).alias("x2"),
    )
    v = m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("x1").cast("bigint").alias("x1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("x2").cast("bigint").alias("x2"),
        (F.col("x1").cast("double") / F.col("n1")).alias("p1"),
        (F.col("x2").cast("double") / F.col("n2")).alias("p2"),
        (
            (F.col("x1") + F.col("x2")).cast("double")
            / (F.col("n1") + F.col("n2"))
        ).alias("p_pool"),
    )
    return v.select(
        "n1",
        "x1",
        "n2",
        "x2",
        "p1",
        "p2",
        (
            (F.col("p1") - F.col("p2"))
            / F.sqrt(
                F.col("p_pool")
                * (F.lit(1) - F.col("p_pool"))
                * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
            )
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov (distribution comparison)
# ---------------------------------------------------------------------------


@register(
    "q_ks_2sample",
    oracle="""
    WITH e AS (
        SELECT CAST(event_type = 'purchase' AS INTEGER) AS g1,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    g AS (
        SELECT c, sum(g1) AS n1, sum(1 - g1) AS n2
        FROM e GROUP BY 1
    ),
    cum AS (
        SELECT sum(n1) OVER (ORDER BY c) AS cum1,
               sum(n2) OVER (ORDER BY c) AS cum2
        FROM g
    ),
    tot AS (
        SELECT CAST(sum(n1) AS BIGINT) AS n1_tot,
               CAST(sum(n2) AS BIGINT) AS n2_tot
        FROM g
    )
    SELECT n1_tot, n2_tot,
           CAST(max(abs(CAST(cum1 AS HUGEINT) * n2_tot
                        - CAST(cum2 AS HUGEINT) * n1_tot)) AS DOUBLE)
             / (CAST(n1_tot AS DOUBLE) * n2_tot) AS ks
    FROM cum CROSS JOIN tot
    GROUP BY n1_tot, n2_tot
    """,
)
def q_ks_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: are purchase and view amounts
    drawn from the same distribution? The NONPARAMETRIC sibling of
    q_ttest_welch (detects shape/scale differences a mean test can't).
    Same machinery as q_ks_score but over two empirical CDFs of the
    cents grain: one shuffle collapses ties, the two-phase prefix
    carries both groups' cumulative counts in one pass, and the max
    deviation is exact decimal(38,0) integer arithmetic with one final
    double division — bit-equal across engines."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        (F.col("event_type") == "purchase").cast("int").alias("g1"),
        cents("value").alias("c"),
    )
    g = e.groupBy("c").agg(
        F.sum("g1").alias("n1"),
        F.sum(F.lit(1) - F.col("g1")).alias("n2"),
    )
    pr = prefix_rank(
        g, [F.col("c")], sums={"cum1": F.col("n1"), "cum2": F.col("n2")}
    )
    tot = pr.agg(
        F.max("cum1").cast("bigint").alias("n1_tot"),
        F.max("cum2").cast("bigint").alias("n2_tot"),
    )
    d = pr.crossJoin(F.broadcast(tot)).select(
        "n1_tot",
        "n2_tot",
        F.abs(
            F.col("cum1").cast(_DEC) * F.col("n2_tot")
            - F.col("cum2").cast(_DEC) * F.col("n1_tot")
        ).alias("dev"),
    )
    return d.groupBy("n1_tot", "n2_tot").agg(
        (
            F.max("dev").cast("double")
            / (F.col("n1_tot").cast("double") * F.col("n2_tot"))
        ).alias("ks")
    )


# ---------------------------------------------------------------------------
# closed-form percent_rank / cume_dist (rank-transform surface)
# ---------------------------------------------------------------------------


@register(
    "q_percent_rank",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS spend_cents
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT user_id, spend_cents,
               row_number() OVER (ORDER BY spend_cents, user_id) AS rn,
               count(*) OVER () AS n
        FROM s
    )
    SELECT user_id, spend_cents,
           CAST(rn - 1 AS DOUBLE) / (n - 1) AS pct_rank,
           CAST(rn AS DOUBLE) / n AS cume_dist
    FROM r ORDER BY user_id
    """,
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist over per-user spend as CLOSED FORMS
    of (rn, n) from the two-phase prefix_rank — the rank-transform
    surface warehouse users reach for, computed with no unpartitioned
    window (the native percent_rank() over a global ORDER BY is a
    single-reducer sort — the exact scale-killer operators/rank.py
    exists to replace; the grand total rides the same pass via
    total_count, no second scan). Tie-broken total order makes
    row_number ≡ rank, so the closed forms equal the SQL-standard
    definitions; each output is one double division over exact ints."""
    s = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(cents("value")).cast("bigint").alias("spend_cents")
    )
    r = prefix_rank(
        s, [F.col("spend_cents"), F.col("user_id")], total_count="n"
    )
    return r.select(
        "user_id",
        "spend_cents",
        ((F.col("rn") - 1).cast("double") / (F.col("n") - 1)).alias(
            "pct_rank"
        ),
        (F.col("rn").cast("double") / F.col("n")).alias("cume_dist"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (experimentation-platform adjustment)
# ---------------------------------------------------------------------------

_CUPED_SPLIT_TS = "TIMESTAMP '2024-01-16'"  # pre/post boundary (events span 2024-01)


@register(
    "q_cuped",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(sum(CASE WHEN ts < {_CUPED_SPLIT_TS}
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= {_CUPED_SPLIT_TS}
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM per_user
    ),
    theta AS (
        SELECT n, sx,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) AS th
        FROM g
    ),
    v AS (
        SELECT variant, count(*) AS nv,
               CAST(sum(x) AS BIGINT) AS sxv,
               CAST(sum(y) AS BIGINT) AS syv
        FROM per_user GROUP BY 1
    )
    SELECT v.variant, CAST(v.nv AS BIGINT) AS n_users,
           CAST(v.syv AS DOUBLE) / v.nv AS mean_y,
           CAST(v.syv AS DOUBLE) / v.nv
             - th * (CAST(v.sxv AS DOUBLE) / v.nv
                     - CAST(t.sx AS DOUBLE) / t.n) AS mean_y_cuped
    FROM v, theta t ORDER BY v.variant
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the experimentation-platform
    adjustment (Deng et al., Microsoft): each user's post-period
    metric Y is debiased by their pre-period covariate X,
    Y_adj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), typically cutting
    the A/B metric's variance 30-50% (same decision quality from far
    less traffic). Everything reduces to five exact decimal/HUGEINT
    sufficient statistics over per-user int-cent totals; θ and the
    per-variant adjusted means are closed-form expressions of those
    integers — no per-user float ever sums across rows, so both
    twins emit identical doubles. One user-keyed aggregate + two
    single-row reductions at any scale."""
    split = F.expr(_CUPED_SPLIT_TS)
    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("variant"))
        .agg(
            F.sum(F.when(F.col("ts") < split, cents("value")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("ts") >= split, cents("value")).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    g = per_user.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
    )
    theta = g.select(
        "n",
        "sx",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("th"),
    )
    v = per_user.groupBy("variant").agg(
        F.count("*").alias("nv"),
        F.sum("x").cast("bigint").alias("sxv"),
        F.sum("y").cast("bigint").alias("syv"),
    )
    return (
        v.crossJoin(F.broadcast(theta))
        .select(
            "variant",
            F.col("nv").cast("bigint").alias("n_users"),
            (F.col("syv").cast("double") / F.col("nv")).alias("mean_y"),
            (
                F.col("syv").cast("double") / F.col("nv")
                - F.col("th")
                * (
                    F.col("sxv").cast("double") / F.col("nv")
                    - F.col("sx").cast("double") / F.col("n")
                )
            ).alias("mean_y_cuped"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U test (rank-based two-sample comparison)
# ---------------------------------------------------------------------------


@register(
    "q_mann_whitney",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS grp,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT m,
               sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS cnt_a,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS cnt_b,
               count(*) AS cnt
        FROM per_user GROUP BY 1
    ),
    c AS (
        SELECT cnt_a, cnt_b, cnt,
               sum(cnt) OVER (ORDER BY m) - cnt AS less
        FROM g
    ),
    s AS (
        SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
               CAST(sum(cnt_b) AS BIGINT) AS nb,
               CAST(sum(CAST(cnt_a AS HUGEINT)
                        * (2 * less + cnt + 1)) AS HUGEINT) AS two_ra,
               CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                    AS HUGEINT) AS tie
        FROM c
    )
    SELECT na, nb,
           CAST(two_ra - CAST(na AS HUGEINT) * (na + 1) AS BIGINT) AS two_u,
           CAST(CAST(two_ra - CAST(na AS HUGEINT) * (na + 1)
                     - CAST(na AS HUGEINT) * nb AS DOUBLE)
                / (2 * sqrt(CAST(CAST(na AS HUGEINT) * nb AS DOUBLE) / 12
                   * ((na + nb + 1)
                      - CAST(tie AS DOUBLE)
                        / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))))
                AS DOUBLE) AS z
    FROM s
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric
    two-sample test for skewed metrics (revenue, latency) where the
    t-test's normality assumption fails; the workhorse of experiment
    analysis on heavy-tailed outcomes. Rank sums with midrank tie
    handling stay EXACT integers by carrying 2·rank: at metric grain,
    2·avgrank = 2·(count below) + ties + 1, so 2ΣR_A, 2U, and the
    tie-correction Σ(t³−t) are all exact decimal/HUGEINT sums (the
    q_ks_score value-grain + two-phase-prefix machinery), and the
    normal-approximation z is ONE double expression of those integers
    written identically in both twins. Two shuffles (user agg, metric
    grain) + the range-partitioned prefix."""
    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("grp"))
        .agg(F.sum(cents("value")).cast("bigint").alias("m"))
    )
    g = per_user.groupBy("m").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("cnt_b"),
        F.count("*").alias("cnt"),
    )
    pr = prefix_rank(g, [F.col("m")], sums={"cum": F.col("cnt")})
    c = pr.select(
        "cnt_a",
        "cnt_b",
        "cnt",
        (F.col("cum") - F.col("cnt")).alias("less"),
    )
    s = c.agg(
        F.sum("cnt_a").cast("bigint").alias("na"),
        F.sum("cnt_b").cast("bigint").alias("nb"),
        F.sum(
            F.col("cnt_a").cast(_DEC)
            * (2 * F.col("less") + F.col("cnt") + 1)
        ).alias("two_ra"),
        F.sum(
            F.col("cnt").cast(_DEC) * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie"),
    )
    two_u = F.col("two_ra") - F.col("na").cast(_DEC) * (F.col("na") + 1)
    n = F.col("na") + F.col("nb")
    return s.select(
        "na",
        "nb",
        two_u.cast("bigint").alias("two_u"),
        (
            (two_u - F.col("na").cast(_DEC) * F.col("nb")).cast("double")
            / (
                2
                * F.sqrt(
                    (F.col("na").cast(_DEC) * F.col("nb")).cast("double")
                    / 12
                    * (
                        (n + 1)
                        - F.col("tie").cast("double")
                        / (n.cast("double") * (n - 1))
                    )
                )
            )
        ).cast("double").alias("z"),
    )


# ---------------------------------------------------------------------------
# ratio-metric inference (delta method)
# ---------------------------------------------------------------------------


@register(
    "q_ratio_delta_method",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
               count(*) AS y
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT variant, count(*) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM per_user GROUP BY 1
    )
    SELECT variant, CAST(n AS BIGINT) AS n_users,
           CAST(sx AS DOUBLE) / sy AS ratio,
           (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy) / n
           * ((CAST(n * sxx - sx * sx AS DOUBLE)
               / ((CAST(n AS DOUBLE) - 1) * n))
              / ((CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
              + (CAST(n * syy - sy * sy AS DOUBLE)
                 / ((CAST(n AS DOUBLE) - 1) * n))
                / ((CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
              - 2 * (CAST(n * sxy - sx * sy AS DOUBLE)
                     / ((CAST(n AS DOUBLE) - 1) * n))
                / ((CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)))
               AS var_ratio
    FROM g ORDER BY variant
    """,
)
def q_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method variance of a RATIO metric (revenue per event,
    Σx/Σy per variant) — the experimentation-platform formula for
    per-user-ratio metrics where naive per-user averaging is wrong
    (users contribute unequal denominators) and the i.i.d. variance
    formula is biased: Var(X̄/Ȳ) ≈ (X̄/Ȳ)²/n · (cv²x + cv²y −
    2·cov/(X̄Ȳ)). Every moment (sx, sy, sxx, syy, sxy) is an exact
    decimal/HUGEINT sum over per-user int totals; the ratio and its
    variance are one double expression of those integers written
    token-identically in both twins. One user-keyed aggregate + one
    |variants|-row reduction."""
    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("variant"))
        .agg(
            F.sum(cents("value")).cast("bigint").alias("x"),
            F.count("*").alias("y"),
        )
    )
    g = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
    )
    ratio = F.col("sx").cast("double") / F.col("sy")
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / F.col("n")
    n_d = F.col("n").cast("double")

    def sample_var(sq, s):
        return (F.col("n") * F.col(sq) - F.col(s) * F.col(s)).cast(
            "double"
        ) / ((n_d - 1) * F.col("n"))

    cov = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / ((n_d - 1) * F.col("n"))
    return g.select(
        "variant",
        F.col("n").cast("bigint").alias("n_users"),
        ratio.alias("ratio"),
        (
            ratio * ratio / F.col("n")
            * (
                sample_var("sxx", "sx") / (mx * mx)
                + sample_var("syy", "sy") / (my * my)
                - 2 * cov / (mx * my)
            )
        ).alias("var_ratio"),
    )


# ---------------------------------------------------------------------------
# difference-in-differences (quasi-experimental lift)
# ---------------------------------------------------------------------------


@register(
    "q_did",
    oracle=f"""
    WITH cell AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN ts >= {_CUPED_SPLIT_TS} THEN 1 ELSE 0 END
                   AS is_post,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    g AS (
        SELECT variant, is_post,
               count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s
        FROM cell GROUP BY 1, 2
    ),
    wide AS (
        SELECT
            max(CASE WHEN variant = 1 AND is_post = 1 THEN s END) AS s_t_post,
            max(CASE WHEN variant = 1 AND is_post = 1 THEN n END) AS n_t_post,
            max(CASE WHEN variant = 1 AND is_post = 0 THEN s END) AS s_t_pre,
            max(CASE WHEN variant = 1 AND is_post = 0 THEN n END) AS n_t_pre,
            max(CASE WHEN variant = 0 AND is_post = 1 THEN s END) AS s_c_post,
            max(CASE WHEN variant = 0 AND is_post = 1 THEN n END) AS n_c_post,
            max(CASE WHEN variant = 0 AND is_post = 0 THEN s END) AS s_c_pre,
            max(CASE WHEN variant = 0 AND is_post = 0 THEN n END) AS n_c_pre
        FROM g
    )
    SELECT CAST(n_t_post + n_t_pre + n_c_post + n_c_pre AS BIGINT)
               AS n_events,
           CAST(s_t_post AS DOUBLE) / n_t_post
             - CAST(s_t_pre AS DOUBLE) / n_t_pre AS treated_delta,
           CAST(s_c_post AS DOUBLE) / n_c_post
             - CAST(s_c_pre AS DOUBLE) / n_c_pre AS control_delta,
           (CAST(s_t_post AS DOUBLE) / n_t_post
             - CAST(s_t_pre AS DOUBLE) / n_t_pre)
           - (CAST(s_c_post AS DOUBLE) / n_c_post
             - CAST(s_c_pre AS DOUBLE) / n_c_pre) AS did_cents
    FROM wide
    """,
)
def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the quasi-experimental lift estimate
    (Δtreated − Δcontrol across a pre/post boundary) used when
    randomization isn't available and a parallel-trends control group
    is — the workhorse of policy/geo-launch analysis. The whole
    estimator reduces to FOUR (variant × period) cells of exact
    int-cent sums and counts, pivoted wide in one pass; each cell mean
    is one exact-int division and the DiD is their IEEE-identical
    combination. One shuffle to the 4-row cell table."""
    split = F.expr(_CUPED_SPLIT_TS)
    cell = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("ts") >= split, 1).otherwise(0).alias("is_post"),
        cents("value").alias("c"),
    )
    g = cell.groupBy("variant", "is_post").agg(
        F.count("*").alias("n"), F.sum("c").cast("bigint").alias("s")
    )

    def pick(v, p, col):
        return F.max(
            F.when((F.col("variant") == v) & (F.col("is_post") == p), F.col(col))
        )

    wide = g.agg(
        pick(1, 1, "s").alias("s_t_post"),
        pick(1, 1, "n").alias("n_t_post"),
        pick(1, 0, "s").alias("s_t_pre"),
        pick(1, 0, "n").alias("n_t_pre"),
        pick(0, 1, "s").alias("s_c_post"),
        pick(0, 1, "n").alias("n_c_post"),
        pick(0, 0, "s").alias("s_c_pre"),
        pick(0, 0, "n").alias("n_c_pre"),
    )
    t_delta = (
        F.col("s_t_post").cast("double") / F.col("n_t_post")
        - F.col("s_t_pre").cast("double") / F.col("n_t_pre")
    )
    c_delta = (
        F.col("s_c_post").cast("double") / F.col("n_c_post")
        - F.col("s_c_pre").cast("double") / F.col("n_c_pre")
    )
    return wide.select(
        (
            F.col("n_t_post")
            + F.col("n_t_pre")
            + F.col("n_c_post")
            + F.col("n_c_pre")
        )
        .cast("bigint")
        .alias("n_events"),
        t_delta.alias("treated_delta"),
        c_delta.alias("control_delta"),
        (t_delta - c_delta).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# quantile treatment effects (distributional A/B readout)
# ---------------------------------------------------------------------------

_QTE_PCTS = (25, 50, 75, 90)


@register(
    "q_qte",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT variant, m,
               row_number() OVER (
                   PARTITION BY variant ORDER BY m, user_id
               ) AS rn,
               count(*) OVER (PARTITION BY variant) AS n
        FROM per_user
    ),
    p AS (
        SELECT unnest(ARRAY{list(_QTE_PCTS)}) AS pct
    ),
    tgt AS (
        SELECT r.variant, p.pct, max(r.n) AS n,
               1 + (p.pct * (max(r.n) - 1)) // 100 AS lo,
               (p.pct * (max(r.n) - 1)) % 100 AS frac_pct
        FROM r, p GROUP BY 1, 2
    ),
    v AS (
        SELECT t.variant, t.pct, t.frac_pct,
               max(CASE WHEN r.rn = t.lo THEN r.m END) AS m_lo,
               coalesce(max(CASE WHEN r.rn = t.lo + 1 THEN r.m END),
                        max(CASE WHEN r.rn = t.lo THEN r.m END)) AS m_hi
        FROM r JOIN tgt t
          ON r.variant = t.variant AND r.rn BETWEEN t.lo AND t.lo + 1
        GROUP BY 1, 2, 3
    ),
    q AS (
        SELECT variant, pct,
               m_lo + CAST(frac_pct AS DOUBLE) / 100 * (m_hi - m_lo) AS qv
        FROM v
    )
    SELECT a.pct AS pct,
           a.qv AS control_q,
           b.qv AS treated_q,
           b.qv - a.qv AS qte_cents
    FROM q a JOIN q b ON a.pct = b.pct AND a.variant = 0 AND b.variant = 1
    ORDER BY pct
    """,
)
def q_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the treated-minus-control gap at
    several quantiles of the per-user outcome — the distributional A/B
    readout (a mean lift of +2% can hide a p25 loss and a p90 gain;
    heavy-tailed revenue metrics routinely do). Exact interpolated
    per-variant quantiles via q_group_percentile's integer-target
    machinery (integer percent grid keeps lo/frac exact; bracketing
    order statistics from variant-partitioned ranks), then ONE
    conditional aggregation over the ≤2·|pcts|-row quantile frame
    aligns control vs treated (a filtered self-join would re-derive
    the pipeline per side). All windows variant-bounded; the pct
    grid broadcasts; the ranked frame is persisted (it feeds both the
    target grid and the bracketing filter)."""
    per_user = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", (F.col("user_id") % 2).alias("variant"))
        .agg(F.sum(cents("value")).cast("bigint").alias("m"))
    )
    from frauddetection_spark.operators.caching import track_cache

    # Persist the ranked frame: it feeds both the per-variant target
    # grid and the bracketing filter — unpersisted, the events scan +
    # rollup + variant windows replay per reference.
    r = track_cache(
        per_user.select(
            "variant",
            "m",
            F.row_number()
            .over(Window.partitionBy("variant").orderBy("m", "user_id"))
            .alias("rn"),
            F.count("*").over(Window.partitionBy("variant")).alias("n"),
        ).persist()
    )
    pcts = spark.createDataFrame(
        [(p,) for p in _QTE_PCTS], "pct int"
    )
    tgt = (
        r.groupBy("variant")
        .agg(F.max("n").alias("n"))
        .crossJoin(F.broadcast(pcts))
        .select(
            "variant",
            "pct",
            (1 + F.expr("(pct * (n - 1)) div 100")).alias("lo"),
            F.expr("(pct * (n - 1)) % 100").alias("frac_pct"),
        )
    )
    v = (
        r.join(F.broadcast(tgt), "variant")
        .filter(F.col("rn").between(F.col("lo"), F.col("lo") + 1))
        .groupBy("variant", "pct", "frac_pct")
        .agg(
            F.max(F.when(F.col("rn") == F.col("lo"), F.col("m"))).alias(
                "m_lo"
            ),
            F.coalesce(
                F.max(F.when(F.col("rn") == F.col("lo") + 1, F.col("m"))),
                F.max(F.when(F.col("rn") == F.col("lo"), F.col("m"))),
            ).alias("m_hi"),
        )
    )
    q = v.select(
        "variant",
        "pct",
        (
            F.col("m_lo")
            + F.col("frac_pct").cast("double") / 100
            * (F.col("m_hi") - F.col("m_lo"))
        ).alias("qv"),
    )
    # Align variants with ONE conditional aggregation over the ≤
    # 2·|pcts|-row quantile frame instead of a filtered self-join,
    # which would re-derive the whole pipeline per side.
    # PRESENCE-based filtering, not value-based: the
    # oracle's inner self-join drops a pct only when a variant has NO
    # row there, but would EMIT a row whose qv is NULL — an isNotNull
    # filter on the pivoted values conflates the two and would mask a
    # bracketing bug (qv should be non-null whenever the variant is
    # present: lo = 1 + (pct·(n−1)) div 100 ∈ [1, n] always brackets)
    # as a silently missing row. Count each side's rows and replicate
    # the join semantics exactly.
    return (
        q.groupBy("pct")
        .agg(
            F.max(F.when(F.col("variant") == 0, F.col("qv"))).alias(
                "control_q"
            ),
            F.max(F.when(F.col("variant") == 1, F.col("qv"))).alias(
                "treated_q"
            ),
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias(
                "_has_c"
            ),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias(
                "_has_t"
            ),
        )
        .filter((F.col("_has_c") > 0) & (F.col("_has_t") > 0))
        .select(
            "pct",
            "control_q",
            "treated_q",
            (F.col("treated_q") - F.col("control_q")).alias("qte_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Wilson score interval: uncertainty-aware proportions
# ---------------------------------------------------------------------------


@register(
    "q_wilson_ci",
    oracle="""
    WITH agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) >= 50000
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY 1
    )
    SELECT event_type, n, k,
           CAST(k AS DOUBLE) / n AS p_hat,
           (CAST(k AS DOUBLE) / n + 1.9208 / n
            - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                          * (1 - CAST(k AS DOUBLE) / n) / n
                          + 0.9604 / (CAST(n AS DOUBLE) * n * n) * n))
               / (1 + 3.8416 / n) AS wilson_lo,
           (CAST(k AS DOUBLE) / n + 1.9208 / n
            + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                          * (1 - CAST(k AS DOUBLE) / n) / n
                          + 0.9604 / (CAST(n AS DOUBLE) * n * n) * n))
               / (1 + 3.8416 / n) AS wilson_hi
    FROM agg ORDER BY event_type
    """,
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (95%) for the high-value-event rate per
    event type — the proportion CI that behaves at the boundaries
    where the naive Wald interval fails (Wald collapses to width zero
    at p̂ ∈ {0,1} and goes negative near them; Wilson stays inside
    [0,1] and is the standard for conversion dashboards and ranked
    'best segment' lists — ranking segments by p̂ alone promotes
    10/10 over 950/1000). All inputs are two exact ints (k, n) per
    group; z = 1.96 enters only through the precomputed constants
    1.9208 = z²/2, 3.8416 = z², 0.9604 = z²/4 so both twins evaluate
    the IDENTICAL double expression — one sqrt (IEEE-exact), no
    distribution functions at query time. One partial-aggregated
    groupBy; the CI math runs on ≤|types| rows."""
    e = t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(cents("value") >= 50000, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    half = 1.96 * F.sqrt(
        p * (1 - p) / n
        + F.lit(0.9604) / (n.cast("double") * n * n) * n
    )
    denom = 1 + F.lit(3.8416) / n
    center = p + F.lit(1.9208) / n
    return agg.select(
        "event_type",
        "n",
        "k",
        p.alias("p_hat"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Event study: outcome profile aligned on each user's first conversion
# ---------------------------------------------------------------------------

_ES_WINDOW = 7  # days each side of the alignment event


@register(
    "q_event_study",
    oracle=f"""
    WITH first_conv AS (
        SELECT user_id,
               min(epoch_us(ts) // 86400000000) AS day0
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    daily AS (
        SELECT user_id,
               epoch_us(ts) // 86400000000 AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    aligned AS (
        SELECT d.day - f.day0 AS rel_day, d.cents
        FROM daily d JOIN first_conv f USING (user_id)
        WHERE d.day BETWEEN f.day0 - {_ES_WINDOW} AND f.day0 + {_ES_WINDOW}
    )
    SELECT CAST(rel_day AS BIGINT) AS rel_day,
           CAST(count(*) AS BIGINT) AS n_user_days,
           CAST(sum(cents) AS BIGINT) AS cents_total,
           CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents
    FROM aligned GROUP BY 1 ORDER BY rel_day
    """,
)
def q_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study alignment: every user's daily spend re-indexed to
    RELATIVE days around their own first purchase (day 0), averaged
    per offset over ±7 days — the leads-and-lags profile behind 'what
    changes when a user converts', and the diagnostic that separates
    a causal jump (flat pre-trend, step at 0) from selection (drift
    already in the leads). q_did compresses this to a 2×2; the event
    study is the full picture per offset, each user supplying its own
    alignment (calendar-time aggregation would smear users converting
    on different dates into nothing). Day indices are pure integer
    epoch division; one aggregate to daily grain, one broadcast join
    of the per-user anchor, one final groupBy on the ±7 offset
    domain."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    ).agg(F.sum(cents("value")).alias("cents"))
    first_conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.expr("min(unix_micros(ts) div 86400000000)").alias("day0"))
    )
    aligned = daily.join(F.broadcast(first_conv), "user_id").filter(
        (F.col("day") >= F.col("day0") - _ES_WINDOW)
        & (F.col("day") <= F.col("day0") + _ES_WINDOW)
    )
    return (
        aligned.groupBy((F.col("day") - F.col("day0")).alias("rel_day"))
        .agg(
            F.count("*").alias("n_user_days"),
            F.sum("cents").cast("bigint").alias("cents_total"),
        )
        .select(
            "rel_day",
            "n_user_days",
            "cents_total",
            (F.col("cents_total").cast("double") / F.col("n_user_days")).alias(
                "avg_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------


@register(
    "q_backtest_snaive",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    joined AS (
        SELECT a.event_type, a.day, a.cents AS actual, f.cents AS forecast
        FROM daily a JOIN daily f
          ON f.event_type = a.event_type AND f.day = a.day - 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(actual - forecast)) AS BIGINT) AS mae_cents_total,
           CAST(sum(abs(actual - forecast)) AS DOUBLE) / count(*)
               AS mae_cents,
           CAST(sum(abs(actual - forecast)) AS DOUBLE) / sum(actual)
               AS wape
    FROM joined GROUP BY 1 ORDER BY event_type
    """,
)
def q_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue
    per event type as the same weekday one week earlier, score MAE
    and WAPE against actuals — the baseline every production forecast
    must beat before it ships (a model that loses to seasonal-naive
    is worse than no model, and most drift incidents are caught by
    exactly this backtest running daily). WAPE (Σ|e|/Σactual), not
    MAPE: MAPE divides per-row by near-zero actuals and explodes on
    quiet days, the classic forecast-metric bug. The forecast join is
    a self-join on (type, day−7) — one shuffle on the daily grain —
    and errors are exact integer cents with two final divisions."""
    from frauddetection_spark.operators.caching import track_cache

    e = t(spark, sf_dir, "events")
    # (type x day)-sized; both sides of the day-shift self-join read it
    # — persisted so the events aggregate runs once
    daily = track_cache(
        e.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .agg(F.sum(cents("value")).alias("cents"))
        .persist()
    )
    f = daily.select(
        "event_type",
        (F.col("day") + 7).alias("day"),
        F.col("cents").alias("forecast"),
    )
    j = daily.withColumnRenamed("cents", "actual").join(
        f, ["event_type", "day"]
    )
    err = F.abs(F.col("actual") - F.col("forecast"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(err).cast("bigint").alias("mae_cents_total"),
            F.sum("actual").alias("_sa"),
        )
        .select(
            "event_type",
            "n_days",
            "mae_cents_total",
            (F.col("mae_cents_total").cast("double") / F.col("n_days")).alias(
                "mae_cents"
            ),
            (F.col("mae_cents_total").cast("double") / F.col("_sa")).alias(
                "wape"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes rate shrinkage (beta-binomial, method-of-moments prior)
# ---------------------------------------------------------------------------


@register(
    "q_eb_shrinkage",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    rq AS (
        SELECT user_id, n, k, (k * 1000000000) // n AS r_q9 FROM g
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(r_q9) AS BIGINT) AS s_r,
               CAST(sum(CAST(r_q9 AS HUGEINT) * r_q9) AS HUGEINT) AS s_r2
        FROM rq
    ),
    prior AS (
        SELECT
          (CAST(s_r AS DOUBLE) / n_groups / 1e9)
            * ((CAST(s_r AS DOUBLE) / n_groups / 1e9)
               * (1 - CAST(s_r AS DOUBLE) / n_groups / 1e9)
               / ((CAST(s_r2 AS DOUBLE) / 1e18
                   - CAST(s_r AS DOUBLE) * s_r / n_groups / 1e18)
                  / (n_groups - 1)) - 1) AS alpha,
          (1 - CAST(s_r AS DOUBLE) / n_groups / 1e9)
            * ((CAST(s_r AS DOUBLE) / n_groups / 1e9)
               * (1 - CAST(s_r AS DOUBLE) / n_groups / 1e9)
               / ((CAST(s_r2 AS DOUBLE) / 1e18
                   - CAST(s_r AS DOUBLE) * s_r / n_groups / 1e18)
                  / (n_groups - 1)) - 1) AS beta
        FROM mom
    )
    SELECT g.user_id, g.n, g.k,
           CAST(g.k AS DOUBLE) / g.n AS raw_rate,
           (g.k + p.alpha) / (g.n + p.alpha + p.beta) AS eb_rate
    FROM g CROSS JOIN prior p
    ORDER BY user_id
    """,
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage: each user's error rate pulled
    toward the population prior in proportion to how little evidence
    the user carries — the beta-binomial smoothing every fraud/abuse
    dashboard needs before ranking entities by rate (raw rates rank a
    1/1 user above a 94/100 user; EB ranks by what the evidence
    supports — the same machinery as q_wilson_ci but producing a
    POINT estimate that composes into downstream features, and the
    baseball-batting-average example of Efron & Morris). The prior
    (α, β) comes from method-of-moments on the observed rate
    distribution — mean and variance over per-user rates, five
    sufficient statistics in ONE pass, no iterative fitting — and the
    shrunk rate is (k+α)/(n+α+β). Rate moments are summation-order
    hazards (a float Σ(k/n) differs between 8 and 32 partitions in
    the last ulp, and α/β amplify it into every output row), so each
    rate quantizes to the exact integer k·1e9 div n BEFORE the
    cross-row sums — s_r as int64, s_r² as decimal/HUGEINT — making
    α and β bit-identical expressions of three exact integers;
    shrinkage toward μ is pinned as a property test. Scale: one
    groupBy + one 1-row broadcast."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    r = F.col("k").cast("double") / F.col("n")
    from frauddetection_spark.operators.caching import track_cache

    # user-sized; feeds the moment aggregate AND the output — persisted
    # so the events aggregate runs once (zero ReusedExchange)
    rq = track_cache(
        g.withColumn("r_q9", F.expr("(k * 1000000000) div n")).persist()
    )
    mom = rq.agg(
        F.count("*").alias("n_groups"),
        F.sum("r_q9").cast("bigint").alias("s_r"),
        F.sum(
            F.col("r_q9").cast("decimal(38,0)") * F.col("r_q9")
        ).alias("s_r2"),
    )
    mu = F.col("s_r").cast("double") / F.col("n_groups") / F.lit(1e9)
    var = (
        F.col("s_r2").cast("double") / F.lit(1e18)
        - F.col("s_r").cast("double") * F.col("s_r") / F.col("n_groups") / F.lit(1e18)
    ) / (F.col("n_groups") - 1)
    scale = mu * (1 - mu) / var - 1
    prior = mom.select(
        (mu * scale).alias("alpha"), ((1 - mu) * scale).alias("beta")
    )
    return (
        g.crossJoin(F.broadcast(prior))
        .select(
            "user_id",
            "n",
            "k",
            r.alias("raw_rate"),
            ((F.col("k") + F.col("alpha")) / (F.col("n") + F.col("alpha") + F.col("beta"))).alias(
                "eb_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit
# ---------------------------------------------------------------------------

_KANON_K = 5


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH qi AS (
        SELECT c_nationkey AS nation,
               c_mktsegment AS segment,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
               c_custkey % 7 AS sensitive
        FROM customer
    ),
    groups AS (
        SELECT nation, segment, bal_band,
               CAST(count(*) AS BIGINT) AS group_size,
               CAST(count(DISTINCT sensitive) AS BIGINT) AS l_diversity
        FROM qi GROUP BY 1, 2, 3
    )
    SELECT nation, segment, bal_band, group_size, l_diversity,
           CAST(group_size < {_KANON_K} AS INTEGER) AS violates_k
    FROM groups ORDER BY nation, segment, bal_band
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifiers — the
    privacy gate a dataset must pass before leaving the trust
    boundary (training-data releases included): every (nation,
    segment, balance-band) equivalence class is measured for size
    (k-anonymity: a class smaller than k=5 re-identifies its members
    by linkage) and for distinct sensitive values (l-diversity: a
    large class whose sensitive attribute is CONSTANT still leaks it
    — k-anonymity alone misses homogeneity attacks). Output is the
    full class table with violation flags, so the caller can suppress
    or generalize exactly the failing cells; the audit itself is one
    partial-aggregated groupBy over the quasi-identifier key — linear
    at any scale, and the class table is the thing you'd persist
    alongside a released dataset as its privacy certificate. Balance
    band is exact integer cents//1e5; the stand-in sensitive
    attribute is a deterministic custkey residue."""
    c = t(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr("cast(round(c_acctbal * 100) as bigint) div 100000").alias(
            "bal_band"
        ),
        (F.col("c_custkey") % 7).alias("sensitive"),
    )
    return (
        qi.groupBy("nation", "segment", "bal_band")
        .agg(
            F.count("*").alias("group_size"),
            F.count_distinct("sensitive").alias("l_diversity"),
        )
        .select(
            "nation",
            "segment",
            "bal_band",
            "group_size",
            "l_diversity",
            (F.col("group_size") < _KANON_K).cast("int").alias("violates_k"),
        )
    )


# ---------------------------------------------------------------------------
# Instrumental-variables (Wald) estimate
# ---------------------------------------------------------------------------


@register(
    "q_iv_wald",
    oracle="""
    WITH u AS (
        SELECT user_id,
               user_id % 2 AS z,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z * x) AS BIGINT) AS szx,
               CAST(sum(z * y) AS BIGINT) AS szy
        FROM u
    )
    SELECT n, sz,
           CAST(n * szy - sz * sy AS BIGINT) AS cov_zy_num,
           CAST(n * szx - sz * sx AS BIGINT) AS cov_zx_num,
           CAST(n * szy - sz * sy AS DOUBLE)
               / nullif(CAST(n * sz - sz * sz AS DOUBLE), 0) AS itt,
           CAST(n * szx - sz * sx AS DOUBLE)
               / nullif(CAST(n * sz - sz * sz AS DOUBLE), 0) AS first_stage,
           CAST(n * szy - sz * sy AS DOUBLE)
               / nullif(CAST(n * szx - sz * sx AS DOUBLE), 0) AS beta_iv
    FROM m
    """,
)
def q_iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables (Wald) estimate — the quasi-experimental
    tool for when treatment itself is confounded but an as-if-random
    ENCOURAGEMENT exists (the classic: you can't randomize signups,
    you can randomize who gets the nudge): β_IV = Cov(z,y)/Cov(z,x)
    scales the intent-to-treat effect by the first stage, recovering
    the per-unit-of-treatment effect among compliers. Completes the
    causal toolkit (q_did parallel trends, q_cuped variance
    reduction, q_event_study dynamics, q_qte distributional, IV
    endogeneity). The instrument here is the user-id parity — a
    deterministic stand-in for a randomized encouragement arm.
    Exactness: five sufficient statistics as exact int64 in ONE pass
    (with binary z, z·x and z·y stay in int64 at any realistic
    per-user magnitude); both covariance numerators n·Σzw − Σz·Σw
    are exact integers EMITTED for the hash, and the three final
    ratios (ITT, first stage, β) are single divisions of those exact
    ints, denominator-guarded. ALWAYS read β next to first_stage —
    a weak first stage makes IV explode, which is visible here as a
    small cov_zx_num, the number the operator refuses to hide."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(cents("value")).alias("y"),
    ).select("*", (F.col("user_id") % 2).alias("z"))
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z") * F.col("x")).cast("bigint").alias("szx"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
    )
    n, sz, sx, sy = F.col("n"), F.col("sz"), F.col("sx"), F.col("sy")
    cov_zy = n * F.col("szy") - sz * sy
    cov_zx = n * F.col("szx") - sz * sx
    var_z = n * sz - sz * sz
    nz = lambda c: F.nullif(c, F.lit(0.0))  # noqa: E731
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        "sz",
        cov_zy.cast("bigint").alias("cov_zy_num"),
        cov_zx.cast("bigint").alias("cov_zx_num"),
        (cov_zy.cast("double") / nz(var_z.cast("double"))).alias("itt"),
        (cov_zx.cast("double") / nz(var_z.cast("double"))).alias("first_stage"),
        (cov_zy.cast("double") / nz(cov_zx.cast("double"))).alias("beta_iv"),
    )


# ---------------------------------------------------------------------------
# Item-based collaborative filtering: cosine neighborhoods
# ---------------------------------------------------------------------------


@register(
    "q_item_cf",
    oracle="""
    WITH ui AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), deg AS (
        SELECT u FROM (SELECT u, count(*) AS cnt FROM ui GROUP BY 1)
        WHERE cnt <= 100
    ), uif AS (SELECT ui.u, ui.p FROM ui JOIN deg USING (u)),
    marg AS (SELECT p, CAST(count(*) AS BIGINT) AS n_users
             FROM uif GROUP BY 1),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_uv
        FROM uif a JOIN uif b ON a.u = b.u AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
        SELECT p1 AS item, p2 AS neighbor, n_uv FROM pairs
        UNION ALL
        SELECT p2, p1, n_uv FROM pairs
    ), scored AS (
        SELECT s.item, s.neighbor, s.n_uv,
               round(s.n_uv / sqrt(CAST(ma.n_users AS DOUBLE)
                                   * mb.n_users), 6) AS cosine
        FROM sym s
        JOIN marg ma ON s.item = ma.p
        JOIN marg mb ON s.neighbor = mb.p
    )
    SELECT item, rank, neighbor, n_uv, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY item
            ORDER BY cosine DESC, n_uv DESC, neighbor) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY item, rank
    """,
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering (the classic item-item
    neighborhood model): top-5 neighbors per part by binary cosine
    n_uv / sqrt(n_u · n_v) over the USER-item incidence — who-bought-
    this-also-bought, at customer grain where q_cooccurrence is lift
    at order-basket grain. The pair space is Σ deg(u)² over users, so
    the standard CF scale guard applies and is explicit: users with
    > 100 distinct items are dropped before pair generation (whale
    pruning — at 100 TB a single crawler account otherwise contributes
    millions of pairs; the cap bounds per-user work by a constant).

    Plan shape (a self-join of the incidence on the user would shuffle
    it twice and rebuild the join DAG on both branches; a basket
    persist plus a SECOND explode + shuffle for the item marginals
    would pay twice for the baskets, and a HOF pair-expansion lambda
    nest costs seconds of first-run codegen compile): ONE
    groupBy(user) collect_set builds each user's ≤100-item sorted
    basket (dedup and whale-cap in the same shuffle — no separate
    distinct + degree pass); posexplode + explode(slice from i+1) then
    emits every within-basket pair INCLUDING the diagonal (x, x), so a
    single (p1, p2) count shuffle produces the co-occurrence counts
    (off-diagonal) and the marginals n_users (diagonal) at once —
    baskets are consumed in one pass, and only the small pair-count
    table is cached for the two marginal probes.
    Marginals join ONCE onto the unordered (p1<p2) pairs — cosine is
    computed once per pair and the symmetric (item, neighbor) view is
    derived AFTER scoring, so the join probes half the rows of the
    symmetrized alternative. Marginals are item-catalog-sized so AQE
    broadcasts the joins at any realistic catalog (not forced: past
    ~10⁸ items the sort-merge fallback is the right plan). The final
    top-5 stays a row_number window partitioned by item rather than a
    per-item collect_list top-k: measured equal here, but the window
    sort SPILLS, while collect_list materializes every candidate
    neighbor of a hub item in one aggregation buffer — unbounded per
    key at 100 TB. Cosine is a single IEEE-identical expression
    rounded to 6dp, ranks totally ordered by (cosine, n_uv, neighbor)."""
    from frauddetection_spark.operators.caching import track_cache

    ui = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_partkey").alias("p"))
        .join(
            t(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.col("o_custkey").alias("u"),
            ),
            "l_orderkey",
        )
        .select("u", "p")
    )
    baskets = (
        ui.groupBy("u")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .filter(F.size("ps") <= 100)
        .select("ps")
    )
    # Ordered pairs (p1 ≤ p2 for free: baskets are sorted) without a
    # self-join: element i pairs with itself AND every later element of
    # its own basket — two stacked Generate operators (posexplode →
    # explode of the 1-based slice at i+1). Including the DIAGONAL is
    # the trick: (x, x) occurs exactly once per basket containing
    # x, so ONE groupBy(p1, p2) shuffle yields both the co-occurrence
    # counts (off-diagonal) and the item marginals n_users (diagonal),
    # with no second explode+shuffle over a persisted basket table
    # just for the marginals. Baskets are consumed once (no persist);
    # the small pair-count table (≈ catalog-sized + surviving pairs)
    # is what's cached and probed twice by the marginal joins. Extra
    # shuffle volume for the diagonal is Σ deg rows — noise next to
    # Σ C(deg,2).
    # Guide §5 caching: persist only the rows the two downstream
    # readers actually touch — the diagonal (marginals) and the
    # off-diagonal survivors of the HAVING n_uv >= 2 cut. At sf0.1 the
    # unfiltered aggregate is 12.7M pairs of which 11.8M are
    # off-diagonal singletons no reader ever consumes; caching them
    # cost a 14x larger InMemoryRelation write for nothing. The filter
    # commutes with both readers (marg reads only p1 == p2 rows, pairs
    # reads only n_uv >= 2 ∧ p1 != p2 rows), so results are identical.
    counts = track_cache(
        baskets.select(F.posexplode("ps").alias("i", "p1"), "ps")
        .select(
            "p1",
            F.explode(
                F.slice("ps", F.col("i") + F.lit(1), F.size("ps"))
            ).alias("p2"),
        )
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("bigint").alias("n_uv"))
        .filter((F.col("p1") == F.col("p2")) | (F.col("n_uv") >= 2))
        .persist()
    )
    marg = counts.filter(F.col("p1") == F.col("p2")).select(
        F.col("p1").alias("p"), F.col("n_uv").alias("n_users")
    )
    pairs = counts.filter(
        (F.col("p1") != F.col("p2")) & (F.col("n_uv") >= 2)
    )
    scored_pairs = (
        pairs.join(
            marg.select(F.col("p").alias("p1"), F.col("n_users").alias("na")),
            "p1",
        )
        .join(
            marg.select(F.col("p").alias("p2"), F.col("n_users").alias("nb")),
            "p2",
        )
        .select(
            "p1",
            "p2",
            "n_uv",
            F.round(
                F.col("n_uv")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
    )
    scored = scored_pairs.select(
        F.col("p1").alias("item"), F.col("p2").alias("neighbor"),
        "n_uv", "cosine",
    ).unionAll(
        scored_pairs.select(
            F.col("p2").alias("item"), F.col("p1").alias("neighbor"),
            "n_uv", "cosine",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("n_uv").desc(), "neighbor"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "item", F.col("rank").cast("bigint").alias("rank"),
            "neighbor", "n_uv", "cosine",
        )
    )
