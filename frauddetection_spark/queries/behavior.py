"""Sequential-behavior and concentration analytics: event-path mining,
Markov transition matrices, Lorenz/Gini concentration, graph degree
assortativity, and the correlated-LATERAL SQL surface.

Same exact-arithmetic oracle discipline as queries/fraud.py: integer
counts/cents end-to-end, doubles only through expressions written
identically in both twins, decimal(38,0)/HUGEINT where second moments
could overflow int64 at 100-TB cardinalities.

Reference parity: the reference models per-user behavior as bag-of-
features (src/utils.py:245-261) and graph structure as degree tables
(data_process.py:131-144); these queries add the ORDER-sensitive
sequence surface (paths, transitions) and the distributional summaries
(Gini, assortativity) a behavioral-risk pipeline reports on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.operators.graph import (
    SQL_EDGES,
    edges_from_events,
    simple_graph,
    sql_simple_graph,
)
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import SQL_WEEK, cents, t, week_str

PATH_STEPS = 3


# ---------------------------------------------------------------------------
# event-path mining (first-K funnel paths)
# ---------------------------------------------------------------------------


@register(
    "q_funnel_paths",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM o WHERE rn <= {PATH_STEPS}
        GROUP BY user_id HAVING count(*) = {PATH_STEPS}
    )
    SELECT path, count(*) AS n_users
    FROM p GROUP BY 1 ORDER BY path
    """,
)
def q_funnel_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of each user's FIRST {K} event types as an ordered
    path string ("click>view>purchase") — entry-path mining, the
    order-sensitive sibling of the funnel. The per-user sequence is
    assembled from a sorted collect (sort_array over (rn, type)
    structs — deterministic, unlike bare collect_list), users with
    fewer than K events are excluded in both twins. Scale: the window
    ranks only rows with rn ≤ K surviving to the aggregate; one
    shuffle on user_id, one on path."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= PATH_STEPS)
    p = (
        o.groupBy("user_id")
        .agg(
            F.count("*").alias("k"),
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
            ).alias("path"),
        )
        .filter(F.col("k") == PATH_STEPS)
    )
    return p.groupBy("path").agg(F.count("*").alias("n_users"))


# ---------------------------------------------------------------------------
# Markov transition matrix over event types
# ---------------------------------------------------------------------------


@register(
    "q_markov_transitions",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               count(*) AS n
        FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY from_type) AS prob
    FROM c ORDER BY from_type, to_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types within each
    user's timeline — the behavioral-sequence model behind next-action
    scoring. Transition counts are exact; each row's probability is one
    int division against its from-state marginal (a window over the
    |types|² matrix, not the events). One window shuffle on user_id,
    one aggregate to the tiny matrix."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = (
        o.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        ).agg(F.count("*").alias("n"))
    )
    return (
        c.select(
            "from_type",
            "to_type",
            "n",
            (
                F.col("n").cast("double")
                / F.sum("n").over(Window.partitionBy("from_type"))
            ).alias("prob"),
        )
    )


# ---------------------------------------------------------------------------
# Lorenz / Gini spend concentration
# ---------------------------------------------------------------------------


@register(
    "q_lorenz_gini",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM s
    )
    SELECT count(*) AS n_users,
           CAST(sum(x) AS BIGINT) AS total_cents,
           2.0 * CAST(sum(CAST(i AS HUGEINT) * x) AS DOUBLE)
               / (count(*) * CAST(sum(x) AS DOUBLE))
             - CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini
    FROM r
    """,
)
def q_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of spend concentration across users — "do 1%
    of accounts carry 90% of volume", the distributional summary risk
    teams watch. Closed form over ranked totals: G = 2·Σ i·xᵢ/(n·Σx)
    − (n+1)/n with xᵢ ascending. Ranks come from the two-phase
    prefix_rank (never a global single-reducer window); Σ i·x
    accumulates in decimal(38,0)/HUGEINT (rank × cents overflows int64
    at ~10⁹ users). The three final float ops are written identically
    in both twins."""
    from frauddetection_spark.operators.rank import prefix_rank

    e = t(spark, sf_dir, "events")
    s = e.groupBy("user_id").agg(F.sum(cents("value")).alias("x"))
    r = prefix_rank(s, [F.col("x").asc(), F.col("user_id").asc()])
    return r.agg(
        F.count("*").alias("n_users"),
        F.sum("x").cast("bigint").alias("total_cents"),
        (
            F.lit(2.0)
            * F.sum(F.col("rn").cast("decimal(38,0)") * F.col("x")).cast(
                "double"
            )
            / (F.count("*") * F.sum("x").cast("double"))
            - (F.count("*") + 1).cast("double") / F.count("*")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# graph degree assortativity
# ---------------------------------------------------------------------------


@register(
    "q_assortativity",
    oracle=f"""
    WITH dir AS ({SQL_EDGES}),
    und AS ({sql_simple_graph("dir")}),
    deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY 1),
    xy AS (
        SELECT da.d AS x, db.d AS y
        FROM und e
        JOIN deg da ON e.src = da.node
        JOIN deg db ON e.dst = db.node
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy
        FROM xy
    )
    SELECT n AS n_directed_edges,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
               AS assortativity
    FROM s
    """,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the contact graph — do hubs connect to
    hubs (r>0, social) or to leaves (r<0, star/fraud-hub topology)?
    Pearson correlation of endpoint degrees over the mirrored edge
    list (each undirected edge contributes both orientations — the
    standard estimator, and symmetric by construction). Exact-int
    sufficient statistics in decimal/HUGEINT; same bit-equal corr
    expression as q_corr_pairs. Scale: degrees are one aggregate,
    endpoint join is two key-partitioned joins on the edge list."""
    # und feeds the degree table AND the endpoint join, deg both
    # endpoint probes — persist or the edge derivation replays per
    # reference (measured: 6 parquet scans without the persists)
    und = track_cache(
        simple_graph(edges_from_events(t(spark, sf_dir, "events"))).persist()
    )
    deg = track_cache(
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d"))
        .persist()
    )
    xy = (
        und.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "x")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed("d", "y"),
            "dst",
        )
        .select("x", "y")
    )
    dec = "decimal(38,0)"
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    num = (
        F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    ).cast("double")
    denx = (
        F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    ).cast("double")
    deny = (
        F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    ).cast("double")
    return s.select(
        F.col("n").alias("n_directed_edges"),
        (num / F.sqrt(denx * deny)).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# correlated LATERAL subquery (SQL surface)
# ---------------------------------------------------------------------------


@register(
    "q_lateral_topk",
    oracle="""
    SELECT u.user_id, s.event_id, s.amt_cents
    FROM (SELECT DISTINCT user_id FROM events) u,
    LATERAL (
        SELECT event_id,
               CAST(round(value * 100) AS BIGINT) AS amt_cents
        FROM events e
        WHERE e.user_id = u.user_id
        ORDER BY amt_cents DESC, event_id
        LIMIT 2
    ) s
    ORDER BY u.user_id, s.event_id
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery surface: per-user top-2 amounts
    stated as "for each user, run this ordered/limited subquery" — the
    SQL shape users port from warehouses. Spark's optimizer decorrelates
    the lateral ORDER BY/LIMIT into a joined window plan (no per-user
    re-execution), which is exactly the rewrite a 100-TB engine must
    do; the query pins that the surface EXISTS and that both engines'
    decorrelation agrees. The twin's SQL text runs on Spark with the
    events frame passed as a ``spark.sql`` argument, which leaves the
    session's ``events`` view alone."""
    return spark.sql(
        """
        SELECT u.user_id, s.event_id, s.amt_cents
        FROM (SELECT DISTINCT user_id FROM {events}) u,
        LATERAL (
            SELECT event_id,
                   CAST(round(value * 100) AS BIGINT) AS amt_cents
            FROM {events} e
            WHERE e.user_id = u.user_id
            ORDER BY amt_cents DESC, event_id
            LIMIT 2
        ) s
        """,
        events=t(spark, sf_dir, "events"),
    )


# ---------------------------------------------------------------------------
# run-length encoding of event-type streaks (gaps-and-islands RLE)
# ---------------------------------------------------------------------------


@register(
    "q_rle_islands",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn_all,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS rn_type
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type, rn_all - rn_type AS grp,
               count(*) AS run_len
        FROM o GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(run_len AS BIGINT) AS run_len,
           count(*) AS n_runs
    FROM runs GROUP BY 1, 2 ORDER BY event_type, run_len
    """,
)
def q_rle_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of consecutive same-event-type streak lengths per
    user — the run-length (gaps-and-islands) sibling of time-gap
    sessionization: a burst of 9 straight 'error' events is a signal
    the per-type COUNT can't see. Classic two-row_number island id
    (rn_all − rn_type is constant within a streak); both windows are
    user-partitioned (fully parallel), runs collapse in one aggregate
    and the streak-length histogram in a second tiny one."""
    e = t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    o = e.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "grp"
        ),
    )
    runs = o.groupBy("user_id", "event_type", "grp").agg(
        F.count("*").alias("run_len")
    )
    return (
        runs.groupBy("event_type", F.col("run_len").cast("bigint").alias("run_len"))
        .agg(F.count("*").alias("n_runs"))
    )


# ---------------------------------------------------------------------------
# exponential time-decay engagement score
# ---------------------------------------------------------------------------

# anchor: 2024-02-01T00:00:00Z in epoch microseconds (just past the
# testdata's final event); the 7-day decay time-constant is the
# 168-hour divisor in both twins
_DECAY_ANCHOR_US = 1_706_745_600_000_000
_DECAY_Q = 1_000_000  # 1e-6 fixed point for order-independent sums


@register(
    "q_decay_score",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS c,
               ({_DECAY_ANCHOR_US} - epoch_us(ts)) // 3600000000 AS age_h
        FROM events
    ),
    terms AS (
        SELECT user_id,
               CAST(round(c * exp(-CAST(age_h AS DOUBLE) / 168.0)
                          * {_DECAY_Q})
                    AS BIGINT) AS term_q
        FROM e
    )
    SELECT user_id, count(*) AS n_events,
           CAST(sum(term_q) AS DOUBLE) / {_DECAY_Q} / 100 AS decay_score
    FROM terms GROUP BY 1 ORDER BY user_id
    """,
)
def q_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed spend Σ xᵢ·e^(−ageᵢ/τ)
    (τ = 7 days, fixed anchor) — the recency-weighted engagement /
    risk-exposure score that replaces the brittle "sum over last N
    days" cutoff. Each row's decay factor is a pure function of its
    integer epoch-micros age (identical doubles in both engines);
    terms are quantized to 1e-6 fixed point BEFORE the per-user sum so
    the aggregate is order-independent exact-int (float Σ would drift
    with partitioning). Age is truncated to WHOLE HOURS first: exp()
    is libm-dependent (a 1-ulp Spark/DuckDB divergence near a rounding
    boundary flips the quantized int), so the transcendental's input
    domain is kept to ≤ a-few-hundred distinct values instead of one
    per row — the downstream multiply/round are correctly-rounded IEEE
    ops in both engines. Map-side math + one groupBy — one shuffle at
    any scale, and the anchor is a literal so the plan stays
    deterministic (no max(ts) pre-scan)."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        cents("value").alias("c"),
        F.expr(f"({_DECAY_ANCHOR_US} - unix_micros(ts)) div 3600000000").alias(
            "age_h"
        ),
    )
    terms = e.select(
        "user_id",
        F.round(
            F.col("c")
            * F.exp(-F.col("age_h").cast("double") / F.lit(168.0))
            * _DECAY_Q
        )
        .cast("bigint")
        .alias("term_q"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("term_q").cast("double") / _DECAY_Q / 100).alias(
                "decay_score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM control chart over daily volume
# ---------------------------------------------------------------------------


@register(
    "q_cusum_daily",
    oracle="""
    WITH d AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x_cents
        FROM events GROUP BY 1
    ),
    f AS (
        SELECT day, x_cents,
               count(*) OVER () AS n_days,
               sum(x_cents) OVER () AS total,
               sum(x_cents) OVER (ORDER BY day) AS prefix,
               row_number() OVER (ORDER BY day) AS i
        FROM d
    )
    SELECT day, x_cents,
           CAST(n_days * prefix - i * total AS BIGINT) AS cusum_scaled,
           CAST(n_days * prefix - i * total AS DOUBLE) / n_days / 100
               AS cusum
    FROM f ORDER BY day
    """,
)
def q_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart over daily spend: running Σ(xₐ − x̄) whose
    max |deviation| marks the most likely level-shift changepoint —
    the ops-monitoring primitive for "volume drifted mid-month".
    Integer-exact via the scaled identity Σᵢ(xₐ−T/N)·N = N·prefixᵢ −
    i·T (no float mean subtraction); the one division to the unscaled
    double happens per output row, identically in both twins. Scale:
    the raw scan collapses to ≤366 daily rows per year in ONE shuffle;
    all windows run over that bounded daily table (partitioned on a
    literal)."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(F.sum(cents("value")).cast("bigint").alias("x_cents"))
    )
    one = Window.partitionBy(F.lit(1))
    w_cum = one.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    f = d.select(
        "day",
        "x_cents",
        F.count("*").over(one).alias("n_days"),
        F.sum("x_cents").over(one).alias("total"),
        F.sum("x_cents").over(w_cum).alias("prefix"),
        F.row_number().over(one.orderBy("day")).alias("i"),
    )
    scaled = F.col("n_days") * F.col("prefix") - F.col("i") * F.col("total")
    return f.select(
        "day",
        "x_cents",
        scaled.cast("bigint").alias("cusum_scaled"),
        (scaled.cast("double") / F.col("n_days") / 100).alias("cusum"),
    )


# ---------------------------------------------------------------------------
# burstiness of inter-event times
# ---------------------------------------------------------------------------


@register(
    "q_burstiness",
    oracle="""
    WITH o AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    m AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(gap) AS BIGINT) AS s,
               sum(CAST(gap AS HUGEINT) * gap) AS ss
        FROM o WHERE gap IS NOT NULL
        GROUP BY 1 HAVING count(*) >= 2
    ),
    v AS (
        SELECT user_id, n,
               CAST(s AS DOUBLE) / n AS mean_us,
               sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (n - 1))) AS sd_us
        FROM m
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps, mean_us, sd_us,
           (sd_us - mean_us) / (sd_us + mean_us) AS burstiness
    FROM v ORDER BY user_id
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of each user's
    inter-event gaps: B → 1 for bursty attack-like timelines, ≈ 0 for
    Poisson arrivals, < 0 for regular/scripted ones — a strong
    bot-vs-human discriminator invisible to count/volume features.
    Gaps are exact epoch-microsecond ints from a user-partitioned lag;
    per-user moments accumulate in decimal(38,0)/HUGEINT (Σgap²
    overflows int64 beyond ~month-scale gaps), and μ, σ, B are the
    same three double expressions in both twins (sqrt is
    correctly-rounded IEEE, unlike exp/ln). One window + one
    aggregate — two shuffles on user_id at any scale."""
    dec = "decimal(38,0)"
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    o = t(spark, sf_dir, "events").select(
        "user_id", (us - F.lag(us).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    m = (
        o.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap").cast("bigint").alias("s"),
            F.sum(F.col("gap").cast(dec) * F.col("gap")).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    v = m.select(
        "user_id",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean_us"),
        F.sqrt(
            (F.col("n") * F.col("ss") - F.col("s").cast(dec) * F.col("s")).cast(
                "double"
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("sd_us"),
    )
    return v.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        "mean_us",
        "sd_us",
        (
            (F.col("sd_us") - F.col("mean_us"))
            / (F.col("sd_us") + F.col("mean_us"))
        ).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier time-to-conversion survival curve
# ---------------------------------------------------------------------------

_KM_Q = 1_000_000_000


@register(
    "q_survival_km",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               min(epoch_us(ts)) AS entry_us,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts)
                   END) AS conv_us,
               max(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1
    ),
    dur AS (
        SELECT (COALESCE(conv_us, last_us) - entry_us) // 86400000000
                   AS t,
               CAST(conv_us IS NOT NULL AS INTEGER) AS event
        FROM u
    ),
    day AS (
        SELECT t, sum(event) AS d, sum(1 - event) AS c
        FROM dur GROUP BY 1
    ),
    risk AS (
        SELECT t, CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
               CAST(sum(d + c) OVER ()
                    - COALESCE(sum(d + c) OVER (
                          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
        FROM day
    ),
    terms AS (
        SELECT t, d, c, n_at_risk,
               CASE WHEN d < n_at_risk
                    THEN CAST(round(ln(1 - CAST(d AS DOUBLE) / n_at_risk)
                                    * {_KM_Q}) AS BIGINT)
                    ELSE 0 END AS term_q,
               CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS died_out
        FROM risk
    )
    SELECT t, d, c, n_at_risk,
           CASE WHEN max(died_out) OVER (
                    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) = 1
                THEN 0.0
                ELSE exp(CAST(sum(term_q) OVER (
                         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS DOUBLE) / {_KM_Q})
           END AS survival
    FROM terms ORDER BY t
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase with
    right-censoring (users who never convert are censored at their
    last observed event) — the churn/conversion-lag estimator product
    analytics teams run daily, and the canonical example of an
    estimator naive "avg days to convert" gets WRONG under censoring.
    All risk-set arithmetic (d_t, c_t, n_t) is exact integers over the
    ≤-one-month day grain; the product Π(1−d/n) is carried in LOG
    space with per-day terms quantized to 1e-9 fixed point (the sum is
    then order-independent), and ln/exp touch only ≤31 distinct
    doubles each — the small-transcendental-domain discipline of
    q_decay_score. A day that exhausts the risk set pins survival to
    exactly 0 thereafter (no ln(0)). Scale: one groupBy(user), one
    groupBy(day); every window runs over the bounded day table."""
    us = F.unix_micros(F.col("ts"))
    u = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(us).alias("entry_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("conv_us"),
        F.max(us).alias("last_us"),
    )
    dur = u.select(
        F.expr(
            "(coalesce(conv_us, last_us) - entry_us) div 86400000000"
        ).alias("t"),
        F.col("conv_us").isNotNull().cast("int").alias("event"),
    )
    day = dur.groupBy("t").agg(
        F.sum("event").alias("d"),
        F.sum(F.lit(1) - F.col("event")).alias("c"),
    )
    one = Window.partitionBy(F.lit(1))
    w_excl = one.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = one.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = day.select(
        "t",
        F.col("d").cast("bigint").alias("d"),
        F.col("c").cast("bigint").alias("c"),
        (
            F.sum(F.col("d") + F.col("c")).over(one)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_excl), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    terms = risk.select(
        "t",
        "d",
        "c",
        "n_at_risk",
        F.when(
            F.col("d") < F.col("n_at_risk"),
            F.round(
                F.log(
                    F.lit(1)
                    - F.col("d").cast("double") / F.col("n_at_risk")
                )
                * _KM_Q
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("term_q"),
        F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0).alias(
            "died_out"
        ),
    )
    return terms.select(
        "t",
        "d",
        "c",
        "n_at_risk",
        F.when(F.max("died_out").over(w_incl) == 1, F.lit(0.0))
        .otherwise(
            F.exp(F.sum("term_q").over(w_incl).cast("double") / F.lit(_KM_Q))
        )
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# CEP: ordered 3-step pattern with a time bound
# ---------------------------------------------------------------------------

_CEP_WINDOW_US = 3_600_000_000  # pattern must complete within 1 hour


@register(
    "q_cep_3step",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_type, epoch_us(ts) AS us,
               lag(event_type, 1) OVER w AS t1,
               lag(event_type, 2) OVER w AS t2,
               lag(epoch_us(ts), 2) OVER w AS us2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, count(*) AS n_patterns
    FROM o
    WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
      AND us - us2 <= {_CEP_WINDOW_US}
    GROUP BY 1 ORDER BY user_id
    """,
)
def q_cep_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern: CONSECUTIVE view → click →
    purchase completing within one hour, counted per user — the
    MATCH_RECOGNIZE shape (PATTERN (V C P) WITHIN 1 HOUR) expressed as
    two lags and a time-delta predicate over the user-partitioned
    timeline. Strictly stronger than the funnel (order AND adjacency
    AND a deadline) and than the Markov matrix (three steps, bounded
    duration). Exact epoch-micros arithmetic; one window shuffle on
    user_id + one tiny aggregate at any scale."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    o = e.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag(us, 2).over(w).alias("us2"),
    )
    return (
        o.filter(
            (F.col("event_type") == "purchase")
            & (F.col("t1") == "click")
            & (F.col("t2") == "view")
            & (F.col("us") - F.col("us2") <= _CEP_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_patterns"))
    )


# ---------------------------------------------------------------------------
# hourly OHLC candles
# ---------------------------------------------------------------------------


@register(
    "q_ohlc_hourly",
    oracle="""
    WITH e AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               CAST(round(value * 100) AS BIGINT) AS c,
               epoch_us(ts) AS us, event_id,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT hour,
           CAST(max(CASE WHEN rn_a = 1 THEN c END) AS BIGINT) AS open,
           CAST(max(c) AS BIGINT) AS high,
           CAST(min(c) AS BIGINT) AS low,
           CAST(max(CASE WHEN rn_d = 1 THEN c END) AS BIGINT) AS close,
           count(*) AS n_events,
           CAST(sum(c) AS BIGINT) AS volume_cents
    FROM e GROUP BY hour ORDER BY hour
    """,
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles over event amounts — the market-data /
    metrics-rollup shape (first/last need ORDER, high/low/volume
    don't). First/last are deterministic conditional aggregates over
    tie-broken row_numbers (never first()/last(), which are
    partition-order-dependent in Spark); all five measures are exact
    int cents. Two hour-partitioned windows + one aggregate — the
    window key IS the group key, so all three collapse into the same
    hour-hash shuffle."""
    e = t(spark, sf_dir, "events")
    hour_key = F.date_trunc("hour", F.col("ts"))
    w_a = Window.partitionBy(hour_key).orderBy("ts", "event_id")
    w_d = Window.partitionBy(hour_key).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    o = e.select(
        F.date_format(hour_key, "yyyy-MM-dd HH:00").alias("hour"),
        cents("value").alias("c"),
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return (
        o.groupBy("hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("c")))
            .cast("bigint")
            .alias("open"),
            F.max("c").cast("bigint").alias("high"),
            F.min("c").cast("bigint").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("c")))
            .cast("bigint")
            .alias("close"),
            F.count("*").alias("n_events"),
            F.sum("c").cast("bigint").alias("volume_cents"),
        )
    )


# ---------------------------------------------------------------------------
# time-weighted average (TWAP / balance-over-time)
# ---------------------------------------------------------------------------


@register(
    "q_twap",
    oracle="""
    WITH o AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS c,
               epoch_us(ts) AS us,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_us
        FROM events
    ),
    w AS (
        SELECT user_id,
               sum(CAST(c AS HUGEINT) * (next_us - us)) AS wsum,
               CAST(sum(next_us - us) AS BIGINT) AS dur_us,
               count(*) AS n_holds
        FROM o WHERE next_us IS NOT NULL
        GROUP BY 1
    )
    SELECT user_id, CAST(n_holds AS BIGINT) AS n_holds, dur_us,
           CAST(wsum AS DOUBLE) / dur_us AS twap_cents
    FROM w ORDER BY user_id
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — each event's amount
    "holds" until the next event, so TWAP = Σ cᵢ·Δtᵢ / Σ Δtᵢ: the
    correct average for balance-over-time / exposure questions where
    the plain mean over-weights bursts (the flaw in averaging ticks).
    Holding intervals come from a user-partitioned lead; cents × micros
    products accumulate in decimal(38,0)/HUGEINT (a single year-long
    hold of a 4-digit value already tops 10¹⁷ — int64 dies on the
    SUM), one final double division. Users with one event have no
    holding interval and drop in both twins. One window + one
    aggregate, both keyed on user_id — one shuffle."""
    dec = "decimal(38,0)"
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = t(spark, sf_dir, "events").select(
        "user_id",
        cents("value").alias("c"),
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    agg = o.groupBy("user_id").agg(
        F.sum(F.col("c").cast(dec) * (F.col("next_us") - F.col("us"))).alias(
            "wsum"
        ),
        F.sum(F.col("next_us") - F.col("us")).cast("bigint").alias("dur_us"),
        F.count("*").alias("n_holds"),
    )
    return agg.select(
        "user_id",
        F.col("n_holds").cast("bigint").alias("n_holds"),
        "dur_us",
        (F.col("wsum").cast("double") / F.col("dur_us")).alias("twap_cents"),
    )


# ---------------------------------------------------------------------------
# dwell-time attribution by event type
# ---------------------------------------------------------------------------


@register(
    "q_dwell_time",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - epoch_us(ts) AS dwell
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(sum(dwell) AS BIGINT) AS dwell_us,
               count(*) AS n_holds
        FROM o WHERE dwell IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n_holds AS BIGINT) AS n_holds, dwell_us,
           CAST(dwell_us AS DOUBLE) / sum(dwell_us) OVER () AS share
    FROM g ORDER BY event_type
    """,
)
def q_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does user time actually GO: each event's dwell is the gap
    until that user's next event, attributed to the event's type — the
    session-analytics "time in state" breakdown (counting events says
    'view' dominates; dwell often says 'error', because users stall
    there). Exact integer microseconds; the share division runs over
    the ≤|types| aggregate rows. Same one-shuffle window shape as
    q_twap."""
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = t(spark, sf_dir, "events").select(
        "event_type",
        (F.lead(us).over(w) - us).alias("dwell"),
    ).filter(F.col("dwell").isNotNull())
    g = o.groupBy("event_type").agg(
        F.sum("dwell").cast("bigint").alias("dwell_us"),
        F.count("*").alias("n_holds"),
    )
    one = Window.partitionBy(F.lit(1))
    return g.select(
        "event_type",
        F.col("n_holds").cast("bigint").alias("n_holds"),
        "dwell_us",
        (
            F.col("dwell_us").cast("double") / F.sum("dwell_us").over(one)
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# rolling correlation of two daily series
# ---------------------------------------------------------------------------

_RC_WIN = 7  # trailing days in the correlation window


@register(
    "q_rolling_corr",
    oracle=f"""
    WITH d AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'view'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT day, x, y,
               count(*) OVER win AS n,
               sum(x) OVER win AS sx, sum(y) OVER win AS sy,
               sum(CAST(x AS HUGEINT) * y) OVER win AS sxy,
               sum(CAST(x AS HUGEINT) * x) OVER win AS sxx,
               sum(CAST(y AS HUGEINT) * y) OVER win AS syy
        FROM d
        WINDOW win AS (ORDER BY day
                       ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT day, x, y, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 3 THEN
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
           END AS corr_7d
    FROM w ORDER BY day
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {N}-day rolling Pearson correlation between the daily
    purchase and view volumes — the co-movement monitor ("did these
    series decouple this week?") behind funnel-health alerts. Each
    window's five sufficient statistics are exact-int ROWS-frame sums
    in decimal(38,0)/HUGEINT, folded through the same corr expression
    as q_corr_pairs per output row (sqrt/div are IEEE-exact); windows
    with fewer than 3 days emit NULL in both twins. The raw scan
    collapses to ≤366 daily rows first, so every window runs over the
    bounded daily table."""
    dec = "decimal(38,0)"
    d = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "view", cents("value")).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    win = (
        Window.partitionBy(F.lit(1))
        .orderBy("day")
        .rowsBetween(-(_RC_WIN - 1), 0)
    )
    w = d.select(
        "day",
        "x",
        "y",
        F.count("*").over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).over(win).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")).cast(
        "double"
    )
    denx = (
        F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    ).cast("double")
    deny = (
        F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    ).cast("double")
    return w.select(
        "day",
        "x",
        "y",
        F.col("n").cast("bigint").alias("n"),
        F.when(F.col("n") >= 3, num / F.sqrt(denx * deny)).alias("corr_7d"),
    )


# ---------------------------------------------------------------------------
# growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@register(
    "q_growth_accounting",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ),
    marked AS (
        SELECT user_id, day,
               min(day) OVER (PARTITION BY user_id) AS first_day,
               lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
        FROM ud
    ),
    classed AS (
        SELECT day,
               CASE WHEN day = first_day THEN 'new'
                    WHEN prev_day = day - 1 THEN 'retained'
                    ELSE 'resurrected' END AS status
        FROM marked
    ),
    churn AS (
        SELECT day + 1 AS day, 'churned' AS status
        FROM marked m
        WHERE NOT EXISTS (
            SELECT 1 FROM ud n
            WHERE n.user_id = m.user_id AND n.day = m.day + 1
        )
    ),
    allrows AS (
        SELECT day, status FROM classed
        UNION ALL
        SELECT day, status FROM churn
    )
    SELECT day, status, count(*) AS n_users
    FROM allrows GROUP BY 1, 2 ORDER BY day, status
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting — every active user classified as new
    (first day), retained (also active yesterday), or resurrected
    (returning after a gap), plus the churned count attributed to the
    day after a user's last-consecutive day: the DAU decomposition
    growth teams live by (DAU_t = new + retained + resurrected;
    churn_t closes the ledger). Day ids are integer epoch-day
    divisions; classification is one user-partitioned lag; churn is
    the self-anti-join "no activity tomorrow" (LEFT ANTI on the
    (user, day+1) key — the NOT EXISTS decorrelation). Two shuffles on
    user, one on (day, status), at any scale."""
    # feeds the window-marked frame AND the churn anti-join probe —
    # persisted so the scan+distinct runs once
    ud = track_cache(
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias(
                "day"
            ),
        )
        .distinct()
        .persist()
    )
    w_first = Window.partitionBy("user_id")
    w_lag = Window.partitionBy("user_id").orderBy("day")
    # classed AND the churn leg both read it — persisted so the
    # two user-partitioned windows run once
    marked = track_cache(
        ud.select(
            "user_id",
            "day",
            F.min("day").over(w_first).alias("first_day"),
            F.lag("day").over(w_lag).alias("prev_day"),
        ).persist()
    )
    classed = marked.select(
        "day",
        F.when(F.col("day") == F.col("first_day"), "new")
        .when(F.col("prev_day") == F.col("day") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    churn = (
        marked.alias("m")
        .join(
            ud.select(
                "user_id", (F.col("day") - 1).alias("day")
            ).alias("n"),
            ["user_id", "day"],
            "left_anti",
        )
        .select((F.col("day") + 1).alias("day"), F.lit("churned").alias("status"))
    )
    return (
        classed.unionByName(churn)
        .groupBy("day", "status")
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# rolling 7-day distinct actives (DAU / WAU / stickiness)
# ---------------------------------------------------------------------------


@register(
    "q_rolling_dau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ),
    days AS (
        SELECT day, count(*) AS dau FROM ud GROUP BY 1
    ),
    wau AS (
        SELECT d.day, count(DISTINCT u.user_id) AS wau
        FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM days d JOIN wau w USING (day) ORDER BY day
    """,
)
def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives: per calendar day, DAU, trailing
    WAU (distinct users active in [day-6, day]) and DAU/WAU stickiness
    — the engagement triple every product dashboard leads with.
    Rolling COUNT DISTINCT has no window-frame form (distinctness
    doesn't decompose into a running sum), so the scale shape is a
    BOUNDED FAN-OUT: each distinct (user, day) explodes into the ≤7
    window-anchor days it contributes to (sequence + explode), a semi
    join drops anchors outside the observed-day spine, and one
    groupBy(day) counts distinct users — linear in |user-days| × 7,
    never a range self-join of the raw events. The oracle states the
    same semantics as the range join DuckDB optimizes natively.
    Stickiness is one int/int IEEE division."""
    # ud feeds the DAU aggregate AND the 7-day fan-out, days feeds the
    # anchor semi join AND the final join — persisted, or the
    # scan+distinct replays per reference (executed plan: 3 full
    # evaluations, zero ReusedExchange)
    ud = track_cache(
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias(
                "day"
            ),
        )
        .distinct()
        .persist()
    )
    days = track_cache(
        ud.groupBy("day").agg(F.count("*").alias("dau")).persist()
    )
    fan = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
    )
    wau = (
        fan.join(days.select("day"), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        days.join(wau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# cohort LTV curve (cumulative revenue by weeks-since-first-seen)
# ---------------------------------------------------------------------------


@register(
    "q_cohort_ltv",
    oracle=f"""
    WITH uw AS (
        SELECT user_id, {SQL_WEEK.format(ts='ts')} AS week,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS c
        FROM events
    ),
    m AS (
        SELECT user_id, week, c,
               min(week) OVER (PARTITION BY user_id) AS cohort
        FROM uw
    ),
    g AS (
        SELECT cohort,
               date_diff('day', CAST(cohort AS DATE), CAST(week AS DATE)) // 7
                   AS week_index,
               CAST(sum(c) AS BIGINT) AS rev_cents,
               count(DISTINCT user_id) AS active_users
        FROM m GROUP BY 1, 2
    )
    SELECT cohort, CAST(week_index AS BIGINT) AS week_index,
           CAST(active_users AS BIGINT) AS active_users, rev_cents,
           CAST(sum(rev_cents) OVER (
               PARTITION BY cohort ORDER BY week_index) AS BIGINT)
               AS cum_rev_cents
    FROM g ORDER BY cohort, week_index
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users grouped by first-seen week, purchase
    revenue accumulated by weeks-since-cohort — the triangle behind
    every payback-period decision ('week-4 cumulative revenue per
    cohort'). Cohort assignment is one per-user min-window (Monday
    week strings compare chronologically), week_index an exact
    day-diff // 7 (both weeks are Mondays, so the division is exact),
    revenue exact int cents, and the cumulative a per-cohort ordered
    window over the ≤|cohorts|×|weeks| aggregate — the raw scan
    collapses before any ordered window runs."""
    uw = t(spark, sf_dir, "events").select(
        "user_id",
        week_str().alias("week"),
        F.when(F.col("event_type") == "purchase", cents("value"))
        .otherwise(0)
        .alias("c"),
    )
    m = uw.withColumn(
        "cohort", F.min("week").over(Window.partitionBy("user_id"))
    )
    g = m.groupBy(
        "cohort",
        (
            F.datediff(F.to_date("week"), F.to_date("cohort"))
            / F.lit(7)
        )
        .cast("bigint")
        .alias("week_index"),
    ).agg(
        F.sum("c").cast("bigint").alias("rev_cents"),
        F.countDistinct("user_id").alias("active_users"),
    )
    cum = Window.partitionBy("cohort").orderBy("week_index")
    return g.select(
        "cohort",
        F.col("week_index").cast("bigint").alias("week_index"),
        F.col("active_users").cast("bigint").alias("active_users"),
        "rev_cents",
        F.sum("rev_cents").over(cum).cast("bigint").alias("cum_rev_cents"),
    )


# ---------------------------------------------------------------------------
# forward-fill (last observation carried forward)
# ---------------------------------------------------------------------------


@register(
    "q_fill_forward",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) END AS obs_cents,
               ts
        FROM events
    )
    SELECT user_id, event_id, obs_cents,
           last_value(obs_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents
    FROM o ORDER BY user_id, event_id
    """,
)
def q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill / LOCF: a sparse observation (purchase amounts;
    NULL on every other event) carried forward along each user's
    timeline — the gap-fill that turns irregular observations into an
    as-of state series (the step sibling of q_linear_interp's
    interpolation). Spark's last(ignorenulls) over an unbounded-
    preceding ROWS frame ≡ DuckDB's last_value(x IGNORE NULLS); rows
    before a user's first observation stay NULL in both. One
    user-partitioned window — one shuffle; values exact int cents."""
    o = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents("value")).alias(
            "obs_cents"
        ),
        "ts",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "user_id",
        "event_id",
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(w).alias("filled_cents"),
    )


# ---------------------------------------------------------------------------
# day-of-week seasonality index
# ---------------------------------------------------------------------------


@register(
    "q_seasonality_dow",
    oracle="""
    WITH d AS (
        SELECT (CAST(epoch_us(ts) // 86400000000 AS BIGINT) + 4) % 7 AS dow,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    g AS (
        SELECT dow, count(*) AS n_events,
               CAST(sum(c) AS BIGINT) AS sum_cents
        FROM d GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_events) AS BIGINT) AS tot_n,
               CAST(sum(sum_cents) AS BIGINT) AS tot_c
        FROM g
    )
    SELECT dow, CAST(n_events AS BIGINT) AS n_events, sum_cents,
           CAST(CAST(sum_cents AS HUGEINT) * tot_n AS DOUBLE)
             / (CAST(n_events AS HUGEINT) * tot_c) AS dow_index
    FROM g, tot ORDER BY dow
    """,
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index: mean spend per weekday divided
    by the overall mean — the >1/<1 multiplier grid behind staffing
    and anomaly baselines ('Mondays run 1.2×'). Weekday comes from
    pure integer arithmetic ((epoch_day + 4) % 7; 0 = Monday) —
    NEVER locale/engine-dependent dayofweek numbering. The index is
    (sum_d/n_d)/(tot_c/tot_n) rearranged to one double division of two
    exact decimal(38,0)/HUGEINT products (sum_d × tot_n, n_d × tot_c
    — int64 would overflow at 100-TB row counts), so both engines
    divide the same two exact integers. The 1-row total broadcasts."""
    dec = "decimal(38,0)"
    d = t(spark, sf_dir, "events").select(
        (
            (F.expr("unix_micros(ts) div 86400000000").cast("bigint") + 4) % 7
        ).alias("dow"),
        cents("value").alias("c"),
    )
    g = d.groupBy("dow").agg(
        F.count("*").alias("n_events"),
        F.sum("c").cast("bigint").alias("sum_cents"),
    )
    tot = g.agg(
        F.sum("n_events").cast("bigint").alias("tot_n"),
        F.sum("sum_cents").cast("bigint").alias("tot_c"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            F.col("n_events").cast("bigint").alias("n_events"),
            "sum_cents",
            (
                (F.col("sum_cents").cast(dec) * F.col("tot_n")).cast("double")
                / (F.col("n_events").cast(dec) * F.col("tot_c"))
            ).alias("dow_index"),
        )
    )


# ---------------------------------------------------------------------------
# next-event training examples (sequence-model dataset builder)
# ---------------------------------------------------------------------------

@register(
    "q_sequence_examples",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    )
    SELECT a.user_id AS user_id,
           CAST(a.rn AS BIGINT) AS example_id,
           a.event_type || '>' || b.event_type || '>' || c.event_type
               AS context,
           d.event_type AS target
    FROM o a
    JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2
    JOIN o d ON d.user_id = a.user_id AND d.rn = a.rn + 3
    ORDER BY a.user_id, example_id
    """,
)
def q_sequence_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window next-event training examples: every length-{K}
    context of a user's event sequence paired with the event that
    follows — the dataset builder for the sequence models the
    reference trains (its LSTM consumes exactly these
    (history, next) pairs, src/layers.py:9-69; here the pair
    GENERATION is the distributed operator and the model is the
    consumer). The context assembles from {K} leads over ONE
    user-partitioned window — one shuffle, |events| output rows minus
    {K} per user — where the oracle states the same examples as
    rank self-joins. Deterministic ordering (ts, event_id) makes the
    corpus replayable."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_type", 3).over(w).alias("t3"),
    )
    return (
        o.filter(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.col("rn").cast("bigint").alias("example_id"),
            F.concat_ws(">", "event_type", "t1", "t2").alias("context"),
            F.col("t3").alias("target"),
        )
    )


# ---------------------------------------------------------------------------
# position-based (U-shaped) attribution
# ---------------------------------------------------------------------------


@register(
    "q_attribution_ushape",
    oracle="""
    WITH conv AS (
        SELECT user_id, min(ts) AS conv_ts
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    touches AS (
        SELECT e.user_id, e.event_type AS channel,
               row_number() OVER (
                   PARTITION BY e.user_id ORDER BY e.ts, e.event_id
               ) AS pos,
               count(*) OVER (PARTITION BY e.user_id) AS n
        FROM events e JOIN conv c
          ON e.user_id = c.user_id AND e.ts < c.conv_ts
        WHERE e.event_type <> 'purchase'
    ),
    credit AS (
        SELECT user_id, channel,
               CASE
                   WHEN n = 1 THEN 10000
                   WHEN n = 2 THEN 5000
                   WHEN pos = 1 OR pos = n THEN 4000
                   ELSE 2000 // (n - 2)
                        + CASE WHEN pos - 1 <= 2000 % (n - 2)
                               THEN 1 ELSE 0 END
               END AS bp
        FROM touches
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(bp) AS BIGINT) AS credit_bp
    FROM credit GROUP BY 1 ORDER BY channel
    """,
)
def q_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) attribution: each converting user's
    pre-conversion touches split the conversion credit 40% / 20% / 40%
    between first touch, middle touches, and last touch — the industry
    default between last-touch (recency-biased) and linear
    (dilutes intent signals); q_first_touch and q_asof_attribution are
    its single-touch siblings. Credit is EXACT integer basis points:
    the middle pool's 2000bp divide by integer floor with the
    remainder dealt one bp at a time to the earliest middle touches,
    so every user's credits sum to exactly 10000 in both engines (a
    float 0.2/(n−2) split neither sums to 1.0 nor hashes). One window
    over pre-conversion touches + one channel aggregate."""
    e = t(spark, sf_dir, "events")
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        e.join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("conv_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("pos"),
            F.count("*").over(Window.partitionBy("user_id")).alias("n"),
        )
    )
    mid_base = F.expr("2000 div (n - 2)")
    mid_extra = F.when(
        F.col("pos") - 1 <= F.expr("2000 % (n - 2)"), 1
    ).otherwise(0)
    bp = (
        F.when(F.col("n") == 1, 10000)
        .when(F.col("n") == 2, 5000)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 4000)
        .otherwise(mid_base + mid_extra)
    )
    return (
        touches.select("channel", bp.alias("bp"))
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum("bp").cast("bigint").alias("credit_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Markov-chain (removal-effect) attribution
# ---------------------------------------------------------------------------

_MK_L = 6               # truncation depth of the absorbing chain
_MK_MASS = 10 ** 12       # integer mass units at START


def markov_removal_effects(
    mat: list[tuple[str, str, int]],
    scenarios: dict[str, str | None],
) -> dict[str, tuple[int, int]]:
    """Exact-integer removal-effect evaluation over a collected
    transition matrix — the constant-size driver tail of
    q_attribution_markov, factored out so hypothesis can pin it
    against an independent reimplementation of the oracle SQL's
    crossJoin/ptab formulation (tests/test_hypothesis.py). Per
    scenario: drop transitions OUT of the removed channel, redirect
    transitions INTO it onto NULL, add the two absorbing self-loops,
    then iterate the START mass (``_MK_MASS``) ``_MK_L`` times with per-term
    floor((mass·c) div row_total) — floors only lose mass, never
    create it. Returns {scenario: (conv_mass, null_mass)}."""
    result: dict[str, tuple[int, int]] = {}
    for sc, removed in scenarios.items():
        agg: dict[tuple[str, str], int] = {}
        for s, t2, c in mat:
            if s == removed:
                continue
            key = (s, "NULL" if t2 == removed else t2)
            agg[key] = agg.get(key, 0) + c
        agg[("CONV", "CONV")] = agg.get(("CONV", "CONV"), 0) + 1
        agg[("NULL", "NULL")] = agg.get(("NULL", "NULL"), 0) + 1
        r_tot: dict[str, int] = {}
        for (s, _t3), c in agg.items():
            r_tot[s] = r_tot.get(s, 0) + c
        mass = {"START": _MK_MASS}
        for _ in range(_MK_L):
            nxt: dict[str, int] = {}
            for state, m in mass.items():
                for (s, t3), c in agg.items():
                    if s == state:
                        nxt[t3] = nxt.get(t3, 0) + (m * c) // r_tot[s]
            mass = nxt
        result[sc] = (mass.get("CONV", 0), mass.get("NULL", 0))
    return result


@register(
    "q_attribution_markov",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        FROM events
        WHERE event_type IN ('view', 'click', 'signup', 'purchase')
    ),
    conv AS (
        SELECT user_id, min(CASE WHEN event_type = 'purchase'
                                 THEN (us - 1704067200000000) * 1000000
                                      + event_id % 1000000 END) AS conv_key
        FROM ev GROUP BY 1
    ),
    touches AS (
        SELECT e.user_id, e.event_type,
               (e.us - 1704067200000000) * 1000000
                   + e.event_id % 1000000 AS ord_key,
               c.conv_key
        FROM ev e JOIN conv c USING (user_id)
        WHERE e.event_type != 'purchase'
          AND (c.conv_key IS NULL
               OR (e.us - 1704067200000000) * 1000000
                      + e.event_id % 1000000 < c.conv_key)
    ),
    seq AS (
        SELECT user_id, event_type AS state, ord_key, conv_key,
               lead(event_type) OVER w AS nxt,
               row_number() OVER w AS rn
        FROM touches
        WINDOW w AS (PARTITION BY user_id ORDER BY ord_key)
    ),
    trans_raw AS (
        -- START -> first touch
        SELECT 'START' AS s, state AS t FROM seq WHERE rn = 1
        UNION ALL
        -- touch -> touch
        SELECT state, nxt FROM seq WHERE nxt IS NOT NULL
        UNION ALL
        -- last touch -> outcome
        SELECT state, CASE WHEN conv_key IS NULL THEN 'NULL' ELSE 'CONV' END
        FROM seq WHERE nxt IS NULL
        UNION ALL
        -- touchless users: START -> outcome
        SELECT 'START',
               CASE WHEN c.conv_key IS NULL THEN 'NULL' ELSE 'CONV' END
        FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM touches t WHERE t.user_id = c.user_id)
    ),
    trans AS (
        SELECT s, t, CAST(count(*) AS BIGINT) AS c FROM trans_raw GROUP BY 1, 2
    ),
    scen(scenario, removed) AS (VALUES
        ('full', NULL), ('rm_view', 'view'),
        ('rm_click', 'click'), ('rm_signup', 'signup')),
    redirected AS (
        SELECT sc.scenario, tr.s,
               CASE WHEN tr.t = sc.removed THEN 'NULL' ELSE tr.t END AS t,
               tr.c
        FROM trans tr CROSS JOIN scen sc
        WHERE tr.s IS DISTINCT FROM sc.removed
    ),
    agg AS (
        SELECT scenario, s, t, CAST(sum(c) AS BIGINT) AS c
        FROM redirected GROUP BY 1, 2, 3
    ),
    absorbing AS (
        SELECT scenario, 'CONV' AS s, 'CONV' AS t, CAST(1 AS BIGINT) AS c
        FROM scen
        UNION ALL
        SELECT scenario, 'NULL', 'NULL', CAST(1 AS BIGINT) FROM scen
    ),
    ptab AS (
        SELECT a.scenario, a.s, a.t, a.c,
               CAST(sum(a.c) OVER (PARTITION BY a.scenario, a.s) AS BIGINT)
                   AS r
        FROM (SELECT * FROM agg UNION ALL SELECT * FROM absorbing) a
    ),
    v0 AS (
        SELECT scenario, 'START' AS state,
               CAST({_MK_MASS} AS BIGINT) AS mass
        FROM scen
    ),
    v1 AS (
        SELECT v.scenario, p.t AS state,
               CAST(sum((v.mass * p.c) // p.r) AS BIGINT) AS mass
        FROM v0 v
        JOIN ptab p ON p.scenario = v.scenario AND p.s = v.state
        GROUP BY 1, 2
    ),
    v2 AS (
        SELECT v.scenario, p.t AS state,
               CAST(sum((v.mass * p.c) // p.r) AS BIGINT) AS mass
        FROM v1 v
        JOIN ptab p ON p.scenario = v.scenario AND p.s = v.state
        GROUP BY 1, 2
    ),
    v3 AS (
        SELECT v.scenario, p.t AS state,
               CAST(sum((v.mass * p.c) // p.r) AS BIGINT) AS mass
        FROM v2 v
        JOIN ptab p ON p.scenario = v.scenario AND p.s = v.state
        GROUP BY 1, 2
    ),
    v4 AS (
        SELECT v.scenario, p.t AS state,
               CAST(sum((v.mass * p.c) // p.r) AS BIGINT) AS mass
        FROM v3 v
        JOIN ptab p ON p.scenario = v.scenario AND p.s = v.state
        GROUP BY 1, 2
    ),
    v5 AS (
        SELECT v.scenario, p.t AS state,
               CAST(sum((v.mass * p.c) // p.r) AS BIGINT) AS mass
        FROM v4 v
        JOIN ptab p ON p.scenario = v.scenario AND p.s = v.state
        GROUP BY 1, 2
    ),
    v6 AS (
        SELECT v.scenario, p.t AS state,
               CAST(sum((v.mass * p.c) // p.r) AS BIGINT) AS mass
        FROM v5 v
        JOIN ptab p ON p.scenario = v.scenario AND p.s = v.state
        GROUP BY 1, 2
    )
    SELECT f.scenario,
           CAST(coalesce(c.mass, 0) AS BIGINT) AS conv_mass,
           CAST(coalesce(n.mass, 0) AS BIGINT) AS null_mass,
           CAST(coalesce(c.mass, 0) AS DOUBLE)
               / nullif(CAST(b.mass AS DOUBLE), 0) AS conv_vs_full
    FROM scen f
    LEFT JOIN v6 c ON c.scenario = f.scenario AND c.state = 'CONV'
    LEFT JOIN v6 n ON n.scenario = f.scenario AND n.state = 'NULL'
    LEFT JOIN v6 b ON b.scenario = 'full' AND b.state = 'CONV'
    ORDER BY f.scenario
    """,
)
def q_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution — the data-driven
    model that replaces heuristic credit rules (q_attribution_ushape
    is position-based): journeys become a first-order chain over
    touch states with absorbing CONV/NULL, and a channel's credit is
    its REMOVAL EFFECT — how much absorbing-conversion probability
    disappears when every transition into the channel is redirected
    to NULL (the channel 'doesn't exist'); all four chains (full +
    three removals) evaluate in the SAME plan via a scenario column.

    Exactness: the absorbing-chain limit needs a matrix inverse, so
    the chain is truncated at L=6 steps and the distribution vector
    iterates as integer mass (1e12 units at START) with per-term
    floor((mass·c) div r) — the q_taint_tracing haircut: floors only
    lose mass, never create it (property test pins conv+null ≤ START
    mass and removal effects in [0,1]), and positive-operand integer
    division agrees between engines where float matrix powers would
    accumulate order-dependent drift. Journey ordering is the exact
    integer (us−epoch2024)·1e6 + event_id%1e6 key (raw micros × 1e7
    overflows int64 — ANSI mode caught it at construction); the transition matrix is a ≤7-state
    broadcast frame, so each of the 6 iterations is a tiny-frame
    join — the heavy lifting is ONE pass over events to build
    transitions.

    Plan shape: the journey build is a SINGLE
    user-partitioned window pass — conv_key (min purchase key), the
    per-user touch count, and row_number all ride one
    hash-partition-by-user exchange, and the per-row transition pairs
    come out of an explode over a ≤2-element literal array
    (START→first prepended at rn=1, state→coalesce(next, outcome)
    everywhere). The prior build spent five exchanges on the same
    facts: groupBy(user) for conv, a sort-merge join back onto events,
    a window shuffle for lead/rn, a distinct for the touchless
    anti-join, and the final groupBy — all but the last collapse into
    the one window exchange (the touchless branch reuses the same
    pinned frame: users whose touch_cnt is 0 emit START→outcome from
    their rn_all=1 row)."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.expr(
            "(unix_micros(ts) - 1704067200000000) * 1000000"
            " + event_id % 1000000"
        ).alias("ord_key"),
    )
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ord_key")
    is_touch = (F.col("state") != "purchase") & (
        F.col("conv_key").isNull() | (F.col("ord_key") < F.col("conv_key"))
    )
    # one exchange: conv_key/rn_all ride the ordered window, touch_cnt
    # a second Window node over the SAME partitioning (no new shuffle);
    # pinned because the touch and touchless branches both read it
    base = track_cache(
        e.select(
            "user_id",
            "state",
            "ord_key",
            F.min(
                F.when(F.col("state") == "purchase", F.col("ord_key"))
            ).over(wu).alias("conv_key"),
            F.row_number().over(wo).alias("rn_all"),
        )
        .withColumn("touch_cnt", F.sum(is_touch.cast("int")).over(wu))
        .persist()
    )
    outcome = F.when(F.col("conv_key").isNull(), "NULL").otherwise("CONV")
    seq = base.filter(is_touch).select(
        "state",
        "conv_key",
        F.lead("state").over(wo).alias("nxt"),
        F.row_number().over(wo).alias("rn"),
    )
    step = F.struct(
        F.col("state").alias("s"),
        F.coalesce(F.col("nxt"), outcome).alias("t"),
    )
    first = F.struct(F.lit("START").alias("s"), F.col("state").alias("t"))
    trans_raw = (
        seq.select(
            F.explode(
                F.when(F.col("rn") == 1, F.array(first, step)).otherwise(
                    F.array(step)
                )
            ).alias("p")
        )
        .select("p.s", "p.t")
        .unionByName(
            base.filter(
                (F.col("touch_cnt") == 0) & (F.col("rn_all") == 1)
            ).select(F.lit("START").alias("s"), outcome.alias("t"))
        )
    )
    trans = trans_raw.groupBy("s", "t").agg(F.count("*").alias("c"))
    # The transition matrix is ≤ (|touch states|+3)² ≈ 49 rows BY
    # CONSTRUCTION regardless of data size (states are the three touch
    # channels + START/CONV/NULL), so EVERYTHING past the groupBy —
    # scenario expansion, channel-removal redirect, absorbing rows, row
    # sums, and the L×|scenarios| matrix-vector products — runs on the
    # DRIVER in exact Python ints (the q_cluster_griddensity precedent:
    # the data-sized transition build stays distributed; the
    # constant-size rest is the same class of driver hop as collecting
    # an aggregate scalar). The evolution of this tail is instructive:
    # 6 chained tiny Spark joins cost 72s at sf0.1 (per-iteration
    # re-broadcast + plan growth), a collected ptab with Spark-side
    # crossJoin/window scenario expansion still cost ~10s of pure
    # local-relation job overhead for ≤49-row frames — one collect of
    # the raw matrix plus plain dicts is ~1s total.
    mat = [(r["s"], r["t"], int(r["c"])) for r in trans.collect()]
    scenarios = {"full": None, "rm_view": "view",
                 "rm_click": "click", "rm_signup": "signup"}
    result = markov_removal_effects(mat, scenarios)
    full_conv = result["full"][0]
    out_rows = [
        (
            sc,
            result[sc][0],
            result[sc][1],
            (float(result[sc][0]) / full_conv) if full_conv else None,
        )
        for sc in sorted(scenarios)
    ]
    return spark.createDataFrame(
        out_rows,
        "scenario string, conv_mass long, null_mass long, conv_vs_full double",
    )


# ---------------------------------------------------------------------------
# Chain-ladder loss development (actuarial run-off triangle)
# ---------------------------------------------------------------------------


@register(
    "q_chain_ladder",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               epoch_us(ts) // 604800000000 AS week,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cohorts AS (
        SELECT user_id, min(week) AS cohort FROM ev GROUP BY 1
    ),
    tri AS (
        SELECT c.cohort, e.week - c.cohort AS age,
               CAST(sum(e.cents) AS BIGINT) AS inc
        FROM ev e JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort, age, inc,
               CAST(sum(inc) OVER (PARTITION BY cohort ORDER BY age
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum
        FROM tri
    ),
    pairs AS (
        SELECT a.age AS from_age,
               CAST(sum(b.cum) AS BIGINT) AS s_next,
               CAST(sum(a.cum) AS BIGINT) AS s_cur,
               CAST(count(*) AS BIGINT) AS n_cohorts
        FROM cum a
        JOIN cum b ON b.cohort = a.cohort AND b.age = a.age + 1
        GROUP BY 1
    )
    SELECT from_age, n_cohorts, s_cur, s_next,
           CAST(s_next AS DOUBLE) / s_cur AS dev_factor
    FROM pairs ORDER BY from_age
    """,
)
def q_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development factors from the cohort run-off
    triangle — the actuarial estimator behind loss reserving and its
    product twin, revenue-vintage forecasting ('cohorts at age 2 grow
    another f₂ by age 3'): cumulative spend per (cohort-week, age) and
    the volume-weighted age-to-age factor Σ_c cum(c, k+1) / Σ_c
    cum(c, k) over cohorts observed at BOTH ages — the all-cohort
    weighting is the classical estimator and the both-ages restriction
    is what keeps the youngest cohort from biasing factors downward
    (the classic naive-implementation bug: including age-k rows whose
    k+1 is simply unobserved yet). q_retention_cohorts counts users
    on this triangle; chain-ladder chains VALUES along it. Sums are
    exact int cents; each factor is one double division of two exact
    ints. Scale: the triangle is a two-key aggregate (|cohorts|·|ages|
    rows — tiny), cumulation is a cohort-bounded window."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 604800000000").alias("week"),
        cents("value").alias("cents"),
    )
    cohorts = e.groupBy("user_id").agg(F.min("week").alias("cohort"))
    tri = (
        e.join(F.broadcast(cohorts), "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("age"))
        .agg(F.sum("cents").alias("inc"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tri.select("cohort", "age", F.sum("inc").over(w).alias("cum"))
    nxt = cum.select(
        "cohort", (F.col("age") - 1).alias("age"), F.col("cum").alias("cum_next")
    )
    pairs = cum.join(nxt, ["cohort", "age"]).groupBy(
        F.col("age").alias("from_age")
    ).agg(
        F.count("*").alias("n_cohorts"),
        F.sum("cum").cast("bigint").alias("s_cur"),
        F.sum("cum_next").cast("bigint").alias("s_next"),
    )
    return pairs.select(
        "from_age",
        "n_cohorts",
        "s_cur",
        "s_next",
        (F.col("s_next").cast("double") / F.col("s_cur")).alias("dev_factor"),
    )


# ---------------------------------------------------------------------------
# Shapley-value attribution (coalition model; completes the trio)
# ---------------------------------------------------------------------------

_SHAP_WINDOW_US = 172800000000  # first-48h journey window per user


@register(
    "q_attribution_shapley",
    oracle="""
    WITH f AS (
        SELECT user_id, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1
    ),
    w AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'purchase'
                        THEN epoch_us(e.ts) END) AS first_p
        FROM events e JOIN f USING (user_id)
        WHERE epoch_us(e.ts) < f.t0 + 172800000000
        GROUP BY 1
    ),
    j AS (
        SELECT e.user_id,
               CAST(max(CASE WHEN e.event_type = 'view'
                             AND (w.first_p IS NULL OR epoch_us(e.ts) < w.first_p) THEN 1 ELSE 0 END)
                  + 2 * max(CASE WHEN e.event_type = 'click'
                                 AND (w.first_p IS NULL OR epoch_us(e.ts) < w.first_p) THEN 1 ELSE 0 END)
                  + 4 * max(CASE WHEN e.event_type = 'signup'
                                 AND (w.first_p IS NULL OR epoch_us(e.ts) < w.first_p) THEN 1 ELSE 0 END)
                    AS BIGINT) AS mask,
               CAST(CASE WHEN max(w.first_p) IS NOT NULL
                         THEN 1 ELSE 0 END AS BIGINT) AS conv
        FROM events e
        JOIN f USING (user_id) JOIN w USING (user_id)
        WHERE epoch_us(e.ts) < f.t0 + 172800000000
        GROUP BY 1
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN mask = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
               CAST(sum(CASE WHEN mask = 0 THEN conv ELSE 0 END) AS BIGINT) AS k_0,
               CAST(sum(CASE WHEN mask = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
               CAST(sum(CASE WHEN mask = 1 THEN conv ELSE 0 END) AS BIGINT) AS k_1,
               CAST(sum(CASE WHEN mask = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
               CAST(sum(CASE WHEN mask = 2 THEN conv ELSE 0 END) AS BIGINT) AS k_2,
               CAST(sum(CASE WHEN mask = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_3,
               CAST(sum(CASE WHEN mask = 3 THEN conv ELSE 0 END) AS BIGINT) AS k_3,
               CAST(sum(CASE WHEN mask = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_4,
               CAST(sum(CASE WHEN mask = 4 THEN conv ELSE 0 END) AS BIGINT) AS k_4,
               CAST(sum(CASE WHEN mask = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_5,
               CAST(sum(CASE WHEN mask = 5 THEN conv ELSE 0 END) AS BIGINT) AS k_5,
               CAST(sum(CASE WHEN mask = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_6,
               CAST(sum(CASE WHEN mask = 6 THEN conv ELSE 0 END) AS BIGINT) AS k_6,
               CAST(sum(CASE WHEN mask = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_7,
               CAST(sum(CASE WHEN mask = 7 THEN conv ELSE 0 END) AS BIGINT) AS k_7
        FROM j
    ),
    v AS (
        SELECT CASE WHEN n_0 = 0 THEN 0 ELSE (k_0 * 1000000000) // n_0 END AS v_0,
           CASE WHEN n_1 = 0 THEN 0 ELSE (k_1 * 1000000000) // n_1 END AS v_1,
           CASE WHEN n_2 = 0 THEN 0 ELSE (k_2 * 1000000000) // n_2 END AS v_2,
           CASE WHEN n_3 = 0 THEN 0 ELSE (k_3 * 1000000000) // n_3 END AS v_3,
           CASE WHEN n_4 = 0 THEN 0 ELSE (k_4 * 1000000000) // n_4 END AS v_4,
           CASE WHEN n_5 = 0 THEN 0 ELSE (k_5 * 1000000000) // n_5 END AS v_5,
           CASE WHEN n_6 = 0 THEN 0 ELSE (k_6 * 1000000000) // n_6 END AS v_6,
           CASE WHEN n_7 = 0 THEN 0 ELSE (k_7 * 1000000000) // n_7 END AS v_7
        FROM cells
    ),
    phi AS (
        SELECT 'view' AS channel, CAST((2 * (v_1 - v_0) + 1 * (v_3 - v_2) + 1 * (v_5 - v_4) + 2 * (v_7 - v_6)) AS BIGINT) AS phi6_q9 FROM v
        UNION ALL
        SELECT 'click' AS channel, CAST((2 * (v_2 - v_0) + 1 * (v_3 - v_1) + 1 * (v_6 - v_4) + 2 * (v_7 - v_5)) AS BIGINT) AS phi6_q9 FROM v
        UNION ALL
        SELECT 'signup' AS channel, CAST((2 * (v_4 - v_0) + 1 * (v_5 - v_1) + 1 * (v_6 - v_2) + 2 * (v_7 - v_3)) AS BIGINT) AS phi6_q9 FROM v
    )
    SELECT channel, phi6_q9,
           CAST(phi6_q9 AS DOUBLE) / 6e9 AS shapley_value
    FROM phi ORDER BY channel
    """,
)
def q_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value attribution — the coalition model completing the
    attribution trio (q_attribution_ushape: position heuristic;
    q_attribution_markov: chain removal; Shapley: the unique
    efficiency/symmetry/dummy-axiom split of conversion lift): each
    user's FIRST-48-HOURS journey collapses to a 3-bit mask of
    channels touched before the first in-window purchase, conversion
    = purchased in-window (the bounded window is what makes masks and
    outcomes VARY — over a whole month every active user touches
    every channel and the game is symmetric-degenerate), v(S) is the
    conversion rate of users with mask exactly S, and φ_i =
    Σ_{S∌i} w(S)·(v(S∪i) − v(S)) with the n=3 weights 6w ∈
    {2,1,2}. Exactness: the 8 subset rates quantize to k·1e9 div n
    integers, so each φ is an exact integer combination of 8
    quantized rates — after one groupBy(user) and an 8-cell
    conditional aggregate (fixed 0..7 mask domain, the
    q_did/q_anova_f pivot discipline) the whole computation is
    integer arithmetic on one row; /6e9 is the only float. Exact
    Shapley is 2ⁿ by nature — n>10 channels wants sampled
    permutations, a different operator."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    f0 = e.groupBy("user_id").agg(F.min("us").alias("t0"))
    # ew feeds the first-purchase probe AND the mask aggregate —
    # persist or the window-filter join replays (measured: 12 scans
    # in the executed plan)
    ew = track_cache(
        e.join(f0, "user_id")
        .filter(F.col("us") < F.col("t0") + _SHAP_WINDOW_US)
        .persist()
    )
    w = ew.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("first_p")
    )
    pre = F.col("first_p").isNull() | (F.col("us") < F.col("first_p"))
    j = (
        ew.join(w, "user_id")
        .groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when((F.col("event_type") == "view") & pre, 1).otherwise(0)
                )
                + 2
                * F.max(
                    F.when((F.col("event_type") == "click") & pre, 1).otherwise(0)
                )
                + 4
                * F.max(
                    F.when((F.col("event_type") == "signup") & pre, 1).otherwise(
                        0
                    )
                )
            ).cast("bigint").alias("mask"),
            F.max(F.when(F.col("first_p").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("conv"),
        )
    )
    cells = j.agg(
        F.sum(F.when(F.col("mask") == 0, 1).otherwise(0)).cast("bigint").alias("n_0"),
        F.sum(F.when(F.col("mask") == 0, F.col("conv")).otherwise(0)).cast("bigint").alias("k_0"),
        F.sum(F.when(F.col("mask") == 1, 1).otherwise(0)).cast("bigint").alias("n_1"),
        F.sum(F.when(F.col("mask") == 1, F.col("conv")).otherwise(0)).cast("bigint").alias("k_1"),
        F.sum(F.when(F.col("mask") == 2, 1).otherwise(0)).cast("bigint").alias("n_2"),
        F.sum(F.when(F.col("mask") == 2, F.col("conv")).otherwise(0)).cast("bigint").alias("k_2"),
        F.sum(F.when(F.col("mask") == 3, 1).otherwise(0)).cast("bigint").alias("n_3"),
        F.sum(F.when(F.col("mask") == 3, F.col("conv")).otherwise(0)).cast("bigint").alias("k_3"),
        F.sum(F.when(F.col("mask") == 4, 1).otherwise(0)).cast("bigint").alias("n_4"),
        F.sum(F.when(F.col("mask") == 4, F.col("conv")).otherwise(0)).cast("bigint").alias("k_4"),
        F.sum(F.when(F.col("mask") == 5, 1).otherwise(0)).cast("bigint").alias("n_5"),
        F.sum(F.when(F.col("mask") == 5, F.col("conv")).otherwise(0)).cast("bigint").alias("k_5"),
        F.sum(F.when(F.col("mask") == 6, 1).otherwise(0)).cast("bigint").alias("n_6"),
        F.sum(F.when(F.col("mask") == 6, F.col("conv")).otherwise(0)).cast("bigint").alias("k_6"),
        F.sum(F.when(F.col("mask") == 7, 1).otherwise(0)).cast("bigint").alias("n_7"),
        F.sum(F.when(F.col("mask") == 7, F.col("conv")).otherwise(0)).cast("bigint").alias("k_7"),
    )
    v = cells.select(
        F.when(F.col("n_0") == 0, 0)
        .otherwise(F.expr("(k_0 * 1000000000) div n_0"))
        .alias("v_0"),
        F.when(F.col("n_1") == 0, 0)
        .otherwise(F.expr("(k_1 * 1000000000) div n_1"))
        .alias("v_1"),
        F.when(F.col("n_2") == 0, 0)
        .otherwise(F.expr("(k_2 * 1000000000) div n_2"))
        .alias("v_2"),
        F.when(F.col("n_3") == 0, 0)
        .otherwise(F.expr("(k_3 * 1000000000) div n_3"))
        .alias("v_3"),
        F.when(F.col("n_4") == 0, 0)
        .otherwise(F.expr("(k_4 * 1000000000) div n_4"))
        .alias("v_4"),
        F.when(F.col("n_5") == 0, 0)
        .otherwise(F.expr("(k_5 * 1000000000) div n_5"))
        .alias("v_5"),
        F.when(F.col("n_6") == 0, 0)
        .otherwise(F.expr("(k_6 * 1000000000) div n_6"))
        .alias("v_6"),
        F.when(F.col("n_7") == 0, 0)
        .otherwise(F.expr("(k_7 * 1000000000) div n_7"))
        .alias("v_7"),
    )
    rows = []
    rows.append(
        v.select(
            F.lit("view").alias("channel"),
            (2 * (F.col("v_1") - F.col("v_0")) + 1 * (F.col("v_3") - F.col("v_2")) + 1 * (F.col("v_5") - F.col("v_4")) + 2 * (F.col("v_7") - F.col("v_6"))).cast("bigint").alias("phi6_q9"),
        )
    )
    rows.append(
        v.select(
            F.lit("click").alias("channel"),
            (2 * (F.col("v_2") - F.col("v_0")) + 1 * (F.col("v_3") - F.col("v_1")) + 1 * (F.col("v_6") - F.col("v_4")) + 2 * (F.col("v_7") - F.col("v_5"))).cast("bigint").alias("phi6_q9"),
        )
    )
    rows.append(
        v.select(
            F.lit("signup").alias("channel"),
            (2 * (F.col("v_4") - F.col("v_0")) + 1 * (F.col("v_5") - F.col("v_1")) + 1 * (F.col("v_6") - F.col("v_2")) + 2 * (F.col("v_7") - F.col("v_3"))).cast("bigint").alias("phi6_q9"),
        )
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "channel",
        "phi6_q9",
        (F.col("phi6_q9").cast("double") / 6e9).alias("shapley_value"),
    )
