"""Analytics operators: regression/robust-stats aggregates,
cohort retention, cumulative distinct, multi-grain rollup reuse,
ordinal explode, and the stream-stream-join batch twin.

Every query follows the engine's exact-arithmetic oracle discipline
(SURVEY.md §5): aggregate int64 (or decimal) fixed-point sums in BOTH
engines, emit doubles only through expressions written identically in
the Spark plan and the DuckDB twin, and round (r6) only where a libm
call (ln/pow) can drift in the last ulp.

Reference parity: the reference's statistics surface is per-user mean/
variance/median windows (Code for Sichuan/src/utils.py:245-261, 87) —
these queries extend that family with the higher-moment, trend, and
cohort shapes a production behavioral-features pipeline adds on top,
all expressible as single-shuffle groupBy/window plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.operators.graph import SQL_CONTACT, contact
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import (
    SQL_WEEK,
    cents,
    quantile_ranks,
    r6,
    t,
    week_str,
)

# Anchor for day indexing (testdata epoch start; any fixed date works —
# slope is translation-invariant, intercept is defined w.r.t. this).
ANCHOR = "2024-01-01"


# ---------------------------------------------------------------------------
# A2+ — per-user OLS trend (slope/intercept from exact integer sums)
# ---------------------------------------------------------------------------


@register(
    "q_trend_slope",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - DATE '{ANCHOR}' AS BIGINT) AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT user_id,
               count(*) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY 1
    )
    SELECT user_id, n_days,
           CAST(n_days * sxy - sx * sy AS DOUBLE)
               / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - (CAST(n_days * sxy - sx * sy AS DOUBLE)
               / CAST(n_days * sxx - sx * sx AS DOUBLE))
              * CAST(sx AS DOUBLE)) / n_days AS intercept
    FROM s WHERE n_days >= 2
    ORDER BY user_id
    """,
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend trend: OLS slope/intercept of daily cents vs day
    index. The reference only computes level statistics (mean/var,
    src/utils.py:245-261); a trend column is the natural next
    behavioral feature. All sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) are exact int64 — day indices ≤ thousands, daily cents ≤
    ~1e6, so products stay far inside int64 at any sf — and the two
    final divisions are the only float ops, written identically in the
    DuckDB twin, so the doubles are bit-equal. Scale: two hash
    aggregations (events→daily→user), no window, no join; map-side
    partials halve the shuffle at every sf."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "user_id",
            F.datediff(F.to_date("ts"), F.to_date(F.lit(ANCHOR)))
            .cast("bigint")
            .alias("x"),
        ).agg(F.sum(cents("value")).alias("y"))
    )
    s = daily.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return (
        s.filter(F.col("n_days") >= 2)
        .select(
            "user_id",
            "n_days",
            slope.alias("slope"),
            (
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n_days")
            ).alias("intercept"),
        )
    )


# ---------------------------------------------------------------------------
# A6+ — event-mix Shannon entropy + Gini impurity per user
# ---------------------------------------------------------------------------


@register(
    "q_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    u AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               count(*) AS n_types,
               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc,
               CAST(sum(c * c) AS BIGINT) AS c2
        FROM c GROUP BY 1
    )
    SELECT user_id, n_events, n_types,
           round(ln(CAST(n_events AS DOUBLE)) - clnc / n_events, 6)
               AS entropy,
           1 - CAST(c2 AS DOUBLE) / CAST(n_events * n_events AS DOUBLE)
               AS gini
    FROM u ORDER BY user_id
    """,
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy and Gini impurity of each
    user's event-type mix — the information-theoretic sibling of the
    reference's hour-of-day histogram feature (data_process.py:151-154).
    Entropy is computed as ln(T) − Σc·ln(c)/T from *count* sums, so the
    only cross-engine drift source is libm ln (r6-rounded); Gini is
    exact-int-derived and emitted unrounded. One two-level aggregation,
    no window — the 100-TB plan is two shuffles of (user, int64)."""
    e = t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    u = c.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "clnc"
        ),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
    )
    return (
        u.select(
            "user_id",
            "n_events",
            "n_types",
            r6(
                F.log(F.col("n_events").cast("double"))
                - F.col("clnc") / F.col("n_events")
            ).alias("entropy"),
            (
                F.lit(1)
                - F.col("c2").cast("double")
                / (F.col("n_events") * F.col("n_events")).cast("double")
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# A12+ — cohort-week retention triangle
# ---------------------------------------------------------------------------


@register(
    "q_retention_cohorts",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events
    ),
    cohort AS (
        SELECT user_id, min(w) AS cw FROM base GROUP BY 1
    ),
    sized AS (
        SELECT cw, count(*) AS cohort_size FROM cohort GROUP BY 1
    ),
    act AS (
        SELECT c.cw, CAST((b.w - c.cw) / 7 AS INTEGER) AS week_offset,
               count(DISTINCT b.user_id) AS n_active
        FROM base b JOIN cohort c ON b.user_id = c.user_id
        GROUP BY 1, 2
    )
    SELECT strftime(a.cw, '%Y-%m-%d') AS cohort_week, a.week_offset,
           a.n_active, s.cohort_size,
           CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM act a JOIN sized s ON a.cw = s.cw
    ORDER BY cohort_week, week_offset
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users cohorted by first active week,
    distinct-active counts per (cohort, week-offset), retention share
    vs cohort size. The classic growth-analytics rollup of the
    reference's per-week user slicing (data_process.py:90-91). Exact
    int counts; the single double (retention) is one division of ints,
    bit-equal across engines. Scale: the fact table reduces to
    distinct (user, week) pairs FIRST (tiny vs raw events); the cohort
    week attaches as a window min over the user partition (a
    groupBy + join-back + separate size aggregate would reference
    the distinct pass three times with zero ReusedExchange), and the
    cohort size needs no extra pass at all: every user is active in
    their own cohort week (cw = min w), so cohort_size IS n_active at
    week_offset 0 of the persisted (cohort × offset)-sized triangle."""
    e = t(spark, sf_dir, "events")
    base = (
        e.select("user_id", F.date_trunc("week", "ts").alias("w")).distinct()
    )
    enriched = base.withColumn(
        "cw", F.min("w").over(Window.partitionBy("user_id"))
    )
    act = track_cache(
        enriched.groupBy(
            "cw",
            (F.datediff(F.col("w"), F.col("cw")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .persist()
    )
    sized = act.filter(F.col("week_offset") == 0).select(
        "cw", F.col("n_active").alias("cohort_size")
    )
    return (
        act.join(sized, "cw")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A3+ — cumulative distinct contacts per user-week (first-occurrence trick)
# ---------------------------------------------------------------------------


@register(
    "q_running_distinct",
    oracle=f"""
    WITH c AS (
        SELECT user_id, {SQL_CONTACT} AS contact,
               {SQL_WEEK.format(ts="ts")} AS week
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL
    ),
    firsts AS (
        SELECT user_id, contact, min(week) AS week FROM c GROUP BY 1, 2
    ),
    news AS (
        SELECT user_id, week, count(*) AS new_contacts
        FROM firsts GROUP BY 1, 2
    ),
    active AS (SELECT DISTINCT user_id, week FROM c)
    SELECT a.user_id, a.week,
           CAST(coalesce(n.new_contacts, 0) AS BIGINT) AS new_contacts,
           CAST(sum(coalesce(n.new_contacts, 0)) OVER (
               PARTITION BY a.user_id ORDER BY a.week
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_contacts
    FROM active a LEFT JOIN news n
      ON a.user_id = n.user_id AND a.week = n.week
    ORDER BY a.user_id, a.week
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct contacts per user by week. A naive running
    COUNT(DISTINCT) over an expanding window re-scans every prefix; the
    scalable form marks each contact's FIRST week (one groupBy-min),
    counts firsts per week, and running-sums those — linear in events,
    one narrow window over per-user weeks. Extends the reference's
    per-window contact sets (data_process.py:122-129) to an expanding
    horizon. All-int arithmetic."""
    e = t(spark, sf_dir, "events")
    c = e.select(
        "user_id",
        contact().alias("contact"),
        week_str().alias("week"),
    ).filter(F.col("contact").isNotNull())
    firsts = c.groupBy("user_id", "contact").agg(F.min("week").alias("week"))
    news = firsts.groupBy("user_id", "week").agg(
        F.count("*").alias("new_contacts")
    )
    active = c.select("user_id", "week").distinct()
    w = (
        Window.partitionBy("user_id")
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        active.join(news, ["user_id", "week"], "left")
        .na.fill(0, ["new_contacts"])
        .withColumn("cum_contacts", F.sum("new_contacts").over(w))
    )


# ---------------------------------------------------------------------------
# A2+ — higher-moment stats (skewness / kurtosis) from exact decimal sums
# ---------------------------------------------------------------------------


@register(
    "q_skew_kurtosis",
    oracle="""
    WITH s AS (
        SELECT event_type,
               count(*) AS n,
               sum(CAST(c AS HUGEINT)) AS s1,
               sum(CAST(c AS HUGEINT) * c) AS s2,
               sum(CAST(c AS HUGEINT) * c * c) AS s3,
               sum(CAST(c AS HUGEINT) * c * c * c) AS s4
        FROM (SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events)
        GROUP BY 1
    )
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / n / 100 AS mean_value,
           round(sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / 100, 6) AS sd_value,
           round((CAST(s3 AS DOUBLE) / n
                  - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                  + 2 * pow(CAST(s1 AS DOUBLE) / n, 3))
                 / pow(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       1.5), 6) AS skewness,
           round((CAST(s4 AS DOUBLE) / n
                  - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                  + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s2 AS DOUBLE) / n)
                  - 3 * pow(CAST(s1 AS DOUBLE) / n, 4))
                 / pow(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       2) - 3, 6) AS kurtosis
    FROM s ORDER BY event_type
    """,
)
def q_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per event_type, computed
    from EXACT raw-moment sums (Σc..Σc⁴ over int64 cents, summed as
    decimal(38,0) in Spark / HUGEINT in DuckDB — per-row c⁴ ≤ 5.8e18
    fits int64 for the 2-decimal value domain ≤ ~50k cents, and the
    decimal accumulator is exact at any row count). Spark's built-in
    `skewness`/`kurtosis` use a different one-pass update formula, so
    the oracle-checkable form derives both from identical sufficient
    statistics; r6 covers the two `pow` calls. One shuffle, map-side
    partial sums."""
    e = t(spark, sf_dir, "events")
    c = cents("value")
    # per-row powers promote to DECIMAL BEFORE multiplying: int64 cents
    # up to ~5.6e4 overflow int64 at the 4th power (c⁴ > 9.2e18), so
    # c*c*c*c-as-bigint would throw under ANSI (hit at sf0.1); wide
    # decimal per-row keeps every step exact at any value scale
    cd = F.col("c").cast("decimal(20,0)")
    s = e.select("event_type", c.alias("c")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
        F.sum((cd * cd).cast("decimal(38,0)")).alias("s2"),
        F.sum((cd * cd * cd).cast("decimal(38,0)")).alias("s3"),
        F.sum((cd * cd * cd * cd).cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    r2m = F.col("s2").cast("double") / n
    r3m = F.col("s3").cast("double") / n
    r4m = F.col("s4").cast("double") / n
    m2 = r2m - m1 * m1
    skew = (r3m - F.lit(3) * m1 * r2m + F.lit(2) * F.pow(m1, 3)) / F.pow(m2, 1.5)
    kurt = (
        r4m
        - F.lit(4) * m1 * r3m
        + F.lit(6) * m1 * m1 * r2m
        - F.lit(3) * F.pow(m1, 4)
    ) / F.pow(m2, 2) - F.lit(3)
    return (
        s.select(
            "event_type",
            "n",
            (m1 / 100).alias("mean_value"),
            r6(F.sqrt(m2) / 100).alias("sd_value"),
            r6(skew).alias("skewness"),
            r6(kurt).alias("kurtosis"),
        )
    )


# ---------------------------------------------------------------------------
# A15+ — multi-grain time rollup with aggregate reuse (hour → day → week)
# ---------------------------------------------------------------------------


@register(
    "q_multi_grain_rollup",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS b, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events GROUP BY 1
    ),
    daily AS (
        SELECT date_trunc('day', b) AS b, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(total_cents) AS BIGINT) AS total_cents
        FROM hourly GROUP BY 1
    ),
    weekly AS (
        SELECT date_trunc('week', b) AS b, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(total_cents) AS BIGINT) AS total_cents
        FROM daily GROUP BY 1
    )
    SELECT 'hour' AS grain, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           n, total_cents FROM hourly
    UNION ALL
    SELECT 'day', strftime(b, '%Y-%m-%d %H:%M:%S'), n, total_cents
    FROM daily
    UNION ALL
    SELECT 'week', strftime(b, '%Y-%m-%d %H:%M:%S'), n, total_cents
    FROM weekly
    ORDER BY grain, bucket
    """,
)
def q_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly aggregates
    computed ONCE from the fact table, then daily derived from hourly
    and weekly from daily (agg-of-agg reuse — the continuous-aggregate
    pattern). At 100 TB the raw scan happens once; the hourly frame
    (persisted, tracked) is O(hours × 2 int64s) and each coarser grain
    re-aggregates the previous one, not the events. Counts and cents
    are exact ints; no floats anywhere."""
    e = t(spark, sf_dir, "events")
    hourly = track_cache(
        e.groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(F.count("*").alias("n"), F.sum(cents("value")).alias("total_cents"))
        .persist()
    )
    daily = hourly.groupBy(F.date_trunc("day", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("total_cents").alias("total_cents")
    )
    weekly = daily.groupBy(F.date_trunc("week", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("total_cents").alias("total_cents")
    )

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n",
            "total_cents",
        )

    return (
        shape(hourly, "hour")
        .unionAll(shape(daily, "day"))
        .unionAll(shape(weekly, "week"))
    )


# ---------------------------------------------------------------------------
# A4+ — MAD-based robust outlier flags (two exact lower-medians)
# ---------------------------------------------------------------------------


@register(
    "q_anomaly_mad",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    r1 AS (
        SELECT user_id, c,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS nn
        FROM c
    ),
    med AS (
        SELECT user_id, c AS med FROM r1 WHERE rn = (nn + 1) // 2
    ),
    d AS (
        SELECT c.user_id, c.event_id, c.c, m.med,
               abs(c.c - m.med) AS ad
        FROM c JOIN med m ON c.user_id = m.user_id
    ),
    r2 AS (
        SELECT user_id, ad,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ad, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS nn
        FROM d
    ),
    mad AS (
        SELECT user_id, ad AS mad FROM r2 WHERE rn = (nn + 1) // 2
    )
    SELECT d.user_id, min(d.med) AS med_cents, min(m.mad) AS mad_cents,
           count(*) AS n_events,
           CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad m ON d.user_id = m.user_id
    GROUP BY d.user_id
    ORDER BY d.user_id
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection: lower-median of cents, MAD
    (lower-median of absolute deviations), and the count of events
    beyond 3×MAD. Median-of-integers via row_number (rn = ⌊(n+1)/2⌋)
    is exact in both engines — no interpolation drift (same discipline
    as q_winsorize). The reference's median feature is
    src/utils.py:87; MAD extends it to a dispersion measure that
    ignores the heavy tail fraud data has. Scale: two windowed ranks
    partitioned by user (never global) + one broadcast-sized join of
    per-user medians back onto events."""
    e = t(spark, sf_dir, "events")
    c = e.select("user_id", "event_id", cents("value").alias("c"))
    w_cnt = Window.partitionBy("user_id")
    r1 = c.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("c", "event_id"))
    ).withColumn("nn", F.count("*").over(w_cnt))
    med = r1.filter(F.col("rn") == F.floor((F.col("nn") + 1) / 2)).select(
        "user_id", F.col("c").alias("med")
    )
    d = c.join(med, "user_id").withColumn("ad", F.abs(F.col("c") - F.col("med")))
    r2_ = d.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("ad", "event_id")),
    ).withColumn("nn", F.count("*").over(w_cnt))
    mad = r2_.filter(F.col("rn") == F.floor((F.col("nn") + 1) / 2)).select(
        "user_id", F.col("ad").alias("mad")
    )
    return (
        d.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("med").alias("med_cents"),
            F.min("mad").alias("mad_cents"),
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# E7+ — stream-stream interval join, batch twin
# ---------------------------------------------------------------------------


@register(
    "q_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS c_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ORDER BY purchase_id, click_id
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/windows.py::stream_stream_attribution): every click by
    the same user within the hour before a purchase. In Structured
    Streaming both sides are unbounded and the watermark bounds the
    join state; in batch the same predicate is an equi-join on user_id
    with the time-range riding the shuffle — per-user event counts
    bound the worst task, and AQE splits a skewed user. Timestamps are
    emitted as microsecond strings so both engines hash identical
    text. Parity with the live stream is pinned by
    tests/test_streaming.py::test_stream_stream_interval_join."""
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts_t"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("c_ts_t"),
    )
    return (
        p.join(
            c,
            (p.user_id == c.cu)
            & (c.c_ts_t <= p.p_ts_t)
            & (c.c_ts_t >= F.expr("p_ts_t - INTERVAL 1 HOUR")),
        )
        .select(
            "purchase_id",
            "user_id",
            F.date_format("p_ts_t", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("p_ts"),
            "click_id",
            F.date_format("c_ts_t", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("c_ts"),
        )
    )


# ---------------------------------------------------------------------------
# E4+ — ordinal token explode (posexplode)
# ---------------------------------------------------------------------------


@register(
    "q_posexplode",
    oracle="""
    SELECT doc_id, s.pos AS pos, s.tok AS token
    FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                                     (x, i) -> {'pos': i, 'tok': x})) AS s
        FROM documents
    )
    WHERE s.tok <> ''
    ORDER BY doc_id, pos
    """,
)
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal tokenization: explode each document's tokens WITH their
    1-based position (posexplode ≡ DuckDB list_transform's indexed
    lambda + unnest). Positions matter for every sequence-model
    pipeline (packing offsets, n-gram windows, positional features);
    this pins the cross-engine ordinal semantics. Map-only — zero
    shuffles."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    )


# ---------------------------------------------------------------------------
# A4+ — exact multi-quantile grid via distributed prefix ranks
# ---------------------------------------------------------------------------

_QUANTILES = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
              ("p90", 9, 10), ("p99", 99, 100))
_SQL_QUANT_VALUES = ", ".join(
    f"('{lbl}', {num}, {den})" for lbl, num, den in _QUANTILES
)


@register(
    "q_quantile_grid",
    oracle=f"""
    WITH c AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    r AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS grn,
               count(*) OVER (PARTITION BY event_type) AS nn
        FROM c
    ),
    q(q_label, num, den) AS (VALUES {_SQL_QUANT_VALUES})
    SELECT r.event_type, q.q_label, r.c AS value_cents,
           CAST(r.nn AS BIGINT) AS n
    FROM r JOIN q
      ON r.grn = (q.num * r.nn + q.den - 1) // q.den
    ORDER BY event_type, q_label
    """,
)
def q_quantile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p90/p99 per event_type as ACTUAL data values
    (percentile_disc: rank ⌈q·n⌉ — integer ceil-division, zero
    interpolation, zero float q·n drift). The scale story is the
    point: ranks come from operators/rank.py::prefix_rank over the
    TOTAL order (event_type, cents, event_id) — range-partitioned
    two-phase ranking, never a per-group window that funnels a huge
    group through one task — and per-group ranks are recovered by
    subtracting each group's broadcast min-rank offset. The quantile
    spec is a 5-row literal joined on the computed index
    (queries/_util.py::quantile_ranks builds the ranks and the spec)."""
    _goff, r, fr = quantile_ranks(spark, sf_dir, _QUANTILES)
    idx = F.expr("(num * nn + den - 1) div den")
    return (
        r.join(F.broadcast(fr), F.col("grn") == idx)
        .select(
            "event_type",
            "q_label",
            F.col("c").alias("value_cents"),
            F.col("nn").cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# A4+ — weighted median (cents-weighted median hour per user)
# ---------------------------------------------------------------------------


@register(
    "q_weighted_median",
    oracle="""
    WITH h AS (
        SELECT user_id, CAST(hour(ts) AS INTEGER) AS hour,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS wt
        FROM events GROUP BY 1, 2
    ),
    c AS (
        SELECT user_id, hour, wt,
               CAST(sum(wt) OVER (PARTITION BY user_id ORDER BY hour
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
               CAST(sum(wt) OVER (PARTITION BY user_id) AS BIGINT) AS tot
        FROM h
    )
    SELECT user_id, CAST(min(hour) AS INTEGER) AS wmedian_hour,
           CAST(min(tot) AS BIGINT) AS total_cents
    FROM c WHERE 2 * cum >= tot
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted median activity hour per user: the smallest hour
    whose cumulative cents weight reaches half the user's total. The
    reference weights its hour histogram by call counts
    (data_process.py:151-154); weighting by monetary value is the
    fraud-features upgrade. All-int (2·cum ≥ tot avoids any division).
    One small pre-aggregation to (user, hour) then per-user windows
    over ≤ 24 rows — trivially parallel at any scale."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "user_id", F.hour("ts").cast("int").alias("hour")
    ).agg(F.sum(cents("value")).alias("wt"))
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = h.withColumn("cum", F.sum("wt").over(w_cum)).withColumn(
        "tot", F.sum("wt").over(Window.partitionBy("user_id"))
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("user_id")
        .agg(
            F.min("hour").cast("int").alias("wmedian_hour"),
            F.min("tot").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# A13+ — activity bitmap (bitwise aggregation)
# ---------------------------------------------------------------------------


@register(
    "q_bitmap_weeks",
    oracle=f"""
    WITH wk AS (
        SELECT user_id,
               CAST((CAST(date_trunc('week', ts) AS DATE)
                     - DATE '{ANCHOR}') / 7 AS BIGINT) AS widx
        FROM events
    )
    SELECT user_id,
           CAST(bit_or(1 << widx) AS BIGINT) AS week_mask,
           CAST(bit_count(CAST(bit_or(1 << widx) AS BIGINT)) AS BIGINT)
               AS n_active_weeks,
           CAST(min(widx) AS BIGINT) AS first_week,
           CAST(max(widx) AS BIGINT) AS last_week
    FROM wk GROUP BY user_id ORDER BY user_id
    """,
)
def q_bitmap_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user weekly-activity bitmap: bit_or(1 << week_index) packs a
    user's active weeks into one int64 (the feature-store idiom for
    cheap recency/frequency predicates — `mask & 0b110` beats a join
    against a weeks table), plus popcount and first/last active week.
    The anchor date is the testdata epoch Monday, so week indices are
    small non-negative ints. Bitwise aggregation is a plain map-side-
    combinable agg: one shuffle of (user, int64) at any scale."""
    e = t(spark, sf_dir, "events")
    widx = (
        F.datediff(F.date_trunc("week", "ts"), F.to_date(F.lit(ANCHOR))) / 7
    ).cast("bigint")
    wk = e.select("user_id", widx.alias("widx"))
    mask = F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(widx AS INT)))")
    return (
        wk.groupBy("user_id")
        .agg(
            mask.alias("week_mask"),
            F.min("widx").alias("first_week"),
            F.max("widx").alias("last_week"),
        )
        .select(
            "user_id",
            "week_mask",
            F.bit_count("week_mask").cast("bigint").alias("n_active_weeks"),
            "first_week",
            "last_week",
        )
    )


# ---------------------------------------------------------------------------
# A8+ — week-over-week percent change
# ---------------------------------------------------------------------------


@register(
    "q_pct_change",
    oracle=f"""
    WITH wk AS (
        SELECT user_id, {SQL_WEEK.format(ts="ts")} AS week,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, week, cents,
           lag(cents) OVER (PARTITION BY user_id ORDER BY week)
               AS prev_cents,
           CAST(cents - lag(cents) OVER (PARTITION BY user_id
                                         ORDER BY week) AS DOUBLE)
               / lag(cents) OVER (PARTITION BY user_id ORDER BY week)
               AS pct_change
    FROM wk ORDER BY user_id, week
    """,
)
def q_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week relative spend change per user (lag + one int
    division; first week NULL in both engines). The derivative feature
    on top of the reference's weekly windows (data_process.py:75-86).
    Weekly totals are exact cents; pct_change is a single double
    division of two int64s — bit-equal across engines."""
    e = t(spark, sf_dir, "events")
    wk = e.groupBy("user_id", week_str().alias("week")).agg(
        F.sum(cents("value")).alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("week")
    prev = F.lag("cents").over(w)
    return (
        wk.withColumn("prev_cents", prev)
        .withColumn(
            "pct_change",
            (F.col("cents") - F.col("prev_cents")).cast("double")
            / F.col("prev_cents"),
        )
    )


# ---------------------------------------------------------------------------
# E3+ — per-vector array statistics via higher-order functions (map-only)
# ---------------------------------------------------------------------------


@register(
    "q_array_stats",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (a, b) -> a + b)) AS l2_norm,
           list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (a, b) -> a + b) / len(embedding) AS mean_val,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS max_abs
    FROM embeddings ORDER BY vec_id
    """,
)
def q_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding L2 norm, mean and max-abs computed entirely with
    codegen'd higher-order functions (aggregate/transform/array_max) —
    zero Python, zero shuffles; the normalize-then-score prologue of
    every vector pipeline. Both engines fold the list SEQUENTIALLY
    (Spark `aggregate` ≡ DuckDB `list_reduce`) over float32→float64
    promoted elements, so the sums — and therefore the unrounded doubles — are bit-identical."""
    emb = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    sm = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        emb.select(
            "vec_id",
            "label",
            F.size("embedding").alias("dim"),
            F.sqrt(sq).alias("l2_norm"),
            (sm / F.size("embedding")).alias("mean_val"),
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            ).alias("max_abs"),
        )
    )


# ---------------------------------------------------------------------------
# A2+ — deterministic per-group mode
# ---------------------------------------------------------------------------


@register(
    "q_mode",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY cnt DESC, event_type
        ) AS rn,
        count(*) OVER (PARTITION BY user_id) AS n_types
        FROM c
    )
    SELECT user_id, event_type AS mode_event_type,
           CAST(cnt AS BIGINT) AS mode_count,
           CAST(n_types AS BIGINT) AS n_types
    FROM r WHERE rn = 1 ORDER BY user_id
    """,
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user modal event type (ties broken
    lexicographically — Spark's built-in `mode()` picks an arbitrary
    tie winner, which can never hash-match another engine, so the
    engine's canonical form is count + rank). Pre-aggregation shrinks
    the window input to ≤ |event_types| rows per user."""
    e = t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), "event_type"
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_types", F.count("*").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("cnt").alias("mode_count"),
            F.col("n_types").cast("bigint").alias("n_types"),
        )
    )


# ---------------------------------------------------------------------------
# E6+ — typed JSON parsing (from_json struct, not string extraction)
# ---------------------------------------------------------------------------


@register(
    "q_json_flatten",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: `from_json(props, 'k BIGINT')` materializes
    the props column as a STRUCT once (JsonToStructs — one parse per
    row, every field typed), vs q_json_extract's per-path
    get_json_object string extraction (re-parses per path). For wide
    props at 100 TB the struct parse is the right default; malformed
    rows become NULL structs (PERMISSIVE), which the aggregate
    tolerates. Aggregates over the typed field prove the parse."""
    e = t(spark, sf_dir, "events")
    p = e.withColumn("pj", F.from_json("props", "k BIGINT"))
    return (
        p.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("pj.k").alias("n_k"),
            F.min("pj.k").alias("k_min"),
            F.max("pj.k").alias("k_max"),
            F.sum("pj.k").alias("k_sum"),
        )
    )


# ---------------------------------------------------------------------------
# J3+ — first-touch attribution (earliest qualifying click per purchase)
# ---------------------------------------------------------------------------


@register(
    "q_first_touch",
    oracle="""
    WITH pairs AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               c.event_id AS click_id,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY c.ts, c.event_id
               ) AS rn
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    )
    SELECT purchase_id, user_id, click_id, gap_us
    FROM pairs WHERE rn = 1 ORDER BY purchase_id
    """,
)
def q_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credited to the EARLIEST
    click in its trailing hour (complement of q_asof_attribution's
    last-touch). The candidate join is the same per-user equi-shuffle
    with the range predicate riding it; the rank-1 filter collapses
    multi-click windows deterministically (ties by event_id)."""
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.unix_micros("ts").alias("p_us"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("c_ts"),
        F.unix_micros("ts").alias("c_us"),
    )
    pairs = p.join(
        c,
        (p.user_id == c.cu)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts >= F.expr("p_ts - INTERVAL 1 HOUR")),
    )
    w = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            (F.col("p_us") - F.col("c_us")).alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# J1+ — full outer join (both null sides exercised)
# ---------------------------------------------------------------------------


@register(
    "q_join_full_outer",
    oracle="""
    WITH rich AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= 5000
    ),
    big AS (
        SELECT o_custkey, count(*) AS n_big
        FROM orders WHERE o_totalprice > 100000 GROUP BY 1
    )
    SELECT coalesce(r.c_custkey, b.o_custkey) AS custkey,
           CASE WHEN r.c_custkey IS NULL THEN 0 ELSE 1 END AS has_cust,
           CAST(coalesce(b.n_big, 0) AS BIGINT) AS n_big,
           CAST(round(coalesce(r.c_acctbal, 0) * 100) AS BIGINT)
               AS acctbal_cents
    FROM rich r FULL OUTER JOIN big b ON r.c_custkey = b.o_custkey
    ORDER BY custkey
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi-join with both null sides populated (rich
    customers without big orders; big-order customers below the
    balance cut) — the reconciliation-join shape missing from the
    J-family's inner/semi/anti coverage. Null sides are made explicit
    (flag + coalesce) so the hash comparison is type-stable. Full
    outer cannot broadcast (both sides preserved) — Spark plans a
    shuffle join on the key, which is the correct 100-TB shape."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    rich = cust.filter(F.col("c_acctbal") >= 5000).select(
        "c_custkey", "c_acctbal"
    )
    big = (
        orders.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_big"))
    )
    j = rich.join(big, rich.c_custkey == big.o_custkey, "full_outer")
    return (
        j.select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.when(F.col("c_custkey").isNull(), 0).otherwise(1).alias(
                "has_cust"
            ),
            F.coalesce("n_big", F.lit(0)).cast("bigint").alias("n_big"),
            F.coalesce(cents("c_acctbal"), F.lit(0)).alias("acctbal_cents"),
        )
    )


# ---------------------------------------------------------------------------
# A8+ — trailing ROWS-frame moving average
# ---------------------------------------------------------------------------


@register(
    "q_moving_avg",
    oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, cents,
           CAST(sum(cents) OVER w AS BIGINT) AS win_cents,
           CAST(count(*) OVER w AS BIGINT) AS win_n,
           CAST(sum(cents) OVER w AS DOUBLE) / count(*) OVER w / 100
               AS moving_avg
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, day
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row trailing moving average of daily spend per user — the
    ROWS-frame complement of q_trailing_range's event-time RANGE
    frame. Ragged window starts divide by the ACTUAL frame row count,
    so the first days are means of 1 and 2 rows, not zero-padded.
    Exact cents sums; one identical-form division."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day_d")
    ).agg(F.sum(cents("value")).alias("cents"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_d")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        daily.select(
            "user_id",
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            "cents",
            F.sum("cents").over(w).alias("win_cents"),
            F.count("*").over(w).cast("bigint").alias("win_n"),
            (
                F.sum("cents").over(w).cast("double")
                / F.count("*").over(w)
                / 100
            ).alias("moving_avg"),
        )
    )


# ---------------------------------------------------------------------------
# E2+ — blocked fuzzy string matching (Levenshtein within blocking keys)
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 4


@register(
    "q_fuzzy_match",
    oracle=f"""
    WITH pairs AS (
        SELECT a.p_brand,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    )
    SELECT p_brand, CAST(dist AS INTEGER) AS dist,
           count(*) AS n_pairs
    FROM pairs WHERE dist <= {FUZZY_MAX_DIST}
    GROUP BY 1, 2 ORDER BY p_brand, dist
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: the (brand, dist) histogram of
    near-identical part names (Levenshtein ≤ 4) WITHIN (brand, size)
    blocking keys — the classic entity-resolution shape.

    The oracle's row-pair self-join is only the DEFINITION (same
    stance as q_spatial_join's n² oracle). The Spark plan aggregates
    to the DISTINCT-name domain first: (block, name) groups with
    multiplicity, the quadratic edit-distance join over distinct
    names only, row-pair counts recovered as weight products
    (cnt_a·cnt_b across name groups, C(cnt,2) at dist 0 within one).
    Blocking keys are categorical (25 brands × 50 sizes), so block
    size grows LINEARLY with the table and a row-pair join is a
    hidden quadratic. The name domain is vocabulary-bounded (64 distinct at sf0.1 AND sf1), so the pair
    stage is constant-size while the scan stays one linear pass.
    Both engines implement standard unit-cost Levenshtein, so the
    histogram hash-matches."""
    p = t(spark, sf_dir, "part").select("p_brand", "p_size", "p_name")
    # distinct-name domain with multiplicities; referenced three times
    # (both join sides + the same-name leg) — persist the tiny frame
    g = track_cache(
        p.groupBy("p_brand", "p_size", "p_name")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    a = g.alias("a")
    b = g.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_brand").alias("p_brand"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias(
                "dist"
            ),
            (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )
    same = g.filter(F.col("cnt") >= 2).select(
        "p_brand",
        F.lit(0).alias("dist"),
        F.expr("cnt * (cnt - 1) div 2").alias("w"),
    )
    return (
        cross.unionByName(same)
        .groupBy("p_brand", F.col("dist").cast("int").alias("dist"))
        .agg(F.sum("w").cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# A8+ — sequence-gap detection (data-quality / CDC completeness)
# ---------------------------------------------------------------------------


@register(
    "q_sequence_gaps",
    oracle="""
    WITH p AS (
        SELECT event_id,
               lag(event_id) OVER (ORDER BY event_id) AS prev_id
        FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(prev_id + 1 AS BIGINT) AS gap_start,
           CAST(event_id - 1 AS BIGINT) AS gap_end,
           CAST(event_id - prev_id - 1 AS BIGINT) AS gap_len
    FROM p WHERE event_id - prev_id > 1
    ORDER BY gap_start
    """,
)
def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-id range detection over the purchase event stream (the
    CDC-completeness audit: which sequence ranges never arrived?).
    lag over the id order yields each gap as a (start, end, length)
    interval — one row per HOLE, never a dense spine join. The global
    order rides operators/rank.py-style range partitioning in spirit;
    here the stream is pre-filtered sparse so a single ordered window
    over ids is the right size at any sf. At true 100-TB id ranges,
    swap the window for prefix_rank's range-partitioned form — the
    query shape (lag + filter) is unchanged."""
    from frauddetection_spark.operators.rank import prefix_rank

    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id")
    # range-partitioned two-phase rank gives each row its global rn;
    # self-join rn = rn+1 pairs consecutive ids without a global window
    # (tracked persist: both join sides consume the ranked frame)
    r = track_cache(prefix_rank(p, [F.col("event_id")]).persist())
    nxt = r.select(
        (F.col("rn") - 1).alias("rn"), F.col("event_id").alias("next_id")
    )
    pairs = r.join(nxt, "rn")
    return (
        pairs.filter(F.col("next_id") - F.col("event_id") > 1)
        .select(
            (F.col("event_id") + 1).alias("gap_start"),
            (F.col("next_id") - 1).alias("gap_end"),
            (F.col("next_id") - F.col("event_id") - 1).alias("gap_len"),
        )
    )


# ---------------------------------------------------------------------------
# S1+ — malformed-CSV ingestion (PERMISSIVE parse, cross-engine good-row set)
# ---------------------------------------------------------------------------

_BAD_EVERY = 100  # one injected bad line per _BAD_EVERY source rows


@register(
    "q_csv_malformed",
    oracle=f"""
    SELECT count(*) AS n_good,
           count(*) // {_BAD_EVERY} AS n_dropped,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum,
           count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def q_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust CSV ingestion: a fixture seeded from events.parquet with
    deterministic malformed lines injected (truncated rows, non-numeric
    ids, comma-less garbage — one per {_BAD_EVERY} source rows) is read
    in PERMISSIVE mode with a corrupt-record column; the query reports
    the good-row count, the dropped count (vs a raw line count — also
    computed lazily, no driver-side file reads in the plan), and
    aggregates over the surviving rows. Cross-engine contract: Spark's
    PERMISSIVE parse nulls unparseable fields while DuckDB's
    ignore_errors SKIPS the whole row — the engines meet on "good =
    every column parsed non-null", which is exactly the set a
    production loader would land. Fixture is fingerprint-keyed
    (sources/io.py::derived_fixture — zero Spark jobs at construction)."""
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from frauddetection_spark.sources.io import derived_fixture

    def _build(src: str, out: str) -> None:
        import pyarrow.parquet

        tbl = pyarrow.parquet.read_table(
            src, columns=["event_id", "user_id", "value"]
        ).sort_by("event_id")
        rows = zip(*(col.to_pylist() for col in tbl.columns))
        bad_forms = (
            "garbage line without commas",
            "{eid},not_a_number,9.99",
            "{eid},42",
        )
        with open(os.path.join(out, "data.csv"), "w") as fh:
            fh.write("event_id,user_id,value\n")
            for i, (eid, uid, val) in enumerate(rows):
                fh.write(f"{eid},{uid},{val:.2f}\n")
                if i % _BAD_EVERY == _BAD_EVERY - 1:
                    form = bad_forms[(i // _BAD_EVERY) % len(bad_forms)]
                    fh.write(form.format(eid=10_000_000 + i) + "\n")

    path = derived_fixture(sf_dir, "badcsv", "events", _build)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("_corrupt", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(os.path.join(path, "data.csv"))
    )
    good = F.col("event_id").isNotNull() & F.col("user_id").isNotNull() & F.col(
        "value"
    ).isNotNull()
    agg = df.agg(
        F.count(F.when(good, 1)).alias("n_good"),
        F.sum(F.when(good, cents("value"))).alias("cents_sum"),
        F.countDistinct(F.when(good, F.col("user_id"))).alias("n_users"),
    )
    raw_total = (
        spark.read.text(os.path.join(path, "data.csv"))
        .agg((F.count("*") - 1).alias("n_total"))
    )
    return agg.crossJoin(F.broadcast(raw_total)).select(
        "n_good",
        (F.col("n_total") - F.col("n_good")).alias("n_dropped"),
        "cents_sum",
        "n_users",
    )


# ---------------------------------------------------------------------------
# U1+ — schema-evolution union (unionByName with missing columns)
# ---------------------------------------------------------------------------


@register(
    "q_union_by_name",
    oracle="""
    WITH u AS (
        (SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders WHERE o_orderkey % 2 = 0)
        UNION ALL BY NAME
        (SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                o_custkey,
                CAST(year(o_orderdate) AS INTEGER) AS order_year
         FROM orders WHERE o_orderkey % 2 = 1)
    )
    SELECT o_orderkey, o_custkey, price_cents,
           coalesce(order_year, -1) AS order_year
    FROM u ORDER BY o_orderkey
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old extract (3 columns) unioned with
    an evolved one (reordered columns + a new order_year field) via
    unionByName(allowMissingColumns=True) — positional union would
    silently mis-assign the reordered columns, the production failure
    mode this operator exists to prevent. The missing column
    null-fills on the old side (coalesced to a sentinel for type-
    stable hashing). Map-only: no shuffle."""
    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", cents("o_totalprice").alias("price_cents")
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    return (
        old.unionByName(new, allowMissingColumns=True)
        .select(
            "o_orderkey",
            "o_custkey",
            "price_cents",
            F.coalesce("order_year", F.lit(-1)).alias("order_year"),
        )
    )


# ---------------------------------------------------------------------------
# E6+ — MapType round-trip (map_from_entries → explode)
# ---------------------------------------------------------------------------


@register(
    "q_map_roundtrip",
    oracle="""
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    ORDER BY user_id, event_type
    """,
)
def q_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user event-type counts packed into a
    map<string,bigint> column (map_from_entries over a sorted collect)
    and exploded back to rows. Maps never hash cross-engine (entry
    order is engine-private), so the roundtrip — build the map, then
    explode it — is the canonical way to both EXERCISE the type and
    keep the oracle contract; losing or duplicating an entry in either
    direction breaks the hash. The reference's per-user hour
    distribution dict (data_process.py:151-154) is this shape."""
    e = t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    return m.select("user_id", F.explode("type_counts").alias("event_type", "cnt"))


# ---------------------------------------------------------------------------
# A3+ — mergeable HLL sketch rollup (re-aggregatable count-distinct)
# ---------------------------------------------------------------------------


# Rows-only: sketch bytes are engine-internal.
@register("q_hll_rollup", oracle=None)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL rollup: per-(type, week) user sketches merged
    into per-type distinct-user estimates — the MERGEABLE-sketch
    pattern that makes count-distinct re-aggregatable: at 100 TB the
    weekly sketches are tiny materialized aggregates, and any coarser
    grain (month, all-time, cross-type) is a union of sketch bytes —
    no raw re-scan, unlike exact count(DISTINCT) which cannot reuse
    finer-grain results. Engine-internal sketch encoding ⇒ rows-only
    driver check; the estimate-vs-exact error bound (<5% at lgK=12)
    is pinned in tests/test_fraud.py."""
    e = t(spark, sf_dir, "events")
    weekly = e.groupBy("event_type", week_str().alias("week")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        weekly.groupBy("event_type")
        .agg(
            F.count("*").alias("n_weeks"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
    )


# ---------------------------------------------------------------------------
# E2+ — entity resolution: blocked fuzzy pairs → connected components
# ---------------------------------------------------------------------------

ER_MAX_DIST = 3


@register(
    "q_entity_resolution",
    oracle=f"""
    WITH RECURSIVE p AS (
        SELECT p_partkey, p_brand, p_size, p_name FROM part
    ),
    pairs AS (
        SELECT a.p_partkey AS src, b.p_partkey AS dst
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= {ER_MAX_DIST}
    ),
    und AS (
        SELECT src, dst FROM pairs
        UNION
        SELECT dst, src FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM und),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, und.dst
        FROM reach JOIN und ON und.src = reach.r
    ),
    comp AS (SELECT node, min(r) AS entity_id FROM reach GROUP BY node),
    g AS (
        SELECT p.p_partkey,
               coalesce(c.entity_id, p.p_partkey) AS entity_id
        FROM p LEFT JOIN comp c ON p.p_partkey = c.node
    )
    SELECT entity_id, count(*) AS n_parts,
           string_agg(p_partkey, ',' ORDER BY p_partkey) AS members
    FROM g GROUP BY entity_id ORDER BY entity_id
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked Levenshtein pairs
    (q_fuzzy_match's blocking discipline — edit distance only within
    (brand, size) blocks, never all-pairs) become undirected edges,
    connected components collapse transitive matches ("a≈b, b≈c ⇒ one
    entity" even when a,c differ by more than the threshold), and each
    cluster keeps min(key) as the canonical id — the master-data /
    dedupe-customers pipeline in one query. Unmatched rows are
    singleton entities. The component step is the iterative min-label
    fixpoint (operators/graph.py — localCheckpoint lineage discipline);
    the oracle states the same closure as a recursive CTE."""
    from frauddetection_spark.operators.graph import connected_components

    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_name"
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= ER_MAX_DIST
        )
        .select(
            F.col("a.p_partkey").alias("src"),
            F.col("b.p_partkey").alias("dst"),
        )
    )
    comp = connected_components(pairs)
    g = (
        p.select("p_partkey")
        .join(comp.withColumnRenamed("node", "p_partkey"), "p_partkey", "left")
        .select(
            "p_partkey",
            F.coalesce("component", "p_partkey").alias("entity_id"),
        )
    )
    return (
        g.groupBy("entity_id")
        .agg(
            F.count("*").alias("n_parts"),
            F.expr(
                "array_join(transform(sort_array(collect_list(p_partkey)),"
                " x -> cast(x AS string)), ',')"
            ).alias("members"),
        )
    )


# ---------------------------------------------------------------------------
# A8+ — single changepoint per user (binary-segmentation first split)
# ---------------------------------------------------------------------------


@register(
    "q_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - DATE '{ANCHOR}' AS BIGINT) AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT user_id, x, y,
               row_number() OVER w AS k,
               CAST(sum(y) OVER w AS BIGINT) AS sl,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
               CAST(sum(y) OVER (PARTITION BY user_id) AS BIGINT) AS s
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY x
                     ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
        SELECT user_id, x, k, n,
               (sl * sl * (n - k) + (s - sl) * (s - sl) * k)
                   // (k * (n - k)) AS bq,
               (s * s) // n AS b0q
        FROM pre WHERE k < n AND n >= 8
    ),
    best AS (
        SELECT user_id, x AS split_day, k AS split_k, n AS n_days,
               bq, b0q,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY bq DESC, k) AS pick
        FROM scored
    )
    SELECT user_id, n_days, split_k, split_day, bq, b0q,
           bq - b0q AS gain_q
    FROM best WHERE pick = 1
    ORDER BY user_id
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per user (the first split of binary
    segmentation / CUSUM's offline twin): the day index that best
    splits the user's daily-spend series into two segments, maximizing
    the between-segment sum-of-squares B(k) = S_L²/n_L + S_R²/n_R
    (equivalent to minimizing total SSE since Σy² is constant in k).
    The level-shift readout behind 'this account's behavior changed on
    day X' alerts.

    Exactness: comparing B across candidate splits is a
    fraction-comparison problem (denominators n_L·n_R differ per k) a
    window ordering can't cross-multiply, so B is floor-quantized to
    the integer (S_L²·n_R + S_R²·n_L) div (n_L·n_R) — positive
    operands, so Spark's truncating div and DuckDB's flooring // agree
    — and the argmax is deterministic with the k tiebreak. Floors cost
    <1 cent² of resolution against gains of ~1e9. Int64 bounds:
    S²·n ≤ 9.2e18 needs per-user |Σcents| < 2.1e8·√(200/n) — testdata
    daily sums are ~1e6; a 100-TB deploy lifts the three products to
    decimal(38,0) unchanged. Scale: one groupBy + ONE user-partitioned
    window (group-bounded — never global), argmax is a second tiny
    window over n_days-1 candidate rows per user."""
    e = t(spark, sf_dir, "events")

    daily = e.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.to_date(F.lit(ANCHOR)))
        .cast("bigint")
        .alias("x"),
    ).agg(F.sum(cents("value")).alias("y"))
    wp = Window.partitionBy("user_id").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wu = Window.partitionBy("user_id")
    pre = daily.select(
        "user_id",
        "x",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("x"))
        .cast("bigint")
        .alias("k"),
        F.sum("y").over(wp).alias("sl"),
        F.count("*").over(wu).cast("bigint").alias("n"),
        F.sum("y").over(wu).alias("s"),
    )
    sl, s, k, n = F.col("sl"), F.col("s"), F.col("k"), F.col("n")
    scored = pre.filter((k < n) & (n >= 8)).select(
        "user_id",
        "x",
        "k",
        "n",
        F.expr(
            "(sl * sl * (n - k) + (s - sl) * (s - sl) * k) div (k * (n - k))"
        ).alias("bq"),
        F.expr("(s * s) div n").alias("b0q"),
    )
    best = scored.select(
        "user_id",
        F.col("x").alias("split_day"),
        F.col("k").alias("split_k"),
        F.col("n").alias("n_days"),
        "bq",
        "b0q",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("bq").desc(), "k"))
        .alias("pick"),
    )
    return (
        best.filter(F.col("pick") == 1)
        .select(
            "user_id",
            "n_days",
            "split_k",
            "split_day",
            "bq",
            "b0q",
            (F.col("bq") - F.col("b0q")).alias("gain_q"),
        )
    )


# ---------------------------------------------------------------------------
# A10+ — mutual-information feature ranking
# ---------------------------------------------------------------------------


@register(
    "q_mutual_info",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               (epoch_us(ts) // 3600000000) % 24 // 4 AS f_hourband,
               least(CAST(round(value * 100) AS BIGINT) // 20000, 4)
                   AS f_valband
        FROM events
    ),
    melted AS (
        SELECT 'hour_band' AS feature, f_hourband AS fval, y FROM base
        UNION ALL
        SELECT 'value_band' AS feature, f_valband AS fval, y FROM base
    ),
    joint AS (
        SELECT feature, fval, y, CAST(count(*) AS BIGINT) AS nxy
        FROM melted GROUP BY 1, 2, 3
    ),
    mx AS (SELECT feature, fval, CAST(sum(nxy) AS BIGINT) AS nx
           FROM joint GROUP BY 1, 2),
    my AS (SELECT feature, y, CAST(sum(nxy) AS BIGINT) AS ny
           FROM joint GROUP BY 1, 2),
    tot AS (SELECT feature, CAST(sum(nxy) AS BIGINT) AS n FROM joint GROUP BY 1)
    SELECT j.feature AS feature,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((CAST(j.nxy AS DOUBLE) / t.n)
                     * ln(CAST(j.nxy AS DOUBLE) * t.n
                          / (CAST(x.nx AS DOUBLE) * y.ny))), 6) AS mi_nats
    FROM joint j
    JOIN mx x ON x.feature = j.feature AND x.fval = j.fval
    JOIN my y ON y.feature = j.feature AND y.y = j.y
    JOIN tot t ON t.feature = j.feature
    GROUP BY j.feature, t.n
    ORDER BY j.feature
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking: MI(feature; purchase) in
    nats for two discretized behavioral features — the model-free
    relevance screen that catches nonlinear and non-monotone
    dependence where correlation and WOE/IV (q_woe_iv, which assumes
    a binary-target monotone story per bin) both understate it. Joint
    and marginal counts are exact ints from ONE melted pass (the cell
    space is bounded: ≤6 feature values × 2 outcomes per feature);
    the only float op chain is the final Σ p·ln(...) over those few
    cells, r6-rounded in both twins (the q_entropy libm discipline —
    ln is the one function the integer toolkit can't replace when
    arguments are data-dependent). Scale: one groupBy to cells, then
    arithmetic over a broadcast-sized frame."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.expr("(unix_micros(ts) div 3600000000) % 24 div 4").alias(
            "f_hourband"
        ),
        F.least(
            F.expr("cast(round(value * 100) as bigint) div 20000"), F.lit(4)
        ).alias("f_valband"),
    )
    melted = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hour_band").alias("feature"),
                    F.col("f_hourband").alias("fval"),
                ),
                F.struct(
                    F.lit("value_band").alias("feature"),
                    F.col("f_valband").alias("fval"),
                ),
            )
        ).alias("m"),
        "y",
    ).select("m.feature", "m.fval", "y")
    # persisted: the cell table is ≤ 6 fvals × 2 outcomes × 2 features
    # (bounded by the discretization, never the data), but mx/my/tot
    # and the final join all reference it — unpersisted, each leg
    # replays the full melted events pass (the "ONE melted pass" claim
    # above held only if ReusedExchange happened to fire)
    joint = track_cache(
        melted.groupBy("feature", "fval", "y")
        .agg(F.count("*").alias("nxy"))
        .persist()
    )
    mx = joint.groupBy("feature", "fval").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("feature", "y").agg(F.sum("nxy").alias("ny"))
    tot = joint.groupBy("feature").agg(F.sum("nxy").alias("n"))
    j = (
        joint.join(mx, ["feature", "fval"])
        .join(my, ["feature", "y"])
        .join(F.broadcast(tot), "feature")
    )
    term = (F.col("nxy").cast("double") / F.col("n")) * F.log(
        F.col("nxy").cast("double")
        * F.col("n")
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    return (
        j.groupBy("feature")
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.sum(term), 6).alias("mi_nats"),
        )
        .select("feature", "n_cells", "mi_nats")
    )


# ---------------------------------------------------------------------------
# A10+ — one-way ANOVA F (between/within variance decomposition)
# ---------------------------------------------------------------------------


@register(
    "q_anova_f",
    oracle="""
    WITH cells AS (
        SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'click' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'error' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'view' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_view,
               CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sg,
               CAST(sum(CAST(round(value * 100) AS HUGEINT)
                        * CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
                   AS ssg
        FROM events
    )
    SELECT CAST(5 AS BIGINT) AS k, nn,
           ((CAST(s_click AS DOUBLE) * s_click / n_click)
           + (CAST(s_error AS DOUBLE) * s_error / n_error)
           + (CAST(s_purchase AS DOUBLE) * s_purchase / n_purchase)
           + (CAST(s_signup AS DOUBLE) * s_signup / n_signup)
           + (CAST(s_view AS DOUBLE) * s_view / n_view))
               - CAST(sg AS DOUBLE) * sg / nn AS ss_between,
           CAST(ssg AS DOUBLE) - ((CAST(s_click AS DOUBLE) * s_click / n_click)
           + (CAST(s_error AS DOUBLE) * s_error / n_error)
           + (CAST(s_purchase AS DOUBLE) * s_purchase / n_purchase)
           + (CAST(s_signup AS DOUBLE) * s_signup / n_signup)
           + (CAST(s_view AS DOUBLE) * s_view / n_view)) AS ss_within,
           ((((CAST(s_click AS DOUBLE) * s_click / n_click)
           + (CAST(s_error AS DOUBLE) * s_error / n_error)
           + (CAST(s_purchase AS DOUBLE) * s_purchase / n_purchase)
           + (CAST(s_signup AS DOUBLE) * s_signup / n_signup)
           + (CAST(s_view AS DOUBLE) * s_view / n_view))
             - CAST(sg AS DOUBLE) * sg / nn) / (5 - 1))
               / ((CAST(ssg AS DOUBLE) - ((CAST(s_click AS DOUBLE) * s_click / n_click)
           + (CAST(s_error AS DOUBLE) * s_error / n_error)
           + (CAST(s_purchase AS DOUBLE) * s_purchase / n_purchase)
           + (CAST(s_signup AS DOUBLE) * s_signup / n_signup)
           + (CAST(s_view AS DOUBLE) * s_view / n_view))) / (nn - 5))
               AS f_stat
    FROM cells
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean spend differ across the five event
    types? The k-group generalization of the suite's two-sample tests
    (q_ttest_welch compares two groups; running k·(k−1)/2 pairwise
    t-tests inflates false positives — the F test is the single gate
    before pairwise drill-down). Sufficient statistics are exact
    (per-type n and Σcents as int64, global Σcents² as
    decimal/HUGEINT); SS_between = Σ(s²/n) − S²/N and SS_within =
    Σc² − Σ(s²/n). The Σ(s²/n) float sum is ORDER-dependent across
    engines, so the five per-type terms pivot into ONE row via
    conditional aggregation over the fixed type domain and add in a
    single written left-to-right order identical in both twins — the
    q_did fixed-cell discipline. Scale: one partial-aggregated pass
    to a single row, then scalar math."""
    e = t(spark, sf_dir, "events")
    c = cents("value")
    cells = e.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n_click"),
        F.sum(F.when(F.col("event_type") == "click", c).otherwise(0))
        .cast("bigint")
        .alias("s_click"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_error"),
        F.sum(F.when(F.col("event_type") == "error", c).otherwise(0))
        .cast("bigint")
        .alias("s_error"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "purchase", c).otherwise(0))
        .cast("bigint")
        .alias("s_purchase"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("bigint")
        .alias("n_signup"),
        F.sum(F.when(F.col("event_type") == "signup", c).otherwise(0))
        .cast("bigint")
        .alias("s_signup"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("n_view"),
        F.sum(F.when(F.col("event_type") == "view", c).otherwise(0))
        .cast("bigint")
        .alias("s_view"),
        F.count("*").alias("nn"),
        F.sum(c).alias("sg"),
        F.sum(c.cast("decimal(38,0)") * c).alias("ssg"),
    )
    sq_over_n = (
        (F.col("s_click").cast("double") * F.col("s_click") / F.col("n_click"))
        + (F.col("s_error").cast("double") * F.col("s_error") / F.col("n_error"))
        + (F.col("s_purchase").cast("double") * F.col("s_purchase") / F.col("n_purchase"))
        + (F.col("s_signup").cast("double") * F.col("s_signup") / F.col("n_signup"))
        + (F.col("s_view").cast("double") * F.col("s_view") / F.col("n_view"))
    )
    ssb = sq_over_n - F.col("sg").cast("double") * F.col("sg") / F.col("nn")
    ssw = F.col("ssg").cast("double") - sq_over_n
    return cells.select(
        F.lit(5).cast("bigint").alias("k"),
        F.col("nn").cast("bigint").alias("nn"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        ((ssb / (5 - 1)) / (ssw / (F.col("nn") - 5))).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------


@register(
    "q_theilsen",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT)
                   AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS spend_c
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.user_id,
               CAST(floor(CAST((b.spend_c - a.spend_c) AS DOUBLE) * 1000000
                          / (b.d - a.d)) AS BIGINT) AS slope_q,
               a.d AS di, b.d AS dj
        FROM daily a JOIN daily b
          ON a.user_id = b.user_id AND b.d > a.d
    ),
    ranked AS (
        SELECT user_id, slope_q,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY slope_q, di, dj) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_pairs
        FROM pairs
    )
    SELECT r.user_id,
           nd.n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope_q AS ts_slope_q,
           CAST(r.slope_q AS DOUBLE) / 1000000 AS ts_slope_cents_per_day
    FROM ranked r
    JOIN (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1) nd USING (user_id)
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY user_id
    """,
)
def q_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator of each user's daily-spend trend: the
    MEDIAN of all pairwise slopes (spend_j − spend_i)/(d_j − d_i) —
    the robust line fit that tolerates up to ~29% outlier days, where
    the OLS slope (q_trend_slope's family) is dragged by a single
    refund spike or binge day. Work is O(days²) per user, but days
    are bounded by the CALENDAR WINDOW (≤ 31 here), not by data
    volume — at 100 TB the pair space grows linearly with users,
    never quadratically with events; the pair join is per-user-keyed
    (co-partitioned self-join after ONE daily rollup shuffle).
    Numerics: slopes quantize to floor(Δcents·1e6 / Δdays) — the
    numerator is exact int64, the IEEE double division and floor are
    bit-identical cross-engine, and the MEDIAN is the LOWER median
    picked by row_number over the total order (slope_q, di, dj), so
    no two-middle averaging and no float rank. A user needs ≥ 2
    active days to emit a row."""
    # Persist the daily rollup: it feeds both pair sides AND the
    # n_days count — unpersisted, the events scan + rollup shuffle
    # replay 3× per execution. Per-(user, calendar-day) rows: bounded
    # at users × window days, tiny next to the fact.
    daily = track_cache(
        t(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.datediff(F.col("ts"), F.lit("2024-01-01").cast("timestamp"))
            .cast("bigint").alias("d"),
        )
        .agg(F.sum(cents(F.col("value"))).cast("bigint").alias("spend_c"))
        .persist()
    )
    a = daily.select("user_id", F.col("d").alias("di"), F.col("spend_c").alias("ci"))
    b = daily.select("user_id", F.col("d").alias("dj"), F.col("spend_c").alias("cj"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("dj") > F.col("di"))
        .select(
            "user_id",
            F.floor(
                (F.col("cj") - F.col("ci")).cast("double")
                * 1000000
                / (F.col("dj") - F.col("di"))
            ).cast("bigint").alias("slope_q"),
            "di",
            "dj",
        )
    )
    w = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id",
        "slope_q",
        F.row_number().over(w.orderBy("slope_q", "di", "dj")).alias("rn"),
        F.count("*").over(w).alias("n_pairs"),
    )
    nd = daily.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .join(nd, "user_id")
        .select(
            "user_id",
            "n_days",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("slope_q").alias("ts_slope_q"),
            (F.col("slope_q").cast("double") / 1000000).alias(
                "ts_slope_cents_per_day"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Pro-rata date spread (revenue recognition over the order→ship window)
# ---------------------------------------------------------------------------


@register(
    "q_date_spread",
    oracle="""
    WITH li AS (
        SELECT l.l_orderkey,
               CAST(o.o_orderdate AS DATE) AS d0,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) + 1
                   AS nd,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS total_c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), spread AS (
        SELECT li.d0 + CAST(t.i AS INTEGER) AS day_d,
               total_c // nd
                   + CASE WHEN t.i < total_c % nd THEN 1 ELSE 0 END
                   AS amount_c
        FROM li
        CROSS JOIN LATERAL unnest(generate_series(0, nd - 1)) AS t(i)
        WHERE nd BETWEEN 1 AND 400
    )
    SELECT strftime(day_d, '%Y-%m-%d') AS day,
           CAST(sum(amount_c) AS BIGINT) AS recognized_c,
           CAST(count(*) AS BIGINT) AS n_allocs
    FROM spread GROUP BY 1 ORDER BY 1
    """,
)
def q_date_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pro-rata allocation over a date interval — the revenue-
    recognition / calendarization staple: each line's price is spread
    evenly across the days from order date to ship date, recognized
    daily. Exactness via LARGEST-REMAINDER cents: per-day share is
    total div nd, and the first r = (total mod nd) days get one extra
    cent, so the per-line allocations re-sum to the line total to the
    cent (no float drift for either engine to disagree on).

    The oracle states the semantics as the naive O(lines × days)
    explode; the Spark plan is the DIFFERENCE-ARRAY rewrite — each
    line emits THREE boundary deltas instead of nd exploded rows
    (+[base+1, alloc] at d0, −1 at d0+r ending the extra-cent run,
    −[base, alloc] at d0+nd), deltas pre-aggregate per day map-side,
    and one prefix sum over the dense calendar spine reconstructs
    every day's total. Per-line work is O(1) regardless of span, the
    day-key shuffle is calendar-bounded, and the prefix sum runs over
    spine-many rows (~years×365) through the range-partitioned
    prefix_rank — at 100 TB this is ~50× less intermediate volume
    than the explode with bit-identical output.

    The three deltas leave each line as ONE explode(array(struct×3)):
    a unionAll-of-three-selects would reference the scan+join lineage
    three times (plus a fourth for the spine bounds), leaving dedup to
    optimizer ReusedExchange, which is not guaranteed (see
    operators/rank.py on sampled range bounds). So the lineage is
    evaluated exactly once by construction; the spine bounds come from the aggregated delta
    table itself (its min day IS min(d0) — branch-1 rows sit at d0
    and the other branches at ≥ d0; its max day IS max(d0+nd) —
    branch-3 rows dominate both others), which is calendar-bounded,
    so the one persist this plan carries is O(days), never O(data).
    Output verified row-identical at sf0.1; the win is the deleted
    triple scan+join, which at 100 TB is 3 extra full passes of
    lineitem ⨝ orders."""
    from frauddetection_spark.operators.rank import prefix_rank

    li = (
        t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.to_date("l_shipdate").alias("ship_d"),
            cents(F.col("l_extendedprice")).alias("total_c"),
        )
        .join(
            t(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.to_date("o_orderdate").alias("d0"),
            ),
            "l_orderkey",
        )
        .withColumn(
            "nd", (F.datediff(F.col("ship_d"), F.col("d0")) + 1).cast("bigint")
        )
        .filter(F.col("nd").between(1, 400))
        # greatest(nd,1) is a no-op post-filter (nd >= 1) but keeps the
        # div/mod exception-free if the optimizer evaluates the
        # projection alongside the filter in one codegen stage.
        .select(
            "d0",
            "nd",
            F.expr("total_c div greatest(nd, 1L)").alias("base"),
            (F.col("total_c") % F.greatest(F.col("nd"), F.lit(1).cast("bigint"))).alias(
                "r"
            ),
        )
    )
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    deltas = track_cache(
        li.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("d0").alias("day_d"),
                        (F.col("base") + one).alias("dc"),
                        one.alias("dn"),
                    ),
                    F.struct(
                        F.date_add("d0", F.col("r").cast("int")).alias(
                            "day_d"
                        ),
                        (-one).alias("dc"),
                        zero.alias("dn"),
                    ),
                    F.struct(
                        F.date_add("d0", F.col("nd").cast("int")).alias(
                            "day_d"
                        ),
                        (-F.col("base")).alias("dc"),
                        (-one).alias("dn"),
                    ),
                )
            ).alias("x")
        )
        .select("x.day_d", "x.dc", "x.dn")
        .groupBy("day_d")
        .agg(F.sum("dc").alias("dsum"), F.sum("dn").alias("nsum"))
        .persist()
    )
    # Dense calendar spine: boundary deltas only exist at range edges,
    # but every day inside a range carries recognition — spine
    # cardinality is bounded by the calendar, never the data. Bounds
    # read the persisted delta table (O(days)), not the data lineage.
    spine = (
        deltas.agg(
            F.min("day_d").alias("lo"),
            F.max("day_d").alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day_d"))
        .join(deltas, "day_d", "left")
        .select(
            "day_d",
            F.coalesce("dsum", F.lit(0)).alias("dsum"),
            F.coalesce("nsum", F.lit(0)).alias("nsum"),
        )
    )
    run = prefix_rank(
        spine,
        [F.col("day_d")],
        sums={"recognized_c": F.col("dsum"), "n_allocs": F.col("nsum")},
    )
    return (
        run.filter(F.col("n_allocs") > 0)
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            F.col("recognized_c").cast("bigint").alias("recognized_c"),
            F.col("n_allocs").cast("bigint").alias("n_allocs"),
        )
    )
