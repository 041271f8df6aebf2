"""Windowed behavioral features (SURVEY.md §2.4 A1, A5-A13) — the
reference's heart: `data_process.py`'s per-user per-time-window feature
library, re-expressed as single-pass window/groupBy plans.

The reference materializes a list of week-sliced DataFrames and loops
over users inside each slice (data_process.py:90-169). Here the slice
key is just a grouping column — every window computes in one shuffle,
which is the difference between O(weeks × users) python iterations and
one distributed pass at 100 TB.

Counterparty (the reference's `opposite_no_m`) derives from
``events.props.k``; week buckets are Monday-anchored
``date_trunc('week')`` in both engines (SURVEY §7 watch-list #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from frauddetection_spark.operators.graph import SQL_CONTACT, contact
from frauddetection_spark.operators.rank import prefix_rank
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import SQL_WEEK, cents, t, week_str

_WEEK = SQL_WEEK.format(ts="ts")


def _events_with_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").withColumn("week", week_str())


# ---------------------------------------------------------------------------
# A1 — grouped aggregate broadcast back to rows (pandas groupby.transform)
# ---------------------------------------------------------------------------


@register(
    "q_window_agg_transform",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, ts,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(vc) OVER w AS DOUBLE) / count(*) OVER w / 100
               AS week_avg_value,
           count(*) OVER w AS week_n_events,
           (CAST(sum(vc * vc) OVER w AS DOUBLE)
            - CAST(sum(vc) OVER w * sum(vc) OVER w AS DOUBLE)
              / count(*) OVER w)
           / count(*) OVER w / 10000 AS week_var_value
    FROM e
    WINDOW w AS (PARTITION BY user_id, {_WEEK})
    """,
)
def q_window_agg_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row weekly mean/var/count (reference: groupby([user,
    Grouper('1W')])['call_dur'].transform(nanmean/nanvar/count),
    data_process.py:75-86). Population variance (np.nanvar ddof=0)
    computed as (Σx² − (Σx)²/n)/n over exact integer cents in BOTH
    twins: native var_pop kernels (Welford vs merge) and double
    summation order each drift ~1e-7 relative, which leaks through any
    fixed rounding. One window spec → one shuffle on (user, week)."""
    e = _events_with_week(spark, sf_dir).withColumn("vc", cents("value"))
    w = Window.partitionBy("user_id", "week")
    sv = F.sum("vc").over(w)
    svv = F.sum(F.col("vc") * F.col("vc")).over(w)
    n = F.count("*").over(w)
    # unrounded: exact-int-derived doubles are bit-equal across engines;
    # round(x, 6) itself diverges at .5e-6 boundaries (sf0.1 sweep)
    return e.select(
        "event_id",
        "user_id",
        (sv.cast("double") / n / 100).alias("week_avg_value"),
        n.alias("week_n_events"),
        ((svv.cast("double") - (sv * sv).cast("double") / n) / n / 10000).alias("week_var_value"),
    )


# ---------------------------------------------------------------------------
# A5 — two-level aggregation (mean of per-day stats)
# ---------------------------------------------------------------------------


@register(
    "q_two_level_agg",
    oracle="""
    WITH per_day AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               CAST(round(CAST(sum(CAST(round(value * 100) AS BIGINT))
                               AS DOUBLE) / count(*) / 100 * 1000000)
                    AS BIGINT) AS day_avg_q,
               CAST(round(quantile_cont(value, 0.5) * 1000000)
                    AS BIGINT) AS day_med_q,
               count(*) AS day_n
        FROM events GROUP BY user_id, day
    )
    SELECT user_id,
           CAST(sum(day_avg_q) AS DOUBLE) / count(*) / 1000000
               AS mean_of_day_means,
           CAST(sum(day_med_q) AS DOUBLE) / count(*) / 1000000
               AS mean_of_day_medians,
           CAST(sum(day_n) AS DOUBLE) / count(*) AS mean_daily_events,
           count(*) AS n_active_days
    FROM per_day GROUP BY user_id ORDER BY user_id
    """,
)
def q_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean of per-day means/medians per user (reference: time_gap
    src/utils.py:23-38, time :75-91). Inner groupBy(user, day) → outer
    groupBy(user); both levels partial-aggregate map-side and the outer
    reuses the inner's hash partitioning on user_id (no extra shuffle
    of the full fact)."""
    # Per-day stats are quantized to fixed-point int64 (millionths)
    # before the outer mean: a float sum over per-day doubles is
    # summation-order-dependent across engines, an int sum is not.
    e = t(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    per_day = e.groupBy("user_id", "day").agg(
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / F.count("*")
            / 100
            * 1_000_000
        )
        .cast("bigint")
        .alias("day_avg_q"),
        F.round(F.percentile("value", 0.5) * 1_000_000)
        .cast("bigint")
        .alias("day_med_q"),
        F.count("*").alias("day_n"),
    )
    n = F.count("*")
    return (
        per_day.groupBy("user_id")
        .agg(
            (F.sum("day_avg_q").cast("double") / n / 1_000_000).alias(
                "mean_of_day_means"
            ),
            (F.sum("day_med_q").cast("double") / n / 1_000_000).alias(
                "mean_of_day_medians"
            ),
            (F.sum("day_n").cast("double") / n).alias("mean_daily_events"),
            F.count("*").alias("n_active_days"),
        )
    )


# ---------------------------------------------------------------------------
# A6 — relative-frequency histogram (hour-of-day distribution)
# ---------------------------------------------------------------------------


@register(
    "q_histogram_norm",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(hour(ts) AS INTEGER) AS hour_of_day, count(*) AS n
        FROM events GROUP BY user_id, hour_of_day
    )
    SELECT user_id, hour_of_day,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY user_id) AS share
    FROM c ORDER BY user_id, hour_of_day
    """,
)
def q_histogram_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized hour-of-day histogram per user (reference:
    value_counts(normalize=True) data_process.py:151-154; hand-rolled
    24-bin src/utils.py:94-106). Aggregate first, then a window over
    the *aggregated* (≤24 rows/user) frame — never a window over the
    raw fact."""
    e = t(spark, sf_dir, "events").withColumn("hour_of_day", F.hour("ts"))
    c = e.groupBy("user_id", "hour_of_day").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id")
    return (
        c.select(
            "user_id",
            "hour_of_day",
            (F.col("n").cast("double") / F.sum("n").over(w)).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# A7 — per-group share + dispersion (energy dispersion)
# ---------------------------------------------------------------------------


@register(
    "q_share_dispersion",
    oracle=f"""
    WITH per_cp AS (
        SELECT user_id, {SQL_CONTACT} AS k,
               count(*) AS n_cp
        FROM events GROUP BY user_id, k
    ),
    agg AS (
        SELECT user_id,
               CAST(sum(n_cp) AS BIGINT) AS n_total,
               CAST(sum(n_cp * n_cp) AS BIGINT) AS sum_sq,
               count(*) AS n
        FROM per_cp GROUP BY user_id
    )
    SELECT user_id,
           1.0 / n AS mean_share,
           (CAST(sum_sq AS DOUBLE)
            / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))
            - 1.0 / n) / n AS var_share,
           n AS n_counterparties
    FROM agg ORDER BY user_id
    """,
)
def q_share_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy dispersion: per-counterparty share of a user's events,
    then mean/variance of shares per user (reference: inline window
    version data_process.py:81-86; utils energy_dispersion
    src/utils.py:213-224 — live semantics per SURVEY B8). Two-level
    aggregate; the share denominator is a window sum over the already-
    aggregated (user, counterparty) frame."""
    # Shares sum to 1 by construction, so mean_share ≡ 1/n and the
    # dispersion reduces to exact integers: var = (Σn_cp²/n_total² −
    # 1/n)/n — no float sums anywhere, and no window pass (one fewer
    # shuffle than the share-materializing form).
    e = t(spark, sf_dir, "events").withColumn("k", contact())
    per_cp = e.groupBy("user_id", "k").agg(F.count("*").alias("n_cp"))
    agg = per_cp.groupBy("user_id").agg(
        F.sum("n_cp").cast("bigint").alias("n_total"),
        F.sum(F.col("n_cp") * F.col("n_cp")).cast("bigint").alias("sum_sq"),
        F.count("*").alias("n"),
    )
    n = F.col("n")
    return agg.select(
        "user_id",
        (F.lit(1.0) / n).alias("mean_share"),
        (
            (
                F.col("sum_sq").cast("double")
                / (F.col("n_total").cast("double") * F.col("n_total").cast("double"))
                - F.lit(1.0) / n
            )
            / n
        ).alias("var_share"),
        n.alias("n_counterparties"),
    )


# ---------------------------------------------------------------------------
# A8 — lag within ordered partition (inter-event gaps, same-day only)
# ---------------------------------------------------------------------------


@register(
    "q_lag_gap",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
               )) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1e6 AS mean_gap_sec,
           count(gap_us) AS n_gaps
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def q_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean inter-event gap per user, same-day pairs only (reference:
    shift(1) within day, src/utils.py:31-33,50-53 — cross-day gaps
    excluded by partitioning on (user, date)). Micros as int64 keep the
    sum exact in both engines (a float64 running average drifts at 1e10
    magnitude); one double division at the end. Ties broken by
    event_id."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    g = e.withColumn(
        "gap_us", F.unix_micros("ts") - F.unix_micros(F.lag("ts", 1).over(w))
    ).filter(F.col("gap_us").isNotNull())
    return (
        g.groupBy("user_id")
        .agg(
            (F.sum("gap_us").cast("double") / F.count("gap_us") / 1e6).alias("mean_gap_sec"),
            F.count("gap_us").alias("n_gaps"),
        )
    )


# ---------------------------------------------------------------------------
# A9 — consecutive-window set Jaccard
# ---------------------------------------------------------------------------


@register(
    "q_jaccard_lag",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT user_id, {_WEEK} AS week,
               {SQL_CONTACT} AS k
        FROM events
    ), sets AS (
        SELECT user_id, week,
               list_filter(list(k ORDER BY k), x -> x IS NOT NULL) AS cur
        FROM pairs GROUP BY user_id, week
    ), lagged AS (
        SELECT user_id, week, cur,
               lag(cur) OVER (PARTITION BY user_id ORDER BY week) AS prev
        FROM sets
    )
    SELECT user_id, week,
           CASE WHEN len(list_distinct(cur || prev)) > 0
                THEN CAST(len(list_intersect(cur, prev)) AS DOUBLE)
                     / len(list_distinct(cur || prev)) END AS jaccard,
           CAST(len(cur) AS BIGINT) AS n_contacts
    FROM lagged WHERE prev IS NOT NULL
    ORDER BY user_id, week
    """,
)
def q_jaccard_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of a user's contact set vs the previous week
    (reference: contacts-this-week ∩/∪ last-week, data_process.py:
    122-129, src/utils.py:109-128). collect_set per (user, week) —
    bounded by distinct contacts, not events — then a lag over weeks.
    The reference's O(users × weeks) python loop is one shuffle here
    (collect_set dedups inside the aggregation buffer with
    map-side partial merge, replacing a distinct() +
    collect_list two-shuffle form — same sorted sets, one fewer
    event-scale exchange). A null contact is not in a set (collect_set
    skips it; the twin filters it), so a week of null ``props`` has
    ``n_contacts`` 0, and ``jaccard`` is NULL when the union is
    empty."""
    e = _events_with_week(spark, sf_dir).withColumn("k", contact())
    sets = (
        e.select("user_id", "week", "k")
        .groupBy("user_id", "week")
        .agg(F.sort_array(F.collect_set("k")).alias("cur"))
    )
    w = Window.partitionBy("user_id").orderBy("week")
    lagged = sets.withColumn("prev", F.lag("cur", 1).over(w)).filter(
        F.col("prev").isNotNull()
    )
    union = F.size(F.array_union("cur", "prev"))
    return lagged.select(
        "user_id",
        "week",
        F.when(
            union > 0,
            F.size(F.array_intersect("cur", "prev")).cast("double") / union,
        ).alias("jaccard"),
        F.size("cur").cast("bigint").alias("n_contacts"),
    )


# ---------------------------------------------------------------------------
# A10 — global-stats normalization (z-score)
# ---------------------------------------------------------------------------


@register(
    "q_zscore",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bc
        FROM customer
    ), s AS (
        SELECT c_custkey, c_nationkey, bc,
               sum(bc) OVER w AS sv,
               sum(bc * bc) OVER w AS svv,
               count(*) OVER w AS n
        FROM c WINDOW w AS (PARTITION BY c_nationkey)
    )
    SELECT c_custkey, c_nationkey,
           CASE WHEN svv - CAST(sv * sv AS DOUBLE) / n > 0
                THEN (bc - CAST(sv AS DOUBLE) / n)
                     / sqrt((svv - CAST(sv * sv AS DOUBLE) / n) / n)
                ELSE 0.0 END AS acctbal_z
    FROM s ORDER BY c_custkey
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation z-score of account balance (reference: normalize,
    src/utils.py:273-279 — intended semantics; B6's mean-scaling bug is
    not reproduced per SURVEY §0). Population stddev = np.std ddof=0,
    computed from exact integer-cent sums in both twins (native stddev
    kernels drift ~1e-7 relative; cents cancel in the z ratio).
    Zero-variance groups map to 0, matching np.nan_to_num downstream."""
    c = t(spark, sf_dir, "customer").withColumn("bc", cents("c_acctbal"))
    w = Window.partitionBy("c_nationkey")
    sv = F.sum("bc").over(w)
    svv = F.sum(F.col("bc") * F.col("bc")).over(w)
    n = F.count("*").over(w)
    var = svv - (sv * sv).cast("double") / n
    z = (F.col("bc") - sv.cast("double") / n) / F.sqrt(var / n)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.when(var > 0, z).otherwise(F.lit(0.0)).alias("acctbal_z"),
    )


# ---------------------------------------------------------------------------
# A11 — grouped class rates
# ---------------------------------------------------------------------------


@register(
    "q_class_rates",
    oracle="""
    WITH c AS (
        SELECT event_type, count(*) AS n,
               avg(CASE WHEN value > 150 THEN 1.0 ELSE 0.0 END) AS high_rate
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, high_rate,
           CAST(n AS DOUBLE) / sum(n) OVER () AS type_share
    FROM c ORDER BY event_type
    """,
)
def q_class_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rates + group shares (reference: fraud rate sum(y)/len(y),
    new_utlis_1.py:56-57; XOR-cased edge-class rates new_utlis_2.py:
    87-101). The global denominator is a broadcast single-row
    aggregate off the same grouped frame (Exchange reuse — no second
    scan, no unpartitioned window: an empty-partitionBy window would
    be bounded only by the group-key cardinality)."""
    from frauddetection_spark.operators.caching import track_cache

    e = t(spark, sf_dir, "events")
    # type-sized; feeds the total AND the output — persisted so
    # the events aggregate runs once (zero ReusedExchange before)
    c = track_cache(
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg(F.when(F.col("value") > 150, 1.0).otherwise(0.0)).alias(
                "high_rate"
            ),
        )
        .persist()
    )
    tot = c.agg(F.sum("n").alias("_tot"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n",
            "high_rate",
            (F.col("n").cast("double") / F.col("_tot")).alias("type_share"),
        )
    )


# ---------------------------------------------------------------------------
# A12 — dense spine (every (user, week) cell present, zero-filled)
# ---------------------------------------------------------------------------


@register(
    "q_dense_spine",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    weeks AS (SELECT DISTINCT {_WEEK} AS week FROM events),
    counts AS (
        SELECT user_id, {_WEEK} AS week, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
                   AS sum_value
        FROM events GROUP BY user_id, week
    )
    SELECT u.user_id, w.week,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events,
           coalesce(c.sum_value, 0.0) AS sum_value
    FROM users u CROSS JOIN weeks w
    LEFT JOIN counts c ON c.user_id = u.user_id AND c.week = w.week
    ORDER BY u.user_id, w.week
    """,
)
def q_dense_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (user × week) grid with zero-filled gaps (reference:
    append [0]*32 for absent users per slice, data_process.py:159-169).

    The fact is touched ONCE: the (user, week) counts aggregate is
    persisted and BOTH spine dimensions are derived from it —
    ``distinct user_id`` / ``distinct week`` over the aggregate's keys
    equal the distincts over events, since groupBy drops no key. The
    original three-scan form (two dimension distincts + the counts agg,
    each reading events from parquet) measured slower: 3 fact scans +
    5 exchanges of per-stage latency. At 100 TB the win is structural — one
    pass over the fact, dims from the ~|users|·|weeks|-sized aggregate.
    The spine is tiny relative to the fact, so the cross join
    broadcasts."""
    from frauddetection_spark.operators.caching import track_cache

    e = _events_with_week(spark, sf_dir)
    counts = track_cache(
        e.groupBy("user_id", "week")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("double")
                / 100
            ).alias("sum_value"),
        )
        .persist()
    )
    users = counts.select("user_id").distinct()
    weeks = counts.select("week").distinct()
    spine = users.crossJoin(F.broadcast(weeks))
    return (
        spine.join(counts, ["user_id", "week"], "left")
        .select(
            "user_id",
            "week",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# A13 — ordered collect to series (tensor assembly)
# ---------------------------------------------------------------------------


@register(
    "q_collect_series",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, {_WEEK} AS week, count(*) AS n
        FROM events GROUP BY user_id, week
    )
    SELECT user_id,
           array_to_string(list(n ORDER BY week), ',') AS weekly_series,
           count(*) AS n_weeks
    FROM counts GROUP BY user_id ORDER BY user_id
    """,
)
def q_collect_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user week-ordered series (reference: slice_feature[id]
    .append(...) in window order → np.array, data_process.py:160-178).
    collect_list(struct(week, n)) sorted by week gives deterministic
    order; emitted as a CSV string for cross-engine hash stability.
    This is the tensor-assembly boundary: downstream ML reads the
    array form (ArrayType), the string form exists for the oracle."""
    e = _events_with_week(spark, sf_dir)
    counts = e.groupBy("user_id", "week").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("week", "n"))),
                    lambda x: x["n"].cast("string"),
                ),
                ",",
            ).alias("weekly_series"),
            F.count("*").alias("n_weeks"),
        )
    )


# ---------------------------------------------------------------------------
# M1/A1 — multi-scale windowed features in ONE pass
# ---------------------------------------------------------------------------


@register(
    "q_multiscale_features",
    oracle="""
    WITH scaled AS (
        SELECT e.user_id, s.scale,
               CAST(floor(epoch(e.ts) / (s.scale * 604800))
                    * (s.scale * 604800) AS BIGINT) AS window_start,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM events e CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS scale) s
    )
    SELECT user_id, scale, window_start,
           count(*) AS n,
           CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS value_mean,
           CAST(sum(cents * cents) AS DOUBLE) / count(*) / 10000
               - (CAST(sum(cents) AS DOUBLE) / count(*) / 100)
                 * (CAST(sum(cents) AS DOUBLE) / count(*) / 100) + 0.0
               AS value_var
    FROM scaled
    GROUP BY 1, 2, 3
    ORDER BY user_id, scale, window_start
    """,
)
def q_multiscale_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's central loop — `for scale in {1W,2W,3W,4W}:
    re-group everything` (data_process.py:73-91) — collapsed into ONE
    pass: explode a scale dimension, bucket by arithmetic epoch
    division (window() durations must be literals; arithmetic
    bucketing generalizes to a per-row scale), aggregate per (user,
    scale, window). 4× the rows through one shuffle instead of 4
    full re-scans; population variance via exact-int moments
    (np.nanvar ddof=0 parity, SURVEY §7 watch-list #1)."""
    e = t(spark, sf_dir, "events")
    scaled = e.select(
        "user_id",
        F.explode(F.array(*[F.lit(s) for s in (1, 2, 3, 4)])).alias("scale"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_timestamp("ts").alias("epoch_s"),
    ).withColumn(
        "window_start",
        (
            F.floor(F.col("epoch_s") / (F.col("scale") * 604800))
            * (F.col("scale") * 604800)
        ).cast("bigint"),
    )
    n = F.count("*")
    s1 = F.sum("cents").cast("double")
    s2 = F.sum(F.col("cents") * F.col("cents")).cast("double")
    return (
        scaled.groupBy("user_id", "scale", "window_start")
        .agg(
            n.alias("n"),
            (s1 / n / 100).alias("value_mean"),
            # unrounded (exact-int-derived); + 0.0 normalizes IEEE -0.0
            (
                s2 / n / 10000 - (s1 / n / 100) * (s1 / n / 100) + F.lit(0.0)
            ).alias("value_var"),
        )
    )


# ---------------------------------------------------------------------------
# FLAGSHIP — the reference's per-user/per-week ETL as ONE pass
# ---------------------------------------------------------------------------


@register(
    "q_behavioral_features",
    oracle=f"""
    WITH base AS (
        SELECT user_id,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               event_type,
               CAST(hour(ts) AS INTEGER) AS hour,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               event_id,
               json_extract_string(props, '$.k') AS contact
        FROM events
    ),
    gaps AS (
        SELECT user_id, week,
               epoch_s - lag(epoch_s) OVER (
                   PARTITION BY user_id, week ORDER BY epoch_s, event_id
               ) AS gap_s
        FROM base
    ),
    gagg AS (
        SELECT user_id, week,
               CAST(sum(gap_s) AS BIGINT) AS gap_sum,
               CAST(count(gap_s) AS BIGINT) AS gap_n
        FROM gaps GROUP BY 1, 2
    ),
    agg AS (
        SELECT user_id, week,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_error,
               count(DISTINCT contact) AS n_contacts,
               count(DISTINCT hour) AS n_active_hours,
               CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS value_mean,
               CAST(sum(cents * cents) AS DOUBLE) / count(*) / 10000
                   - (CAST(sum(cents) AS DOUBLE) / count(*) / 100)
                     * (CAST(sum(cents) AS DOUBLE) / count(*) / 100)
                   + 0.0 AS value_var
        FROM base GROUP BY 1, 2
    ),
    hour_mode AS (
        SELECT user_id, week, hour AS peak_hour FROM (
            SELECT user_id, week, hour, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY user_id, week
                       ORDER BY count(*) DESC, hour
                   ) AS rn
            FROM base GROUP BY 1, 2, 3
        ) WHERE rn = 1
    )
    SELECT a.user_id, a.week, a.n_events, a.n_purchase, a.n_error,
           a.n_contacts, a.n_active_hours, a.value_mean, a.value_var,
           h.peak_hour,
           CASE WHEN g.gap_n > 0
                THEN CAST(g.gap_sum AS DOUBLE) / g.gap_n
                ELSE 0.0 END AS mean_gap_s
    FROM agg a
    JOIN hour_mode h ON a.user_id = h.user_id AND a.week = h.week
    JOIN gagg g ON a.user_id = g.user_id AND a.week = g.week
    ORDER BY a.user_id, a.week
    """,
)
def q_behavioral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the reference's entire per-slice feature loop
    (data_process.py:114-158 — counts, duration stats, contact
    nunique, hour distribution mode, inter-event gaps, computed
    per-user per-week in nested python loops over materialized
    slices) as ONE declarative pass: a window for gaps, then ONE wide
    grouped aggregation on the window's own (user, week) partitioning.
    The hour DISTRIBUTION rides inside that aggregation as a fixed
    24-bucket histogram (hour is a bounded domain — the dimension the
    generic mode-via-window plan can't assume); peak_hour is the
    histogram's first argmax (ties → lowest hour, exactly the old
    row_number(c DESC, hour) order) and n_active_hours its non-zero
    bucket count, both post-agg projections. Compared with the
    mode-ranking branch (groupBy(user, week, hour) → row_number window
    → join back): executed plan drops 7 → 2 exchanges, 2 → 1 events
    scans, 4 → 2 sorts, and the two-countDistinct Expand (3× rows
    through the agg) disappears — the one remaining distinct (contact,
    unbounded domain) plans as a two-level agg reusing the same
    partitioning. On small data fixed per-query overheads hide the
    difference; the rewrite is adopted for the plan SHAPE: at 100 TB
    the deleted branch is a second full scan plus two event-scale
    shuffles and a join. The shape that turns a driver-RAM pandas job into a
    100-TB plan."""
    e = t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        week_str().alias("week"),
        "event_type",
        F.hour("ts").alias("hour"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_timestamp("ts").alias("epoch_s"),
        "event_id",
        F.get_json_object("props", "$.k").alias("contact"),
    )
    w_gap = Window.partitionBy("user_id", "week").orderBy("epoch_s", "event_id")
    gaps = base.withColumn(
        "gap_s", F.col("epoch_s") - F.lag("epoch_s").over(w_gap)
    )
    n = F.count("*")
    s1 = F.sum("cents").cast("double")
    s2 = F.sum(F.col("cents") * F.col("cents")).cast("double")
    hour_hist = F.array(
        *[
            F.sum(F.when(F.col("hour") == h, 1).otherwise(0)).cast("bigint")
            for h in range(24)
        ]
    )
    agg = gaps.groupBy("user_id", "week").agg(
        n.alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_error"),
        F.countDistinct("contact").alias("n_contacts"),
        # unrounded: exact-int-derived doubles are bit-equal across
        # engines; round(x, 6) itself diverges at .5e-6 boundaries
        (s1 / n / 100).alias("value_mean"),
        (s2 / n / 10000 - (s1 / n / 100) * (s1 / n / 100) + F.lit(0.0)).alias(
            "value_var"
        ),
        F.sum("gap_s").cast("bigint").alias("gap_sum"),
        F.count("gap_s").cast("bigint").alias("gap_n"),
        hour_hist.alias("hour_hist"),
    )
    return agg.select(
        "user_id",
        "week",
        "n_events",
        "n_purchase",
        "n_error",
        "n_contacts",
        # count(DISTINCT hour) == non-empty histogram buckets (hour is
        # never null); exact-int accumulation, same bigint type as the
        # countDistinct it replaces
        F.aggregate(
            "hour_hist",
            F.lit(0).cast("bigint"),
            lambda acc, c: acc + F.when(c > 0, 1).otherwise(0),
        ).alias("n_active_hours"),
        "value_mean",
        "value_var",
        # array_position returns the FIRST maximal bucket (1-based) —
        # ties break to the lowest hour, the row_number order replaced
        (F.array_position("hour_hist", F.array_max("hour_hist")) - 1)
        .cast("int")
        .alias("peak_hour"),
        F.when(
            F.col("gap_n") > 0,
            F.col("gap_sum").cast("double") / F.col("gap_n"),
        ).otherwise(0.0).alias("mean_gap_s"),
    )


# ---------------------------------------------------------------------------
# funnel analysis — ordered event-sequence conversion
# ---------------------------------------------------------------------------


@register(
    "q_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
           CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM firsts
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: users whose FIRST signup precedes
    their first subsequent click precedes their first subsequent
    purchase — sequence analytics over event streams (the behavioral-
    order primitive behind the reference's callback-rate features,
    src/utils.py:180-210, generalized to N stages). One conditional-
    min aggregation per user, one global rollup: two shuffles, no
    self-joins, no explosion at any scale."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    step1 = F.col("t_signup").isNotNull()
    step2 = step1 & (F.col("t_click") > F.col("t_signup"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(step1.cast("int")).cast("bigint").alias("n_signup"),
        F.sum(step2.cast("int")).cast("bigint").alias("n_signup_click"),
        F.sum(step3.cast("int")).cast("bigint").alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# A1/A8 — event-time RANGE frame: 7-day trailing activity per event
# ---------------------------------------------------------------------------

TRAIL_S = 7 * 86400


@register(
    "q_trailing_range",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_id, user_id,
           count(*) OVER w AS n_7d,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_7d
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN {TRAIL_S} PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def q_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event 7-day trailing count + exact-cents sum via an
    event-time RANGE frame — the value-based frame (peers included by
    time distance, not row position) that ROWS frames can't express:
    the standard 'activity in the last N days as of each event'
    feature. Deterministic despite timestamp ties because RANGE frames
    are value-based — tied seconds see identical frames in any engine.
    Scale: one shuffle on user_id; per-partition state is the sliding
    frame, O(events in 7 days) per user."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-TRAIL_S, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_7d"),
        F.sum("cents").over(w).cast("bigint").alias("cents_7d"),
    )


# ---------------------------------------------------------------------------
# A10/A14 — distribution ranks: decile, percent_rank, cume_dist per user
# ---------------------------------------------------------------------------


@register(
    "q_user_deciles",
    oracle="""
    WITH per AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_total
        FROM events GROUP BY 1
    )
    SELECT user_id, cents_total,
           CAST(ntile(10) OVER w AS BIGINT) AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM per
    WINDOW w AS (ORDER BY cents_total, user_id)
    ORDER BY user_id
    """,
)
def q_user_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spend-distribution ranks per user: decile bucket,
    percent_rank, cume_dist over a TOTAL order (cents, user_id) — the
    rank-transform feature family (deterministic because ties are
    broken by key, and the rank inputs are exact int64 cents).

    Scale: an earlier form used ``ntile/percent_rank/cume_dist`` over a global
    ``Window.orderBy`` — a single-reducer sort even after the groupBy
    reduction (at 100× users, one task holds every user). Now the
    global rank comes from the two-phase range-partitioned prefix
    (operators/rank.py::prefix_rank) and all three transforms are
    CLOSED FORMS of (rn, n), reproducing the window semantics exactly:
      rank==rn (total order, no ties) → pct_rank=(rn−1)/(n−1),
      cume=rn/n; ntile(10): first n%10 buckets get ⌈n/10⌉ rows —
      pure integer arithmetic, matches ntile's uneven-bucket rule."""
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents_total")
    )
    pr = prefix_rank(
        per,
        [F.col("cents_total"), F.col("user_id")],
        total_count="_n",
    )
    pr = pr.withColumn("_q", F.expr("_n div 10")).withColumn(
        "_r", F.expr("_n % 10")
    )
    big = F.expr("_r * (_q + 1)")  # rows covered by the ⌈n/10⌉ buckets
    tile = (
        F.when(F.col("_q") == 0, F.col("rn"))  # n<10: one row per bucket
        .when(
            F.col("rn") <= big, F.expr("(rn - 1) div (_q + 1) + 1")
        )
        .otherwise(F.expr("_r + (rn - _r * (_q + 1) - 1) div _q + 1"))
    )
    return pr.select(
        "user_id",
        "cents_total",
        tile.cast("bigint").alias("decile"),
        F.when(F.col("_n") > 1,
               (F.col("rn") - 1).cast("double") / (F.col("_n") - 1))
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
        (F.col("rn").cast("double") / F.col("_n")).alias("cume"),
    )


# ---------------------------------------------------------------------------
# A8/U2 — CDC endgame: latest-state snapshot + SCD2 validity intervals
# ---------------------------------------------------------------------------


@register(
    "q_latest_state",
    oracle="""
    SELECT user_id, event_id AS last_event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_sec,
           event_type AS last_type,
           CAST(round(value * 100) AS BIGINT) AS last_cents
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def q_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert compaction: the current-state snapshot a CDC/merge sink
    maintains — latest row per key under the total order (ts, event_id)
    DESC. This is the batch form of foreachBatch-upsert (streaming
    tests) and the read side of every 'table with updates' workload.
    Scale: one shuffle on user_id; row_number+filter is the
    standard merge-on-read compaction plan (WindowGroupLimit pushes
    the rn=1 filter into the sort at the executor)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_timestamp("ts").alias("last_sec"),
            F.col("event_type").alias("last_type"),
            F.round(F.col("value") * 100).cast("bigint").alias("last_cents"),
        )
    )


@register(
    "q_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
               lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM events
    )
    SELECT user_id, event_id, event_type, valid_from,
           coalesce(valid_to, CAST(9999999999 AS BIGINT)) AS valid_to,
           CAST(valid_to IS NULL AS BIGINT) AS is_current
    FROM ordered ORDER BY user_id, valid_from, event_id
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 historization: each event opens a validity interval
    [valid_from, valid_to) closed by the user's next event (total order
    (ts, event_id) — tie-safe), open intervals capped at a sentinel
    with is_current=1. The time-travel join side of an as-of lookup
    (operators/asof.py is the probe side). Scale: one shuffle on
    user_id, one window pass — no self-join."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            sec.alias("valid_from"),
            F.lead(sec).over(w).alias("valid_to_raw"),
        )
        .select(
            "user_id",
            "event_id",
            "event_type",
            "valid_from",
            F.coalesce("valid_to_raw", F.lit(9999999999).cast("bigint")).alias(
                "valid_to"
            ),
            F.col("valid_to_raw").isNull().cast("bigint").alias("is_current"),
        )
    )


# ---------------------------------------------------------------------------
# Robust scaling — rank-based winsorization (training-data preprocessing)
# ---------------------------------------------------------------------------


@register(
    "q_winsorize",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    bounds AS (
        SELECT event_type,
               max(CASE WHEN rn = (5 * n) // 100 + 1 THEN value END) AS lo,
               max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS hi,
               max(n) AS n
        FROM ranked GROUP BY event_type
    )
    SELECT r.event_type,
           b.n,
           b.lo, b.hi,
           CAST(sum(CAST(round(
               CASE WHEN r.value < b.lo THEN b.lo
                    WHEN r.value > b.hi THEN b.hi
                    ELSE r.value END * 100) AS BIGINT)) AS DOUBLE) / 100
               AS winsorized_sum
    FROM ranked r JOIN bounds b USING (event_type)
    GROUP BY r.event_type, b.n, b.lo, b.hi
    ORDER BY r.event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip to [p05, p95]) with RANK-derived
    thresholds: the k-th smallest actual data value at k = ⌊5n/100⌋+1
    and ⌈95n/100⌉ — pure int64 index arithmetic plus values that exist
    in the data (2-decimal fixed point), so both twins are exact where
    interpolated percentiles would drift. The robust-scaling step of a
    feature pipeline (reference clips call durations before scaling,
    src/utils.py:87 area); sums accumulate exact cents.

    Scale shape: one window sort per group (the same shuffle the
    ranked features already pay), a tiny per-group bounds frame joined
    back broadcast — no second full sort, no driver work."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(5 * n) div 100 + 1"), F.col("value"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("(95 * n + 99) div 100"), F.col("value"))
        ).alias("hi"),
        F.max("n").alias("n"),
    )
    # clip from the RAW projection, not from `ranked`: the clip
    # side needs no rank columns, and referencing `ranked` here re-ran
    # the two windows a second time (zero ReusedExchange)
    clipped = (
        e.select("event_type", "value")
        .join(F.broadcast(bounds), "event_type")
        .select(
        "event_type",
        "n",
        "lo",
        "hi",
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value"))
            .alias("v"),
        )
    )
    return (
        clipped.groupBy("event_type", "n", "lo", "hi")
        .agg(
            (F.sum(cents("v")).cast("double") / 100).alias("winsorized_sum")
        )
        .select("event_type", "n", "lo", "hi", "winsorized_sum")
    )


# ---------------------------------------------------------------------------
# A8/E7 — batch sessionization (gaps-and-islands)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@register(
    "q_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, us, cents,
               CASE WHEN us - lag(us) OVER (
                        PARTITION BY user_id ORDER BY us, event_id)
                    <= {SESSION_GAP_US} THEN 0 ELSE 1 END AS new_s
        FROM e
    ), sess AS (
        SELECT user_id, us, cents,
               CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(us) AS start_us, max(us) - min(us) AS duration_us,
           CAST(sum(cents) AS BIGINT) AS cents_total
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at >30-min inactivity gaps (gaps-and-islands), then
    per-session aggregates — the batch twin of the streaming
    session_window in streaming/windows.py (the reference's temporal
    grouping is per-day, src/utils.py:31-33; sessions are its
    data-dependent generalization). Both windows are partitioned by
    user_id — per-user state only, no global sort, so the shape holds
    at any user count. Micros as int64 keep gap arithmetic exact in
    both engines; ties broken by event_id."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        cents("value").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.col("us") - F.lag("us").over(w) <= SESSION_GAP_US, F.lit(0)
        ).otherwise(F.lit(1)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("us").alias("start_us"),
            (F.max("us") - F.min("us")).alias("duration_us"),
            F.sum("cents").alias("cents_total"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — point-in-interval join via bucketed expansion (the range-join
# pattern Spark lacks natively)
# ---------------------------------------------------------------------------

EPISODE_US = 2 * 3600 * 1_000_000  # each error opens a 2-hour episode
IV_BUCKET_US = 3600 * 1_000_000  # join-bucket granularity (1 hour)


@register(
    "q_interval_join",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id AS iv_id, epoch_us(ts) AS s_us,
               epoch_us(ts) + {EPISODE_US} AS e_us
        FROM events WHERE event_type = 'error'
    ), pts AS (
        SELECT user_id, event_id, epoch_us(ts) AS us
        FROM events WHERE event_type <> 'error'
    )
    SELECT p.user_id, p.event_id, count(iv.iv_id) AS n_episodes
    FROM pts p LEFT JOIN iv
      ON p.user_id = iv.user_id AND p.us >= iv.s_us AND p.us < iv.e_us
    GROUP BY p.user_id, p.event_id
    ORDER BY p.user_id, p.event_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join: every 'error' event opens a 2-hour
    episode for its user; count, for every other event, how many open
    episodes of that user contain it. A naive point⋈interval predicate
    join is a BroadcastNestedLoopJoin in Spark (O(points·intervals));
    this plan maps both sides onto fixed 1-hour buckets — intervals
    explode to the ≤3 buckets they overlap, points to exactly one — so
    the range predicate rides on an equi-shuffle on (user_id, bucket)
    and each (point, interval) pair meets at most once (the point's
    unique bucket; no post-join dedup). Bucket granularity ≈ interval
    length bounds the expansion factor at 100 TB; the oracle states the
    same semantics as a plain range join."""
    base = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    iv = (
        base.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("iv_user"),
            F.col("event_id").alias("iv_id"),
            F.col("us").alias("s_us"),
            (F.col("us") + F.lit(EPISODE_US)).alias("e_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"s_us div {IV_BUCKET_US}"),
                    F.expr(f"(e_us - 1) div {IV_BUCKET_US}"),
                )
            ),
        )
    )
    pts = base.filter(F.col("event_type") != "error").withColumn(
        "bucket", F.expr(f"us div {IV_BUCKET_US}")
    )
    joined = pts.join(
        iv,
        (pts.user_id == iv.iv_user)
        & (pts.bucket == iv.bucket)
        & (pts.us >= iv.s_us)
        & (pts.us < iv.e_us),
        "left",
    )
    return (
        joined.groupBy("user_id", "event_id")
        .agg(F.count("iv_id").alias("n_episodes"))
    )


# ---------------------------------------------------------------------------
# exact per-group interpolated percentile
# ---------------------------------------------------------------------------

_PG_P = 90  # percentile (integer percent, keeps the target arithmetic exact)


@register(
    "q_group_percentile",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS c,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(round(value * 100) AS BIGINT), event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    t AS (
        SELECT event_type, n,
               1 + ({_PG_P} * (n - 1)) // 100 AS lo,
               ({_PG_P} * (n - 1)) % 100 AS frac_pct
        FROM c WHERE rn = 1
    ),
    v AS (
        SELECT c.event_type, t.n, t.frac_pct,
               max(CASE WHEN c.rn = t.lo THEN c.c END) AS c_lo,
               coalesce(max(CASE WHEN c.rn = t.lo + 1 THEN c.c END),
                        max(CASE WHEN c.rn = t.lo THEN c.c END)) AS c_hi
        FROM c JOIN t USING (event_type)
        WHERE c.rn BETWEEN t.lo AND t.lo + 1
        GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           c_lo, c_hi,
           c_lo + CAST(frac_pct AS DOUBLE) / 100 * (c_hi - c_lo)
               AS p{_PG_P}_cents
    FROM v ORDER BY event_type
    """,
)
def q_group_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linearly-interpolated per-group percentile (p{_PG_P} of
    transaction cents per event type) — the per-segment SLA/limit
    number approx_percentile can't certify. The target index
    1 + p(n−1)/100 stays in INTEGER arithmetic (integer percent ⇒
    lo = 1 + ⌊p(n−1)/100⌋ and a /100 fractional remainder), the two
    bracketing order statistics come from ONE partitioned rank (group
    cardinality bounds each partition — the scale-safe window, unlike
    a global ORDER BY), and the interpolation is a single double
    expression of three exact ints. Groups collapse to ≤|types| rows
    before any cross-group work."""
    cc = cents("value")
    w = Window.partitionBy("event_type").orderBy(cc, "event_id")
    wn = Window.partitionBy("event_type")
    c = t(spark, sf_dir, "events").select(
        "event_type",
        cc.alias("c"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    tt = c.filter(F.col("rn") == 1).select(
        "event_type",
        "n",
        (1 + F.expr(f"({_PG_P} * (n - 1)) div 100")).alias("lo"),
        (F.expr(f"({_PG_P} * (n - 1)) % 100")).alias("frac_pct"),
    )
    v = (
        c.join(tt.select("event_type", "lo", "frac_pct", F.col("n").alias("tn")), "event_type")
        .filter(F.col("rn").between(F.col("lo"), F.col("lo") + 1))
        .groupBy("event_type", F.col("tn").alias("n"), "frac_pct")
        .agg(
            F.max(F.when(F.col("rn") == F.col("lo"), F.col("c"))).alias(
                "c_lo"
            ),
            F.coalesce(
                F.max(F.when(F.col("rn") == F.col("lo") + 1, F.col("c"))),
                F.max(F.when(F.col("rn") == F.col("lo"), F.col("c"))),
            ).alias("c_hi"),
        )
    )
    return v.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "c_lo",
        "c_hi",
        (
            F.col("c_lo")
            + F.col("frac_pct").cast("double") / 100
            * (F.col("c_hi") - F.col("c_lo"))
        ).alias(f"p{_PG_P}_cents"),
    )


# ---------------------------------------------------------------------------
# Sweep-line concurrency: peak simultaneous sessions per day
# ---------------------------------------------------------------------------


@register(
    "q_concurrency",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
        SELECT user_id, us, event_id,
               CASE WHEN us - lag(us) OVER (
                        PARTITION BY user_id ORDER BY us, event_id)
                    <= {SESSION_GAP_US} THEN 0 ELSE 1 END AS new_s
        FROM e
    ), sess AS (
        SELECT user_id,
               CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
               us
        FROM flagged
    ), iv AS (
        SELECT user_id, session_id,
               min(us) AS start_us, max(us) + 1 AS end_us
        FROM sess GROUP BY user_id, session_id
    ), b AS (
        SELECT user_id, session_id, start_us AS us, 1 AS delta FROM iv
        UNION ALL
        SELECT user_id, session_id, end_us AS us, -1 AS delta FROM iv
    ), sw AS (
        SELECT us, delta,
               CAST(sum(delta) OVER (
                   ORDER BY us, delta, user_id, session_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        FROM b
    )
    SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
           max(conc) AS peak_conc,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_starts,
           CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ends
    FROM sw GROUP BY 1 ORDER BY 1
    """,
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions per day — the sweep-line interval
    overlap counter (capacity planning / bot-burst detection: how many
    users are ACTIVE at once, not how many events fire). Sessions are
    the same >30-min-gap islands as q_sessionize; each becomes a
    half-open interval [start_us, max_us+1) so zero-duration
    single-event sessions still open before they close, then the sweep
    is +1/-1 boundary deltas running-summed over the GLOBAL time order.
    The global running sum is the classic unpartitioned-window scale
    killer, so it runs through prefix_rank (operators/rank.py): range-
    partition on the total order (us, delta, user_id, session_id),
    per-partition partial sums, + broadcast prefix offsets — exact,
    deterministic, no single-reducer sort at any data size. Ends sort
    before starts at equal us (delta -1 < +1), the half-open
    convention: touching intervals never overlap."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = (
        e.withColumn(
            "new_s",
            F.when(
                F.col("us") - F.lag("us").over(w) <= SESSION_GAP_US, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "session_id",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("start_us"), (F.max("us") + 1).alias("end_us"))
    )
    # both sweep boundaries from ONE reference to sess: the
    # two-branch union replayed the whole sessionize window + groupBy
    # pipeline per branch
    b = sess.select(
        "user_id",
        "session_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("start_us").alias("us"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("end_us").alias("us"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("x"),
    ).select("user_id", "session_id", "x.us", "x.delta")
    sw = prefix_rank(
        b,
        [F.col("us"), F.col("delta"), F.col("user_id"), F.col("session_id")],
        sums={"conc": F.col("delta")},
    )
    return (
        sw.groupBy(
            F.date_format(F.timestamp_micros(F.col("us")), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.max("conc").cast("bigint").alias("peak_conc"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_starts"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
            .cast("bigint").alias("n_ends"),
        )
    )
