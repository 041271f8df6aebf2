"""Fraud/behavioral analytics operators: Benford's-law digit
profiling, RFM segmentation, duplicate-transaction (double-swipe)
detection, Pareto-frontier (skyline) extraction, SCD1 merge/upsert,
deterministic per-group reservoirs, chi-square independence cells,
EWMA smoothing, and linear gap interpolation.

Every query follows the exact-arithmetic oracle discipline (SURVEY.md
§5): integer cents sums in both engines, doubles emitted only through
expressions written identically in the Spark plan and the DuckDB twin,
r6 rounding only on libm outputs (log10) far from .5e-6 boundaries.

Reference parity: the reference's fraud features are per-user level
statistics and graph joins (Code for Sichuan/src/utils.py:245-261,
data_process.py:20-48); these queries add the transaction-forensics
and segmentation surface a production fraud pipeline layers on top —
all single-shuffle groupBy/window plans or two-phase global ranks
(operators/rank.py), no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.operators.graph import (
    SQL_CONTACT,
    SQL_REPEAT_CONTACTS,
    contact,
    repeat_contacts,
)
from frauddetection_spark.operators.rank import prefix_max, prefix_rank
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import (
    SQL_WEEK,
    cents,
    quantile_ranks,
    t,
    week_str,
)
from frauddetection_spark.queries.sampling import ERROR_THRESHOLD

# double-swipe window (same (user, amount) pair within 10 minutes)
SWIPE_GAP_US = 600 * 1_000_000

# deterministic reservoir: Knuth multiplicative hash over a 2^31-1
# field — exact int64 in both engines at any event_id magnitude
# (reduce mod P BEFORE the multiply: P * 2654435761 < 2^63)
_RES_P = 2_147_483_647
_RES_A = 2_654_435_761


# ---------------------------------------------------------------------------
# Benford's-law leading-digit profile (A6 family)
# ---------------------------------------------------------------------------


@register(
    "q_benford",
    oracle="""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS amt_cents
        FROM orders
    ),
    d AS (
        SELECT CAST(substr(CAST(amt_cents AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit,
               count(*) AS n
        FROM c GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM d)
    SELECT digit, n,
           CAST(n AS DOUBLE) / n_total AS obs_share,
           round(log10(1.0 + 1.0 / digit), 6) AS exp_share
    FROM d, tot ORDER BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order amounts vs the Benford
    expectation log10(1 + 1/d) — the classic bulk anomaly screen for
    fabricated amounts. Digit extraction is string-exact over integer
    cents (no float log in the grouping key); obs_share is an exact-int
    division (identical doubles); only the 9 data-independent Benford
    constants pass through libm, r6-rounded in both engines (none sit
    near a .5e-6 boundary). Scale: one hash aggregate over 9 groups +
    broadcast total — map-side partials do nearly all the work."""
    o = t(spark, sf_dir, "orders")
    d = (
        o.select(cents("o_totalprice").alias("amt_cents"))
        .select(
            F.substring(F.col("amt_cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = d.agg(F.sum("n").cast("bigint").alias("n_total"))
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias("obs_share"),
            F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6).alias(
                "exp_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation via distributed ntile (A14/R family)
# ---------------------------------------------------------------------------


def _ntile(rn: Column, n: Column, k: int) -> Column:
    """SQL ntile(k) in closed form from a global (rn, n) — the first
    (n mod k) buckets get one extra row, exactly the ANSI definition —
    so the distributed two-phase prefix_rank replaces the unpartitioned
    ntile window. Arithmetic on doubles is exact (all values < 2^52)."""
    q = F.floor(n / k).cast("bigint")
    r = (n - q * k).cast("bigint")
    cut = (q + 1) * r
    return (
        F.when(rn <= cut, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - cut - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("bigint")
    )


@register(
    "q_rfm",
    oracle="""
    WITH po AS (
        SELECT o_custkey AS custkey,
               max(epoch_us(o_orderdate)) AS last_us,
               count(*) AS f,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM orders GROUP BY 1
    ),
    ref AS (SELECT max(last_us) AS ref_us FROM po),
    s AS (
        SELECT custkey, ref_us - last_us AS recency_us, f, m_cents
        FROM po, ref
    )
    SELECT custkey, recency_us, f, m_cents,
           CAST(ntile(5) OVER (ORDER BY recency_us, custkey) AS BIGINT)
               AS r_score,
           CAST(ntile(5) OVER (ORDER BY f DESC, custkey) AS BIGINT)
               AS f_score,
           CAST(ntile(5) OVER (ORDER BY m_cents DESC, custkey) AS BIGINT)
               AS m_score
    FROM s ORDER BY custkey
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quintile scores per customer — the
    standard behavioral-segmentation triple. Each score is a GLOBAL
    ntile(5); the oracle states it with the window function, the Spark
    plan computes it scale-safely: three two-phase prefix_rank passes
    (operators/rank.py — range-partitioned, no single-reducer window)
    + the closed-form ANSI ntile from (rn, n). Ties broken by custkey
    in both engines so bucket assignment is deterministic. Scale: the
    ranked relation is the per-customer aggregate (|customers| rows,
    not |orders|), and each pass is one range shuffle of it."""
    o = t(spark, sf_dir, "orders")
    # po feeds the global-max ref AND the scored relation — persist it
    # or the orders scan + per-customer agg runs twice
    po = track_cache(
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.unix_micros("o_orderdate")).alias("last_us"),
            F.count("*").alias("f"),
            F.sum(cents("o_totalprice")).alias("m_cents"),
        )
        .persist()
    )
    ref = po.agg(F.max("last_us").alias("ref_us"))
    s = po.crossJoin(F.broadcast(ref)).select(
        "custkey",
        (F.col("ref_us") - F.col("last_us")).alias("recency_us"),
        "f",
        "m_cents",
    )
    # Three INDEPENDENT narrow rank passes joined back on custkey.
    # Chained passes would range-shuffle pass 1's full-width output in
    # pass 2, and each pass's persisted range frame would nest the
    # previous pass's whole lineage, so the final plan would re-print
    # ~267 Exchange nodes and every task closure would carry the
    # triple-nested tree (planning + per-task deserialize cost, guide
    # §2.3/§5). Ranking each score over a 2-column projection of the
    # SAME persisted base keeps every range shuffle minimal-width, lets
    # the three rank subtrees run as independent stages of one job, and
    # joins back |customers|-row (custkey, score) pairs — 22 Exchanges
    # at sf0.1 where the chain had 34. Results are identical: each
    # prefix_rank sees the same (order key, custkey) total order it
    # would see inside the chain.
    s = track_cache(s.persist())
    out = s
    for score, key, order in [
        ("r_score", "recency_us",
         [F.col("recency_us").asc(), F.col("custkey").asc()]),
        ("f_score", "f", [F.col("f").desc(), F.col("custkey").asc()]),
        ("m_score", "m_cents",
         [F.col("m_cents").desc(), F.col("custkey").asc()]),
    ]:
        ranked = prefix_rank(
            s.select("custkey", key), order, total_count="_n"
        )
        out = out.join(
            ranked.select(
                "custkey", _ntile(F.col("rn"), F.col("_n"), 5).alias(score)
            ),
            "custkey",
        )
    return out.select(
        "custkey", "recency_us", "f", "m_cents",
        "r_score", "f_score", "m_score",
    )


# ---------------------------------------------------------------------------
# duplicate-transaction (double-swipe) detection (A8 family)
# ---------------------------------------------------------------------------


@register(
    "q_double_swipe",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS amt_cents,
               epoch_us(ts) AS us
        FROM events
    ),
    l AS (
        SELECT *,
               lag(us) OVER (
                   PARTITION BY user_id, amt_cents ORDER BY us, event_id
               ) AS prev_us
        FROM e
    )
    SELECT event_id, user_id, amt_cents, us, us - prev_us AS gap_us
    FROM l
    WHERE prev_us IS NOT NULL AND us - prev_us <= {SWIPE_GAP_US}
    ORDER BY event_id
    """,
)
def q_double_swipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated identical-amount transactions by the same user within
    10 minutes — the double-swipe/replay screen. One window shuffle on
    the (user, amount) pair key; microsecond integers end-to-end (no
    timestamp arithmetic drift). The pair key is finer than user_id, so
    the shuffle is better balanced than any per-user window at scale."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        cents("value").alias("amt_cents"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id", "amt_cents").orderBy("us", "event_id")
    return (
        e.withColumn("prev_us", F.lag("us").over(w))
        .filter(
            F.col("prev_us").isNotNull()
            & (F.col("us") - F.col("prev_us") <= SWIPE_GAP_US)
        )
        .select(
            "event_id",
            "user_id",
            "amt_cents",
            "us",
            (F.col("us") - F.col("prev_us")).alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier / skyline (A14 family)
# ---------------------------------------------------------------------------


@register(
    "q_skyline",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               count(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT user_id, total_cents, n_events
    FROM s b
    WHERE NOT EXISTS (
        SELECT 1 FROM s a
        WHERE a.total_cents >= b.total_cents
          AND a.n_events >= b.n_events
          AND (a.total_cents > b.total_cents OR a.n_events > b.n_events)
    )
    ORDER BY user_id
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier of users over (total spend, event count):
    a user is kept iff no other user weakly dominates them on both
    axes with at least one strict improvement. The oracle states the
    O(n²) NOT EXISTS definition; the Spark plan is the linear
    sort-based skyline: group to one row per distinct total, then an
    EXCLUSIVE two-phase prefix_max over totals DESC gives each row the
    best n_events among STRICTLY richer totals — dominated iff that
    max ≥ own n, or a same-total row has strictly more events. One
    aggregate + one range shuffle of the per-total relation; no pair
    blow-up at any scale (the frontier trick every skyline paper
    starts from)."""
    s = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(cents("value")).alias("total_cents"),
            F.count("*").alias("n_events"),
        )
    )
    per_total = s.groupBy("total_cents").agg(F.max("n_events").alias("gmax"))
    better = prefix_max(
        per_total,
        [F.col("total_cents").desc()],
        F.col("gmax"),
        out="best_n_richer",
    )
    joined = s.join(better, "total_cents")
    return (
        joined.filter(
            (
                F.coalesce(F.col("best_n_richer"), F.lit(-1))
                < F.col("n_events")
            )
            & (F.col("gmax") <= F.col("n_events"))
        )
        .select("user_id", "total_cents", "n_events")
    )


# ---------------------------------------------------------------------------
# SCD1 merge / upsert (U family — MERGE INTO semantics on plain parquet)
# ---------------------------------------------------------------------------


@register(
    "q_merge_upsert",
    oracle="""
    WITH base AS (
        SELECT c_custkey AS k, c_name AS name,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    chg AS (
        SELECT k, name, cents + 100000 AS cents, 'U' AS op
        FROM base WHERE k % 7 <> 3 AND k % 10 = 0
        UNION ALL
        SELECT k, name, cents, 'D' AS op FROM base WHERE k % 7 = 3
        UNION ALL
        SELECT k + 1000000 AS k,
               'NEW#' || CAST(k AS VARCHAR) AS name,
               CAST(123456 AS BIGINT) AS cents, 'I' AS op
        FROM base WHERE k % 13 = 1
    )
    SELECT COALESCE(c.k, b.k) AS custkey,
           COALESCE(c.name, b.name) AS name,
           COALESCE(c.cents, b.cents) AS acctbal_cents,
           CASE WHEN c.op = 'U' THEN 'updated'
                WHEN c.op = 'I' THEN 'inserted'
                ELSE 'base' END AS src
    FROM base b FULL OUTER JOIN chg c ON b.k = c.k
    WHERE c.op IS NULL OR c.op <> 'D'
    ORDER BY custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (update / delete / insert in one pass) on
    plain parquet — the SCD1 apply-changeset operator table formats
    (Delta/Iceberg) expose as MERGE; on immutable files it is exactly
    this full-outer-join rewrite. The changeset is derived
    deterministically from the base (rules are disjoint by CASE
    priority: delete wins over update; insert keys are shifted out of
    the base key domain). Scale: one shuffle join on the merge key —
    same as any engine's MERGE; with both sides bucketed on the key
    (sources/io.py::write_bucketed) it is shuffle-free."""
    base = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        cents("c_acctbal").alias("cents"),
    )
    upd = (
        base.filter((F.col("k") % 7 != 3) & (F.col("k") % 10 == 0))
        .select("k", "name", (F.col("cents") + 100000).alias("cents"))
        .withColumn("op", F.lit("U"))
    )
    dele = base.filter(F.col("k") % 7 == 3).withColumn("op", F.lit("D"))
    ins = base.filter(F.col("k") % 13 == 1).select(
        (F.col("k") + 1000000).alias("k"),
        F.concat(F.lit("NEW#"), F.col("k").cast("string")).alias("name"),
        F.lit(123456).cast("bigint").alias("cents"),
        F.lit("I").alias("op"),
    )
    chg = upd.unionByName(dele).unionByName(ins)
    b = base.alias("b")
    c = chg.alias("c")
    merged = b.join(c, F.col("b.k") == F.col("c.k"), "full_outer")
    return (
        merged.filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            F.coalesce(F.col("c.k"), F.col("b.k")).alias("custkey"),
            F.coalesce(F.col("c.name"), F.col("b.name")).alias("name"),
            F.coalesce(F.col("c.cents"), F.col("b.cents")).alias(
                "acctbal_cents"
            ),
            F.when(F.col("c.op") == "U", "updated")
            .when(F.col("c.op") == "I", "inserted")
            .otherwise("base")
            .alias("src"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic per-group reservoir (R family)
# ---------------------------------------------------------------------------


@register(
    "q_reservoir_group",
    oracle=f"""
    WITH h AS (
        SELECT event_type, event_id,
               ((event_id % {_RES_P}) * {_RES_A}) % {_RES_P} AS hv
        FROM events
    ),
    r AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY hv, event_id
               ) AS rn
        FROM h
    )
    SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id, hv
    FROM r WHERE rn <= 5
    ORDER BY event_type, rn
    """,
)
def q_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (k=5) per-group sample, reproducible across engines
    and runs: the k smallest values of a multiplicative hash of the row
    key — the deterministic replacement for reservoir sampling (same
    marginal property: any row is equally likely under a random key,
    but replayable, which audit pipelines need). The hash reduces mod
    2^31-1 BEFORE the Knuth multiply so int64 never overflows at any
    event_id magnitude. Scale: rank-within-group window on the group
    shuffle; at 100 TB the per-group top-k would ride a partial top-k
    aggregate (same as q_topk) — semantics pinned here."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (((F.col("event_id") % _RES_P) * _RES_A) % _RES_P).alias("hv"),
    )
    w = Window.partitionBy("event_type").orderBy("hv", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("event_type", "rn", "event_id", "hv")
    )


# ---------------------------------------------------------------------------
# chi-square independence cells (A11 family)
# ---------------------------------------------------------------------------


@register(
    "q_chisq_cells",
    oracle="""
    WITH e AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, event_type
        FROM events
    ),
    c AS (SELECT dow, event_type, count(*) AS n FROM e GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
    m AS (
        SELECT dow, event_type, n,
               CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS row_n,
               CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                   AS col_n
        FROM c
    )
    SELECT dow, event_type, n, row_n, col_n,
           CAST(row_n * col_n AS DOUBLE) / n_total AS expected,
           (n - CAST(row_n * col_n AS DOUBLE) / n_total)
             * (n - CAST(row_n * col_n AS DOUBLE) / n_total)
             / (CAST(row_n * col_n AS DOUBLE) / n_total) AS chisq_term
    FROM m, tot ORDER BY dow, event_type
    """,
)
def q_chisq_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test cells for day-of-week × event-type
    (is activity mix time-invariant?): observed counts, marginals,
    expected under independence, and the per-cell χ² contribution.
    Per-cell terms are emitted instead of the global Σ — a
    cross-engine float sum over cells would be summation-order-
    dependent; every per-cell double here is derived from exact int64
    marginals through expressions written identically in both twins
    (x*x, not pow). Spark's dayofweek is 1-based (Sunday=1), DuckDB's
    0-based — the Spark side shifts by 1. Scale: one aggregate to the
    ≤ 7×|types| cell grid, marginals via windows over that tiny grid,
    grand total broadcast."""
    e = t(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"), "event_type"
    )
    c = e.groupBy("dow", "event_type").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").cast("bigint").alias("n_total"))
    m = c.select(
        "dow",
        "event_type",
        "n",
        F.sum("n").over(Window.partitionBy("dow")).cast("bigint").alias(
            "row_n"
        ),
        F.sum("n")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("col_n"),
    )
    exp = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("n_total")
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "event_type",
            "n",
            "row_n",
            "col_n",
            exp.alias("expected"),
            ((F.col("n") - exp) * (F.col("n") - exp) / exp).alias(
                "chisq_term"
            ),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing over trailing observations (A1/A8 family)
# ---------------------------------------------------------------------------

_EWMA_LAGS = 8  # trailing observations; weights 2^-i are exact dyadic


def _ewma_sql_terms() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(CAST(lag(day_cents, {i}) OVER w AS DOUBLE) * {0.5 ** i!r}, 0)"
        for i in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(day_cents, {i}) OVER w IS NOT NULL"
        f" THEN {0.5 ** i!r} ELSE 0 END"
        for i in range(_EWMA_LAGS)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_sql_terms()


@register(
    "q_ewma",
    oracle=f"""
    WITH d AS (
        SELECT user_id,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM events GROUP BY 1, 2
    ),
    l AS (
        SELECT user_id, day, day_cents,
               {_EWMA_NUM} AS num,
               {_EWMA_DEN} AS den
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY day)
    )
    SELECT user_id, day, day_cents, num / den AS ewma
    FROM l ORDER BY user_id, day
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily spend (α = 1/2
    over the 8 trailing observed days, renormalized over the lags that
    exist near series start). Weights 2^-i are dyadic and daily cents
    are int64, so every partial product and the two sums are EXACT in
    double — the final division is the only inexact op and is written
    identically in both twins (bit-equal results, no rounding). One
    window shuffle on user_id; the 8 lags are one WindowExec pass."""
    e = t(spark, sf_dir, "events")
    d = e.groupBy(
        "user_id",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.sum(cents("value")).alias("day_cents"))
    w = Window.partitionBy("user_id").orderBy("day")
    num = None
    den = None
    for i in range(_EWMA_LAGS):
        lagged = F.lag("day_cents", i).over(w)
        term = F.coalesce(lagged.cast("double") * F.lit(0.5**i), F.lit(0.0))
        wgt = F.when(lagged.isNotNull(), F.lit(0.5**i)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = wgt if den is None else den + wgt
    return (
        d.select(
            "user_id",
            "day",
            "day_cents",
            (num / den).alias("ewma"),
        )
    )


# ---------------------------------------------------------------------------
# linear interpolation over hourly gaps (A12 family)
# ---------------------------------------------------------------------------


@register(
    "q_linear_interp",
    oracle="""
    WITH obs AS (
        SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS hour_cents
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT user_id, min(h) AS minh, max(h) AS maxh
        FROM obs GROUP BY 1
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(minh, maxh)) AS h FROM b
    ),
    j AS (
        SELECT s.user_id, s.h, o.hour_cents
        FROM spine s LEFT JOIN obs o
          ON s.user_id = o.user_id AND s.h = o.h
    ),
    f AS (
        SELECT user_id, h, hour_cents,
               last_value(hour_cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_c,
               last_value(CASE WHEN hour_cents IS NOT NULL THEN h END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_h,
               first_value(hour_cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_c,
               first_value(CASE WHEN hour_cents IS NOT NULL THEN h END
                           IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_h
        FROM j
    )
    SELECT user_id, h,
           CASE WHEN hour_cents IS NOT NULL THEN 0 ELSE 1 END AS is_interp,
           CASE WHEN hour_cents IS NOT NULL THEN CAST(hour_cents AS DOUBLE)
                ELSE CAST(prev_c AS DOUBLE)
                     + CAST((next_c - prev_c) * (h - prev_h) AS DOUBLE)
                       / CAST(next_h - prev_h AS DOUBLE)
           END AS cents_filled
    FROM f ORDER BY user_id, h
    """,
)
def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill each user's hourly spend series by linear interpolation
    between the nearest observed hours (dense-spine + IGNORE NULLS
    forward/backward window carry — the relational form of
    pandas.interpolate). Hours and cents are int64 throughout; the
    single division is written identically in both twins, so filled
    values are bit-equal unrounded. Edge rows are observed by
    construction (spine spans [min_h, max_h]). Scale: spine length is
    bounded by the time span, not row count; everything shuffles once
    on user_id."""
    e = t(spark, sf_dir, "events")
    # (user x hour)-sized; feeds the bounds AND the spine join —
    # persisted so the events aggregate runs once
    obs = track_cache(
        e.groupBy(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .agg(F.sum(cents("value")).alias("hour_cents"))
        .persist()
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("h").alias("minh"), F.max("h").alias("maxh")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("minh", "maxh")).alias("h")
    )
    j = spine.join(obs, ["user_id", "h"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("hour_cents").isNotNull(), F.col("h"))
    f = j.select(
        "user_id",
        "h",
        "hour_cents",
        F.last("hour_cents", ignorenulls=True).over(w_prev).alias("prev_c"),
        F.last(obs_h, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.first("hour_cents", ignorenulls=True).over(w_next).alias("next_c"),
        F.first(obs_h, ignorenulls=True).over(w_next).alias("next_h"),
    )
    filled = F.when(
        F.col("hour_cents").isNotNull(), F.col("hour_cents").cast("double")
    ).otherwise(
        F.col("prev_c").cast("double")
        + (
            (F.col("next_c") - F.col("prev_c")) * (F.col("h") - F.col("prev_h"))
        ).cast("double")
        / (F.col("next_h") - F.col("prev_h")).cast("double")
    )
    return (
        f.select(
            "user_id",
            "h",
            F.when(F.col("hour_cents").isNotNull(), 0)
            .otherwise(1)
            .cast("int")
            .alias("is_interp"),
            filled.alias("cents_filled"),
        )
    )


# ---------------------------------------------------------------------------
# exact-sufficient-statistic Pearson correlation (A10 family)
# ---------------------------------------------------------------------------


@register(
    "q_corr_pairs",
    oracle="""
    WITH x AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_quantity * 100) AS BIGINT) AS qc,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        FROM lineitem
    ),
    s AS (
        SELECT flag, count(*) AS n,
               CAST(sum(qc) AS BIGINT) AS sx,
               CAST(sum(pc) AS BIGINT) AS sy,
               sum(CAST(qc AS HUGEINT) * pc) AS sxy,
               sum(CAST(qc AS HUGEINT) * qc) AS sxx,
               sum(CAST(pc AS HUGEINT) * pc) AS syy
        FROM x GROUP BY 1
    )
    SELECT flag, n,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
               AS corr,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS beta
    FROM s ORDER BY flag
    """,
)
def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + OLS slope of quantity vs price
    from EXACT sufficient statistics: the second-moment sums overflow
    int64 at scale, so they accumulate in decimal(38,0) (Spark) /
    HUGEINT (DuckDB) — both exact integer domains — and only the final
    corr/beta expressions touch doubles, written identically in both
    twins (sqrt is IEEE-exact, so the doubles are bit-equal with no
    rounding). Contrast with built-in corr(): Welford-style float
    accumulation is summation-order-dependent and can't be
    oracle-matched bit-for-bit. Scale: one hash aggregate with
    map-side partials; decimal sums shuffle 16 bytes/group more than
    doubles — negligible."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        cents("l_quantity").alias("qc"),
        cents("l_extendedprice").alias("pc"),
    )
    dec = "decimal(38,0)"
    s = li.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("qc").alias("sx"),
        F.sum("pc").alias("sy"),
        F.sum(F.col("qc").cast(dec) * F.col("pc")).alias("sxy"),
        F.sum(F.col("qc").cast(dec) * F.col("qc")).alias("sxx"),
        F.sum(F.col("pc").cast(dec) * F.col("pc")).alias("syy"),
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
    return s.select(
        "flag",
        "n",
        (num / F.sqrt(denx * deny)).alias("corr"),
        (num / denx).alias("beta"),
    )


# ---------------------------------------------------------------------------
# lag-1 autocorrelation of weekly spend (A8/A10 family)
# ---------------------------------------------------------------------------


@register(
    "q_autocorr",
    oracle=f"""
    WITH wk AS (
        SELECT user_id, {SQL_WEEK.format(ts="ts")} AS week,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS wc
        FROM events GROUP BY 1, 2
    ),
    p AS (
        SELECT user_id, wc AS y,
               lag(wc) OVER (PARTITION BY user_id ORDER BY week) AS x
        FROM wk
    ),
    s AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy
        FROM p WHERE x IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                    * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
               AS r1
    FROM s
    WHERE n * sxx - CAST(sx AS HUGEINT) * sx > 0
      AND n * syy - CAST(sy AS HUGEINT) * sy > 0
    ORDER BY user_id
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's weekly spend — the
    burstiness/regularity feature (is this week's spend predicted by
    last week's?). Same exact-sufficient-statistic discipline as
    q_corr_pairs: lag pairs via a per-user window, second moments in
    decimal(38,0)/HUGEINT, one identical-form corr expression;
    zero-variance users filtered in BOTH twins (their r1 is 0/0).
    Scale: one shuffle to weekly grain, one window on user_id, one
    aggregate — all on the weekly relation, not raw events."""
    e = t(spark, sf_dir, "events")
    wk = e.groupBy("user_id", week_str().alias("week")).agg(
        F.sum(cents("value")).alias("wc")
    )
    w = Window.partitionBy("user_id").orderBy("week")
    p = wk.select(
        "user_id",
        F.col("wc").alias("y"),
        F.lag("wc").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    dec = "decimal(38,0)"
    s = p.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    num = (
        F.col("n") * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    ).cast("double")
    return (
        s.filter((varx > 0) & (vary > 0))
        .select(
            "user_id",
            "n",
            (num / F.sqrt(varx.cast("double") * vary.cast("double"))).alias(
                "r1"
            ),
        )
    )


# ---------------------------------------------------------------------------
# interpolated quantiles — percentile_cont twin of q_quantile_grid (A4)
# ---------------------------------------------------------------------------

_INTERP_QUANTILES = (("p50", 1, 2), ("p90", 9, 10))
_SQL_INTERP_VALUES = ", ".join(
    f"('{lbl}', {num}, {den})" for lbl, num, den in _INTERP_QUANTILES
)


@register(
    "q_quantile_interp",
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
    q(q_label, num, den) AS (VALUES {_SQL_INTERP_VALUES}),
    ix AS (
        SELECT DISTINCT r.event_type, r.nn, q.q_label, q.num, q.den,
               ((r.nn - 1) * q.num) // q.den + 1 AS lo_grn,
               CAST(((r.nn - 1) * q.num) % q.den AS DOUBLE) / q.den AS frac
        FROM r CROSS JOIN q
    )
    SELECT i.event_type AS event_type, i.q_label AS q_label,
           CAST(lo.c AS DOUBLE)
             + (CAST(COALESCE(hi.c, lo.c) AS DOUBLE) - CAST(lo.c AS DOUBLE))
               * i.frac AS value_interp,
           CAST(i.nn AS BIGINT) AS n
    FROM ix i
    JOIN r lo ON lo.event_type = i.event_type AND lo.grn = i.lo_grn
    LEFT JOIN r hi ON hi.event_type = i.event_type
                  AND hi.grn = i.lo_grn + 1
    ORDER BY i.event_type, i.q_label
    """,
)
def q_quantile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont (linearly interpolated) p50/p90 per event_type —
    the continuous twin of q_quantile_grid's percentile_disc. The
    interpolation position h = (n−1)·q is kept EXACT as an integer
    pair (lo = h div den, frac = (h mod den)/den), so the only doubles
    are the final identical-form lerp — no float q·n drift. Same
    prefix_rank scale shape as the grid: range-partitioned global
    ranks, per-group offsets broadcast, the two bracketing rows fetched
    by rank join (never a per-group sort in one task); the ranks and
    the spec frame come from queries/_util.py::quantile_ranks."""
    goff, r, fr = quantile_ranks(spark, sf_dir, _INTERP_QUANTILES)
    ix = (
        goff.crossJoin(F.broadcast(fr))
        .select(
            "event_type",
            "nn",
            "q_label",
            (((F.col("nn") - 1) * F.col("num")) / F.col("den"))
            .cast("bigint")
            .alias("_lo0"),
            (
                (((F.col("nn") - 1) * F.col("num")) % F.col("den")).cast(
                    "double"
                )
                / F.col("den")
            ).alias("frac"),
        )
        .withColumn("lo_grn", F.col("_lo0") + 1)
        .drop("_lo0")
    )
    lo = r.select("event_type", F.col("grn").alias("lo_grn"), F.col("c").alias("lo_c"))
    hi = r.select(
        "event_type",
        (F.col("grn") - 1).alias("lo_grn"),
        F.col("c").alias("hi_c"),
    )
    return (
        ix.join(lo, ["event_type", "lo_grn"])
        .join(hi, ["event_type", "lo_grn"], "left")
        .select(
            "event_type",
            "q_label",
            (
                F.col("lo_c").cast("double")
                + (
                    F.coalesce(F.col("hi_c"), F.col("lo_c")).cast("double")
                    - F.col("lo_c").cast("double")
                )
                * F.col("frac")
            ).alias("value_interp"),
            F.col("nn").cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic Poisson bootstrap — distribution-free CIs at scale (R/A10)
# ---------------------------------------------------------------------------

_BOOT_B = 8  # bootstrap replicas

# Poisson(1) inverse-CDF thresholds c_k = e⁻¹·Σ_{j≤k} 1/j!, emitted as
# LITERALS into both twins (same decimal string → same double in both
# engines; no cross-engine libm involved at query time).
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
)


def _poisson_case(u: str) -> str:
    """CASE cascade mapping a uniform ``u`` to a Poisson(1) draw via
    inverse CDF — valid Spark SQL *and* DuckDB SQL (single source)."""
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {whens} ELSE {len(_POIS_CDF)} END"


# uniform in [0,1) from the replica-salted row key (same Knuth hash
# discipline as q_reservoir_group; event_id·B + b stays far inside
# int64 after the mod-P reduction)
_BOOT_U = (
    f"CAST(((event_id * {_BOOT_B} + b) % {_RES_P}) * {_RES_A} % {_RES_P}"
    f" AS DOUBLE) / {_RES_P}"
)


@register(
    "q_bootstrap_means",
    oracle=f"""
    WITH x AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    rep AS (
        SELECT x.*, b FROM x
        CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b)
    ),
    w AS (
        SELECT event_type, b, c,
               {_poisson_case(_BOOT_U)} AS w
        FROM rep
    )
    SELECT event_type, CAST(b AS BIGINT) AS replica,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * c) AS DOUBLE) / sum(w) AS mean_cents
    FROM w GROUP BY 1, 2
    ORDER BY event_type, replica
    """,
)
def q_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the per-type mean — the distribution-free
    confidence-interval machinery that actually works at 100 TB:
    classic resampling needs n draws WITH replacement from a global
    index (impossible distributed), the Poisson(1) approximation gives
    every row an i.i.d. replica weight in a single map-side pass.
    Weights are DETERMINISTIC (replica-salted Knuth hash → uniform →
    inverse-CDF with the 8 Poisson thresholds embedded as identical
    literals in both twins), so the whole Monte-Carlo procedure is
    replayable and oracle-checkable: n_eff and every weighted mean
    hash-match DuckDB. The spread of the 8 replica means IS the
    standard-error estimate. Scale: the only cost over a plain mean is
    the ×8 row expansion, all map-side before the one aggregate."""
    e = t(spark, sf_dir, "events")
    x = e.select("event_type", "event_id", cents("value").alias("c"))
    rep = x.crossJoin(
        F.broadcast(
            spark.range(_BOOT_B).select(F.col("id").cast("bigint").alias("b"))
        )
    )
    w = rep.withColumn("w", F.expr(_poisson_case(_BOOT_U)))
    return (
        w.groupBy("event_type", F.col("b").alias("replica"))
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            (
                F.sum(F.col("w") * F.col("c")).cast("double") / F.sum("w")
            ).alias("mean_cents"),
        )
    )


# ---------------------------------------------------------------------------
# shuffle-skew probe — heavy-hitter diagnostics (A14/ops family)
# ---------------------------------------------------------------------------


@register(
    "q_skew_probe",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
    tot AS (
        SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows FROM c
    ),
    top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 10)
    SELECT t.user_id, t.n, tt.n_keys, tt.n_rows,
           CAST(t.n AS DOUBLE) / tt.n_rows AS share,
           CAST(t.n AS DOUBLE) * tt.n_keys / tt.n_rows AS x_mean
    FROM top t, tot tt ORDER BY t.n DESC, t.user_id
    """,
)
def q_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter probe for a prospective shuffle key: top-10 keys by
    row count with their share of the table and their multiple of the
    mean key size — the diagnostic an engineer runs BEFORE choosing
    between a plain shuffle, AQE skew split, or the manual salted join
    (q_join_salted): x_mean ≳ reducer-count means one key dominates a
    whole task. Top-k rides TakeOrdered (per-partition partial top-10,
    no global sort); totals broadcast. Deterministic tie-break on
    (n DESC, user_id) in both twins."""
    e = t(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = c.agg(
        F.count("*").alias("n_keys"), F.sum("n").cast("bigint").alias("n_rows")
    )
    top = c.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(10)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            "n_keys",
            "n_rows",
            (F.col("n").cast("double") / F.col("n_rows")).alias("share"),
            (
                F.col("n").cast("double") * F.col("n_keys") / F.col("n_rows")
            ).alias("x_mean"),
        )
    )


# ---------------------------------------------------------------------------
# impossible-travel detection (velocity between consecutive locations)
# ---------------------------------------------------------------------------

_IT_P = 2_147_483_647   # Lehmer modulus
_IT_AX = 48_271         # x multiplier
_IT_AY = 16_807         # y multiplier
_IT_SIDE = 1_000_000    # coordinate space (abstract distance units)
_IT_SPEED = 2_000       # max plausible units per second


@register(
    "q_impossible_travel",
    oracle=f"""
    WITH loc AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               (event_id % {_IT_P}) * {_IT_AX} % {_IT_P} % {_IT_SIDE} AS x,
               (event_id % {_IT_P}) * {_IT_AY} % {_IT_P} % {_IT_SIDE} AS y
        FROM events
    ),
    hops AS (
        SELECT user_id, event_id,
               lag(event_id) OVER w AS prev_event,
               greatest(abs(x - lag(x) OVER w), abs(y - lag(y) OVER w))
                   AS dist,
               us - lag(us) OVER w AS dt_us
        FROM loc
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT user_id, event_id, CAST(prev_event AS BIGINT) AS prev_event,
           CAST(dist AS BIGINT) AS dist, dt_us
    FROM hops
    WHERE prev_event IS NOT NULL
      AND dist * 1000000 > {_IT_SPEED} * dt_us
    ORDER BY user_id, event_id
    """,
)
def q_impossible_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impossible-travel detection: flag consecutive events of one
    user whose implied speed (location delta over time delta) exceeds
    a plausibility bound — the classic account-takeover signal ("card
    present in two cities 10 minutes apart"). Locations derive
    deterministically from event ids via the repo's Lehmer hashes (no
    geo columns in the container; the OPERATOR is what's under test),
    distance is integer Chebyshev, and the speed test cross-multiplies
    — dist·10⁶ > v_max·Δt_µs — so the flag is an exact integer
    predicate with NO division and no float anywhere. One
    user-partitioned lag window = one shuffle; the flag predicate is a
    map-side filter after it."""
    us = F.unix_micros(F.col("ts"))
    loc = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        us.alias("us"),
        ((F.col("event_id") % _IT_P) * _IT_AX % _IT_P % _IT_SIDE).alias("x"),
        ((F.col("event_id") % _IT_P) * _IT_AY % _IT_P % _IT_SIDE).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    hops = loc.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.greatest(
            F.abs(F.col("x") - F.lag("x").over(w)),
            F.abs(F.col("y") - F.lag("y").over(w)),
        ).alias("dist"),
        (F.col("us") - F.lag("us").over(w)).alias("dt_us"),
    )
    return (
        hops.filter(
            F.col("prev_event").isNotNull()
            & (F.col("dist") * 1_000_000 > _IT_SPEED * F.col("dt_us"))
        )
        .select(
            "user_id",
            "event_id",
            F.col("prev_event").cast("bigint").alias("prev_event"),
            F.col("dist").cast("bigint").alias("dist"),
            "dt_us",
        )
    )


# ---------------------------------------------------------------------------
# structuring / smurfing detection (just-below-threshold repetition)
# ---------------------------------------------------------------------------

_ST_THRESHOLD_C = 10_000   # reporting threshold, cents (100.00)
_ST_BAND_PCT = 25          # "near" = within 25% below the threshold
_ST_MIN_HITS = 2           # flag at >= this many near-threshold txns/day


@register(
    "q_structuring",
    oracle=f"""
    WITH near AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
        WHERE event_type = 'purchase'
          AND CAST(round(value * 100) AS BIGINT)
                >= {_ST_THRESHOLD_C} * (100 - {_ST_BAND_PCT}) // 100
          AND CAST(round(value * 100) AS BIGINT) < {_ST_THRESHOLD_C}
    ),
    daily AS (
        SELECT user_id, day, count(*) AS n_near,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               CAST(max(c) AS BIGINT) AS max_cents
        FROM near GROUP BY 1, 2
    )
    SELECT user_id, day, n_near, sum_cents, max_cents
    FROM daily WHERE n_near >= {_ST_MIN_HITS}
    ORDER BY user_id, day
    """,
)
def q_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structuring / smurfing detection: users making {K}+ purchases
    in ONE day that each sit just below the reporting threshold
    (within {B}% under it) — the canonical AML pattern (BSA/CTR
    evasion: split one reportable amount into several
    just-under-the-line transactions). The band predicate is exact
    integer cents and pushes to the scan; per-(user, day) counting is
    one partial-aggregated groupBy; the flag is a HAVING filter. At
    100 TB this is a scan-side filter that discards ~99% of rows
    before the only shuffle — the cheapest possible alert shape."""
    c = cents("value")
    lo = _ST_THRESHOLD_C * (100 - _ST_BAND_PCT) // 100
    near = t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & (c >= lo)
        & (c < _ST_THRESHOLD_C)
    ).select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias(
            "day"
        ),
        c.alias("c"),
    )
    return (
        near.groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_near"),
            F.sum("c").cast("bigint").alias("sum_cents"),
            F.max("c").cast("bigint").alias("max_cents"),
        )
        .filter(F.col("n_near") >= _ST_MIN_HITS)
    )


# ---------------------------------------------------------------------------
# peer-group outlier analysis (robust z vs dominant-type peers)
# ---------------------------------------------------------------------------

_PEER_Z10000 = 35_000  # flag threshold: 0.6745·dev/MAD > 3.5 (×10⁴)


@register(
    "q_peer_outlier",
    oracle=f"""
    WITH spend AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    typed AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    dominant AS (
        SELECT user_id, event_type AS peer_group FROM (
            SELECT user_id, event_type,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY cnt DESC, event_type
                   ) AS rn
            FROM typed
        ) WHERE rn = 1
    ),
    m AS (
        SELECT d.peer_group, s.user_id, s.x,
               row_number() OVER (
                   PARTITION BY d.peer_group ORDER BY s.x, s.user_id
               ) AS rn,
               count(*) OVER (PARTITION BY d.peer_group) AS n
        FROM spend s JOIN dominant d USING (user_id)
    ),
    med AS (
        SELECT peer_group, x AS med FROM m WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT m.peer_group, m.user_id, m.x, med.med,
               abs(m.x - med.med) AS d,
               row_number() OVER (
                   PARTITION BY m.peer_group
                   ORDER BY abs(m.x - med.med), m.user_id
               ) AS rn,
               count(*) OVER (PARTITION BY m.peer_group) AS n
        FROM m JOIN med USING (peer_group)
    ),
    mad AS (
        SELECT peer_group, d AS mad FROM dev WHERE rn = (n + 1) // 2
    )
    SELECT dev.peer_group, dev.user_id, dev.x, dev.med,
           CAST(mad.mad AS BIGINT) AS mad,
           0.6745 * CAST(dev.d AS DOUBLE) / mad.mad AS robust_z
    FROM dev JOIN mad USING (peer_group)
    WHERE mad.mad > 0 AND dev.d * 6745 > {_PEER_Z10000} * mad.mad
    ORDER BY peer_group, user_id
    """,
)
def q_peer_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer-group outlier analysis — the AML technique of that name:
    each account's spend compared against its PEER GROUP (users whose
    dominant activity type matches — deterministic mode with a type
    tiebreak), flagged when the robust z-score 0.6745·|x−med|/MAD
    exceeds 3.5 (Iglewicz-Hoaglin; median/MAD resist the very
    outliers being hunted, unlike mean/σ). Exact discipline: group
    medians and MADs are lower-medians from partitioned ranks (all
    int cents), and the FLAG is the cross-multiplied integer
    predicate dev·6745 > 35000·MAD — no float ever decides
    membership; the reported z is display-only. Partitioned windows
    only (peer-group-bounded), two rank passes + two broadcast-size
    stat joins."""
    c = cents("value")
    e = t(spark, sf_dir, "events")
    spend = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", c).otherwise(0))
        .cast("bigint")
        .alias("x")
    )
    typed = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w_dom = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), "event_type"
    )
    dominant = (
        typed.withColumn("rn", F.row_number().over(w_dom))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("peer_group"))
    )
    w_rank = Window.partitionBy("peer_group").orderBy("x", "user_id")
    w_n = Window.partitionBy("peer_group")

    # m feeds the median probe AND the deviation frame, dev the MAD
    # probe AND the final filter — persist both or the spend/dominant
    # build replays per reference (8 parquet scans)
    m = track_cache(
        spend.join(dominant, "user_id")
        .select(
            "peer_group",
            "user_id",
            "x",
            F.row_number().over(w_rank).alias("rn"),
            F.count("*").over(w_n).alias("n"),
        )
        .persist()
    )
    med = m.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("peer_group", F.col("x").alias("med"))
    w_dev = Window.partitionBy("peer_group").orderBy(
        F.abs(F.col("x") - F.col("med")), "user_id"
    )
    dev = track_cache(
        m.join(F.broadcast(med), "peer_group")
        .select(
            "peer_group",
            "user_id",
            "x",
            "med",
            F.abs(F.col("x") - F.col("med")).alias("d"),
            F.row_number().over(w_dev).alias("rn"),
            F.col("n"),
        )
        .persist()
    )
    mad = dev.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("peer_group", F.col("d").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "peer_group")
        .filter(
            (F.col("mad") > 0)
            & (F.col("d") * 6745 > _PEER_Z10000 * F.col("mad"))
        )
        .select(
            "peer_group",
            "user_id",
            "x",
            "med",
            F.col("mad").cast("bigint").alias("mad"),
            (
                0.6745 * F.col("d").cast("double") / F.col("mad")
            ).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# reciprocal-flow (round-tripping) pairs
# ---------------------------------------------------------------------------

_RT_MAX_NET_PCT = 20  # flag pairs whose net is <= this % of gross


@register(
    "q_reciprocal_flows",
    oracle=f"""
    WITH flows AS (
        SELECT user_id AS src, {SQL_CONTACT} AS dst,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS amt,
               count(*) AS n
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL AND user_id <> {SQL_CONTACT}
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT f.src AS a, f.dst AS b,
               f.amt AS ab_cents, r.amt AS ba_cents,
               CAST(f.n AS BIGINT) AS ab_n, CAST(r.n AS BIGINT) AS ba_n
        FROM flows f JOIN flows r ON f.src = r.dst AND f.dst = r.src
        WHERE f.src < f.dst
    )
    SELECT a, b, ab_cents, ba_cents, ab_n, ba_n,
           CAST(abs(ab_cents - ba_cents) AS DOUBLE)
             / (ab_cents + ba_cents) AS net_ratio
    FROM pairs
    WHERE abs(ab_cents - ba_cents) * 100
            <= {_RT_MAX_NET_PCT} * (ab_cents + ba_cents)
    ORDER BY a, b
    """,
)
def q_reciprocal_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-tripping detection: account pairs moving money in BOTH
    directions with a small net — gross flow without economic
    substance, the wash-trading / value-parking signature (an honest
    payer-payee pair nets near ±100%; a laundering pair nets near 0).
    Per-direction flows aggregate first (|pairs| ≪ |events|), the
    reciprocal join matches (a→b) to (b→a) once via a < b, and the
    flag is the cross-multiplied integer predicate |ab−ba|·100 ≤
    p·(ab+ba) — the reported net_ratio double is display-only. One
    pair-keyed self-join on the aggregated flow table, which is
    persisted: the self-join's two sides plan as independent
    subtrees, so an unpersisted flow table replays the events scan +
    JSON parse + aggregate per side (zero ReusedExchange in the
    executed plan)."""
    flows = track_cache(
        t(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("src"),
            contact().alias("dst"),
            cents("value").alias("c"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(
            F.sum("c").cast("bigint").alias("amt"),
            F.count("*").alias("n"),
        )
        .persist()
    )
    f, r = flows.alias("f"), flows.alias("r")
    pairs = (
        f.join(
            r,
            (F.col("f.src") == F.col("r.dst"))
            & (F.col("f.dst") == F.col("r.src")),
        )
        .filter(F.col("f.src") < F.col("f.dst"))
        .select(
            F.col("f.src").alias("a"),
            F.col("f.dst").alias("b"),
            F.col("f.amt").alias("ab_cents"),
            F.col("r.amt").alias("ba_cents"),
            F.col("f.n").cast("bigint").alias("ab_n"),
            F.col("r.n").cast("bigint").alias("ba_n"),
        )
    )
    gross = F.col("ab_cents") + F.col("ba_cents")
    net = F.abs(F.col("ab_cents") - F.col("ba_cents"))
    return (
        pairs.filter(net * 100 <= _RT_MAX_NET_PCT * gross)
        .select(
            "a",
            "b",
            "ab_cents",
            "ba_cents",
            "ab_n",
            "ba_n",
            (net.cast("double") / gross).alias("net_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# mule-account passthrough (rapid in-out flow ratio)
# ---------------------------------------------------------------------------

_MULE_MIN_GROSS_C = 40_000   # only days moving >= 400.00 gross
_MULE_MIN_PASS_PCT = 60      # passthrough = min(in,out)/max(in,out) >= 60%


@register(
    "q_mule_passthrough",
    oracle=f"""
    WITH directed AS (
        SELECT user_id AS node,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               0 AS is_in,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL
        UNION ALL
        SELECT {SQL_CONTACT} AS node,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               1 AS is_in,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL
    ),
    daily AS (
        SELECT node, day,
               CAST(sum(CASE WHEN is_in = 1 THEN c ELSE 0 END) AS BIGINT)
                   AS in_cents,
               CAST(sum(CASE WHEN is_in = 0 THEN c ELSE 0 END) AS BIGINT)
                   AS out_cents
        FROM directed GROUP BY 1, 2
    )
    SELECT node, day, in_cents, out_cents,
           CAST(least(in_cents, out_cents) AS DOUBLE)
             / greatest(in_cents, out_cents) AS passthrough
    FROM daily
    WHERE in_cents + out_cents >= {_MULE_MIN_GROSS_C}
      AND least(in_cents, out_cents) * 100
            >= {_MULE_MIN_PASS_PCT} * greatest(in_cents, out_cents)
    ORDER BY node, day
    """,
)
def q_mule_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mule-account passthrough: accounts whose SAME-DAY inbound and
    outbound volumes are both large and nearly equal — money arriving
    and leaving within the day is the classic mule signature (real
    accounts accumulate or spend; mules forward). Each event emits to
    both endpoints' daily ledgers via a two-branch union (the scatter
    that turns an edge list into per-node flow books — one pass, no
    join), then one (node, day) aggregate; both flag conditions are
    exact-integer cross-multiplications, the passthrough ratio double
    is display-only."""
    base = t(spark, sf_dir, "events").select(
        "user_id",
        contact().alias("k"),
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias(
            "day"
        ),
        cents("value").alias("c"),
    ).filter(F.col("k").isNotNull())
    # scatter to both endpoints' ledgers from ONE pass: a two-branch
    # union re-runs the events scan + JSON parse per branch
    directed = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("user_id").alias("node"), F.lit(0).alias("is_in")
                ),
                F.struct(F.col("k").alias("node"), F.lit(1).alias("is_in")),
            )
        ).alias("x"),
        "day",
        "c",
    ).select("x.node", "day", "x.is_in", "c")
    daily = directed.groupBy("node", "day").agg(
        F.sum(F.when(F.col("is_in") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("in_cents"),
        F.sum(F.when(F.col("is_in") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("out_cents"),
    )
    lo = F.least(F.col("in_cents"), F.col("out_cents"))
    hi = F.greatest(F.col("in_cents"), F.col("out_cents"))
    return (
        daily.filter(
            (F.col("in_cents") + F.col("out_cents") >= _MULE_MIN_GROSS_C)
            & (lo * 100 >= _MULE_MIN_PASS_PCT * hi)
        )
        .select(
            "node",
            "day",
            "in_cents",
            "out_cents",
            (lo.cast("double") / hi).alias("passthrough"),
        )
    )


# ---------------------------------------------------------------------------
# taint tracing (amount-weighted fund-flow propagation from seeds)
# ---------------------------------------------------------------------------

_TAINT_SCALE = 1_000_000  # taint carried in integer micro-units
_TAINT_HOPS = 2


def _taint_sql() -> str:
    sql = f"""
    WITH flows AS (
        SELECT user_id AS src, {SQL_CONTACT} AS dst,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS amt
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL AND user_id <> {SQL_CONTACT}
        GROUP BY 1, 2
    ),
    outs AS (
        SELECT src, CAST(sum(amt) AS BIGINT) AS out_total
        FROM flows GROUP BY 1
    ),
    seeds AS (SELECT DISTINCT src AS node FROM flows WHERE src % 50 = 0),
    t0 AS (SELECT node, {_TAINT_SCALE} AS taint FROM seeds)"""
    for i in range(_TAINT_HOPS):
        sql += f""",
    t{i + 1} AS (
        SELECT f.dst AS node,
               CAST(sum(t{i}.taint * f.amt // o.out_total) AS BIGINT)
                   AS taint
        FROM t{i}
        JOIN flows f ON f.src = t{i}.node
        JOIN outs o ON o.src = t{i}.node
        GROUP BY 1
    )"""
    union = "\n        UNION ALL\n        ".join(
        f"SELECT node, {h} AS hop, taint FROM t{h}"
        for h in range(_TAINT_HOPS + 1)
    )
    sql += f"""
    SELECT node, CAST(hop AS BIGINT) AS hop, taint
    FROM ({union})
    WHERE taint > 0
    ORDER BY node, hop
    """
    return sql


@register(
    "q_taint_tracing",
    oracle=_taint_sql(),
)
def q_taint_tracing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Follow-the-money taint tracing: seed accounts start with one
    unit of taint, and each hop forwards taint along outgoing flows
    PRO-RATA by amount (taint(v) += taint(u)·amt(u→v)/out(u)) — the
    haircut/proportional attribution model forensic teams use to ask
    "how much of the flagged money reached account X within k hops".
    Taint rides as integer micro-units with the pro-rata share an
    integer floor division (amounts are positive, so Spark div ≡
    DuckDB // — engine-exact; tiny residues truncate, the standard
    conservative haircut). Each hop is one src-keyed join against the
    aggregated flow table + one receiver groupBy — PPR's shape with
    amount weights instead of uniform ones; frontier stays
    seed-neighborhood-sized."""
    flows = track_cache(
        t(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("src"),
            contact().alias("dst"),
            cents("value").alias("c"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("bigint").alias("amt"))
        .persist()
    )
    outs = flows.groupBy("src").agg(
        F.sum("amt").cast("bigint").alias("out_total")
    )
    # fo is probed once per hop, and each level's lineage chains every
    # earlier hop — without persists the final union re-derives hop k
    # for EVERY level ≥ k (triangular re-evaluation: the json-extract
    # scan runs 9× in the executed plan). Persist fo once and
    # each hop frontier (frontiers are seed-neighborhood-sized).
    fo = track_cache(flows.join(outs, "src").persist())
    cur = (
        flows.filter(F.col("src") % 50 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(_TAINT_SCALE).alias("taint"))
    )
    levels = [cur.select("node", F.lit(0).alias("hop"), "taint")]
    for i in range(1, _TAINT_HOPS + 1):
        cur = track_cache(
            cur.join(fo, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                F.expr("taint * amt div out_total").alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").cast("bigint").alias("taint"))
            .persist()
        )
        levels.append(cur.select("node", F.lit(i).alias("hop"), "taint"))
    out = levels[0]
    for nxt in levels[1:]:
        out = out.unionByName(nxt)
    return (
        out.filter(F.col("taint") > 0)
        .select("node", F.col("hop").cast("bigint").alias("hop"), "taint")
    )


# ---------------------------------------------------------------------------
# per-group Benford conformity (MAD score)
# ---------------------------------------------------------------------------

# log10(1 + 1/d) for d=1..9, quantized to 1e-9 — PRECOMPUTED constants
# inlined into both twins, so no transcendental runs in either engine
_BENFORD_Q9 = (
    301029996, 176091259, 124938737, 96910013, 79181246,
    66946790, 57991947, 51152522, 45757491,
)
_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN {i + 1} THEN {v}" for i, v in enumerate(_BENFORD_Q9)
) + " END"


@register(
    "q_benford_groups",
    oracle=f"""
    WITH digits AS (
        SELECT event_type,
               CAST(substr(CAST(CAST(round(value * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM events
        WHERE CAST(round(value * 100) AS BIGINT) >= 1
    ),
    g AS (
        SELECT event_type, d, count(*) AS n FROM digits GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS n_tot
        FROM g GROUP BY 1
    ),
    dev AS (
        SELECT g.event_type,
               abs(CAST(g.n AS HUGEINT) * 1000000000
                   - CAST(({_BENFORD_CASE}) AS HUGEINT) * t.n_tot)
                   AS dev_q
        FROM g JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST(max(n_tot) AS BIGINT) AS n_values,
           CAST(sum(dev_q) // (9 * max(n_tot)) AS BIGINT) AS mad_q9,
           CAST(CAST(sum(dev_q) // (9 * max(n_tot)) AS BIGINT) AS DOUBLE)
             / 1000000000 AS benford_mad
    FROM dev JOIN tot USING (event_type)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_benford_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Benford conformity: mean absolute deviation between
    each group's first-digit distribution and Benford's law — the
    forensic-accounting screen applied PER SEGMENT (Nigrini's MAD
    bands: a segment whose amounts are invented drifts from the
    log-curve even when the global book conforms). Zero
    transcendentals at query time: the nine log10(1+1/d) expectations
    are PRECOMPUTED 1e-9-quantized integer constants inlined into both
    twins, each deviation is the exact integer |n_d·10⁹ − e_d·n_tot|
    in HUGEINT, and the MAD is one integer floor division (positive
    operands: div ≡ //). One digit-extraction scan + two tiny
    groupBys."""
    c = cents("value")
    digits = (
        t(spark, sf_dir, "events")
        .filter(c >= 1)
        .select(
            "event_type",
            F.substring(c.cast("string"), 1, 1).cast("bigint").alias("d"),
        )
    )
    g = digits.groupBy("event_type", "d").agg(F.count("*").alias("n"))
    tot = g.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_tot")
    )
    expected = F.expr(_BENFORD_CASE)
    dec = "decimal(38,0)"
    dev = g.join(tot, "event_type").select(
        "event_type",
        "n_tot",
        F.abs(
            F.col("n").cast(dec) * 1_000_000_000
            - expected.cast(dec) * F.col("n_tot")
        ).alias("dev_q"),
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.max("n_tot").cast("bigint").alias("n_values"),
            F.expr("CAST(sum(dev_q) div (9 * max(n_tot)) AS BIGINT)").alias(
                "mad_q9"
            ),
        )
        .select(
            "event_type",
            "n_values",
            "mad_q9",
            (F.col("mad_q9").cast("double") / 1_000_000_000).alias(
                "benford_mad"
            ),
        )
    )


# ---------------------------------------------------------------------------
# circular time-of-day concentration (bot-regularity signal)
# ---------------------------------------------------------------------------

# cos/sin(2π·h/24) for h = 0..23, quantized to 1e-9 and INLINED into
# both twins — computed once here in Python, so neither engine runs a
# transcendental at query time (the q_benford_groups discipline)
import math as _math

_CIRC_COS_Q = tuple(
    round(_math.cos(2 * _math.pi * h / 24) * 1e9) for h in range(24)
)
_CIRC_SIN_Q = tuple(
    round(_math.sin(2 * _math.pi * h / 24) * 1e9) for h in range(24)
)
_CIRC_COS_CASE = "CASE h " + " ".join(
    f"WHEN {h} THEN {v}" for h, v in enumerate(_CIRC_COS_Q)
) + " END"
_CIRC_SIN_CASE = "CASE h " + " ".join(
    f"WHEN {h} THEN {v}" for h, v in enumerate(_CIRC_SIN_Q)
) + " END"


@register(
    "q_circular_hours",
    oracle=f"""
    WITH h AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT) AS h
        FROM events
    ),
    v AS (
        SELECT user_id,
               count(*) AS n,
               CAST(sum({_CIRC_COS_CASE}) AS HUGEINT) AS sc,
               CAST(sum({_CIRC_SIN_CASE}) AS HUGEINT) AS ss
        FROM h GROUP BY 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           sqrt(CAST(sc * sc + ss * ss AS DOUBLE)) / 1000000000 / n
               AS resultant
    FROM v WHERE n >= 5 ORDER BY user_id
    """,
)
def q_circular_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular concentration of activity time-of-day: the mean
    resultant length R of each user's event hours on the 24-hour
    circle — R→1 means activity locked to one time of day (the
    bot/scripted-session regularity signal; humans spread), R→0 means
    uniform. Linear hour statistics break at midnight (23:00 and
    01:00 average to noon); circular statistics is the correct family.
    Zero query-time transcendentals: the 24 cos/sin values are
    precomputed 1e-9-quantized integers inlined into both twins
    (UTC-pinned hour from pure integer epoch division — never
    engine-localized hour()); Σcos/Σsin are exact HUGEINT sums, and
    R = √(sc²+ss²)/10⁹/n is one IEEE-exact sqrt + two divisions.
    One user-keyed aggregate."""
    dec = "decimal(38,0)"
    h = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 3600000000 % 24")
        .cast("bigint")
        .alias("h"),
    )
    v = h.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.expr(_CIRC_COS_CASE).cast(dec)).alias("sc"),
        F.sum(F.expr(_CIRC_SIN_CASE).cast(dec)).alias("ss"),
    )
    return (
        v.filter(F.col("n") >= 5)
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            (
                F.sqrt(
                    (
                        F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")
                    ).cast("double")
                )
                / 1_000_000_000
                / F.col("n")
            ).alias("resultant"),
        )
    )


# ---------------------------------------------------------------------------
# Graph-temporal: counterparty novelty per user-week
# ---------------------------------------------------------------------------


@register(
    "q_edge_novelty",
    oracle=f"""
    WITH ew AS (
        SELECT DISTINCT user_id AS src, {SQL_CONTACT} AS dst,
               epoch_us(ts) // 604800000000 AS week
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL
    ),
    first_seen AS (
        SELECT src, dst, min(week) AS first_week FROM ew GROUP BY 1, 2
    )
    SELECT ew.src AS user_id, ew.week,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN f.first_week = ew.week THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN f.first_week = ew.week THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS novelty_ratio
    FROM ew JOIN first_seen f ON f.src = ew.src AND f.dst = ew.dst
    GROUP BY 1, 2 ORDER BY user_id, week
    """,
)
def q_edge_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterparty novelty per user-week: of the distinct
    counterparties a user touched in a week, how many had NEVER
    appeared in any earlier week — the 'suddenly transacting with
    strangers' account-takeover / mule-recruitment signal (a
    compromised account's novelty ratio jumps to ~1 while its owner's
    steady state sits near 0; q_doc_novelty is the same
    first-occurrence decomposition on corpora). min(week) per edge
    attributes first occurrences in ONE aggregate, so no
    week-over-week self-join or quadratic prefix scan — the
    weekly-distinct edge table joins its own first-seen summary back
    on the edge key (two shuffles on (src,dst), both partial-
    aggregated). Week is pure integer epoch//604800 — never
    engine-localized date_trunc."""
    e = t(spark, sf_dir, "events")
    ew = (
        e.select(
            F.col("user_id").alias("src"),
            contact().alias("dst"),
            F.expr("cast(unix_micros(ts) div 1000000 as bigint) div 604800").alias(
                "week"
            ),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
    )
    # first_week as a window min over the edge key: a groupBy +
    # join-back would reference ew twice, replaying the events
    # scan + JSON parse + distinct per reference (zero ReusedExchange);
    # the window is one shuffle on the same key the join used
    first_seen = F.min("week").over(Window.partitionBy("src", "dst"))
    return (
        ew.withColumn("first_week", first_seen)
        .groupBy(F.col("src").alias("user_id"), "week")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(F.when(F.col("first_week") == F.col("week"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
        .select(
            "user_id",
            "week",
            "n_active",
            "n_new",
            (F.col("n_new").cast("double") / F.col("n_active")).alias(
                "novelty_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal volume anomaly: hour-slot weekly counts vs robust baseline
# ---------------------------------------------------------------------------

_SEAS_Z10 = 20  # robust-z threshold ×10 (2.0) for the flag predicate


@register(
    "q_seasonal_anomaly",
    oracle=f"""
    WITH slotted AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000) % 24 AS hour_slot,
               epoch_us(ts) // 604800000000 AS week,
               count(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT event_type, hour_slot, week, n,
               row_number() OVER (PARTITION BY event_type, hour_slot
                                  ORDER BY n, week) AS rn,
               count(*) OVER (PARTITION BY event_type, hour_slot) AS nw
        FROM slotted
    ),
    med AS (
        SELECT event_type, hour_slot, n AS med_n
        FROM ranked WHERE rn = (nw + 1) // 2
    ),
    dev AS (
        SELECT s.event_type, s.hour_slot, s.week, s.n, m.med_n,
               abs(s.n - m.med_n) AS ad
        FROM slotted s JOIN med m USING (event_type, hour_slot)
    ),
    adr AS (
        SELECT event_type, hour_slot, week, n, med_n, ad,
               row_number() OVER (PARTITION BY event_type, hour_slot
                                  ORDER BY ad, week) AS rn,
               count(*) OVER (PARTITION BY event_type, hour_slot) AS nw
        FROM dev
    ),
    mad AS (
        SELECT event_type, hour_slot, ad AS mad_n
        FROM adr WHERE rn = (nw + 1) // 2
    )
    SELECT d.event_type, d.hour_slot, d.week, d.n, d.med_n, m.mad_n
    FROM dev d JOIN mad m USING (event_type, hour_slot)
    WHERE m.mad_n > 0
      AND d.ad * 6745 > {_SEAS_Z10} * 1000 * m.mad_n
    ORDER BY event_type, hour_slot, week
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal volume anomaly: weekly event counts per (type,
    hour-of-day) slot, flagged when a week deviates from the SLOT's
    own across-week robust baseline — the time-of-day-aware volume
    monitor ('3 AM error volume tripled') that a global threshold
    can't express because 3 AM and 3 PM have different normals. The
    baseline is the exact lower-median of weekly counts and MAD of
    absolute deviations (both integer order statistics from slot-
    bounded partitioned ranks — the q_peer_outlier machinery on the
    VOLUME grain, where that query flags value outliers per peer
    group), and the flag is the cross-multiplied integer
    |n−med|·6745 > 2.0·1000·MAD so no float robust-z picks the row
    set. Hour and week are pure integer epoch arithmetic (UTC-pinned,
    never engine-localized hour()). Scale: the slotted aggregate is
    one partial-aggregated groupBy down to |types|·24·|weeks| rows —
    everything after operates on that constant-ish frame."""
    e = t(spark, sf_dir, "events")
    slotted = e.groupBy(
        "event_type",
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hour_slot"),
        F.expr("unix_micros(ts) div 604800000000").alias("week"),
    ).agg(F.count("*").alias("n"))
    wslot = Window.partitionBy("event_type", "hour_slot")
    ranked = slotted.select(
        "*",
        F.row_number()
        .over(wslot.orderBy("n", "week"))
        .alias("rn"),
        F.count("*").over(wslot).alias("nw"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(nw + 1) div 2")
    ).select("event_type", "hour_slot", F.col("n").alias("med_n"))
    dev = slotted.join(F.broadcast(med), ["event_type", "hour_slot"]).select(
        "event_type",
        "hour_slot",
        "week",
        "n",
        "med_n",
        F.abs(F.col("n") - F.col("med_n")).alias("ad"),
    )
    adr = dev.select(
        "*",
        F.row_number().over(wslot.orderBy("ad", "week")).alias("rn"),
        F.count("*").over(wslot).alias("nw"),
    )
    mad = adr.filter(F.col("rn") == F.expr("(nw + 1) div 2")).select(
        "event_type", "hour_slot", F.col("ad").alias("mad_n")
    )
    return (
        dev.join(F.broadcast(mad), ["event_type", "hour_slot"])
        .filter(
            (F.col("mad_n") > 0)
            & (F.col("ad") * 6745 > _SEAS_Z10 * 1000 * F.col("mad_n"))
        )
        .select("event_type", "hour_slot", "week", "n", "med_n", "mad_n")
    )


# ---------------------------------------------------------------------------
# End-to-end fraud-dataset funnel: the reference's pipeline composed
# ---------------------------------------------------------------------------


def _fraud_funnel_oracle() -> str:
    from frauddetection_spark.operators.sampling import sql_portable_split

    return f"""
    WITH per AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_err
        FROM events GROUP BY 1
    ),
    edges0 AS ({SQL_REPEAT_CONTACTS}),
    nodes AS (
        SELECT DISTINCT u FROM (
            SELECT src AS u FROM edges0 UNION ALL SELECT dst FROM edges0
        )
    ),
    f AS (
        SELECT p.user_id,
               (p.n_events >= 60) AS featured,
               (n.u IS NOT NULL) AS in_graph,
               ({sql_portable_split("p.user_id")} = 'train') AS is_train,
               (p.n_err >= {ERROR_THRESHOLD}) AS is_pos
        FROM per p LEFT JOIN nodes n ON p.user_id = n.u
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS stage, 'users' AS stage_name,
               CAST(count(*) AS BIGINT) AS n_users FROM f
        UNION ALL SELECT 2, 'featured',
               CAST(sum(CASE WHEN featured THEN 1 ELSE 0 END) AS BIGINT)
               FROM f
        UNION ALL SELECT 3, 'connected',
               CAST(sum(CASE WHEN featured AND in_graph
                        THEN 1 ELSE 0 END) AS BIGINT) FROM f
        UNION ALL SELECT 4, 'train',
               CAST(sum(CASE WHEN featured AND in_graph AND is_train
                        THEN 1 ELSE 0 END) AS BIGINT) FROM f
        UNION ALL SELECT 5, 'train_pos',
               CAST(sum(CASE WHEN featured AND in_graph AND is_train
                             AND is_pos THEN 1 ELSE 0 END) AS BIGINT)
               FROM f
    ) ORDER BY stage
    """


@register("q_fraud_funnel", oracle=_fraud_funnel_oracle())
def q_fraud_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's END-TO-END training-dataset pipeline
    (data_process.py feature rollup → graph construction → labeling →
    split, `Code for Sichuan/data_process.py:114-158` +
    `new_train_1.py:79-117`) composed into one declarative funnel:
    users → featured (≥60 events — a real minimum-activity gate that
    binds at every sf, cf. the reference's per-user aggregation window)
    → connected (present in the repeat-contact graph — the SAME
    repeat_contacts sparsification as q_label_propagation) → train (the
    portable 80% hash split of q_split_stratified) → train positives
    (the ≥ERROR_THRESHOLD-error label rule the MLlib pipeline trains on).
    Stages are nested by construction so the funnel is monotone; the
    counts are the class-balance numbers a training run starts from
    (the reference reports exactly these: nodes, edges, fraud/benign
    per split). ONE aggregation pass computes per-user flags, the
    graph membership is a left join against the distinct node set,
    and the five counters come from a single 1-row aggregate exploded
    to rows — no repeated scans, no driver loop."""
    from frauddetection_spark.operators.sampling import portable_split

    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    rep = repeat_contacts(ev)
    # explode-scatter, not a two-branch union: both endpoints come out
    # of ONE reference to rep, so the scan+JSON+weight-agg lineage is
    # evaluated once (a union form replays it per branch)
    nodes = (
        rep.select(F.explode(F.array("src", "dst")).alias("u"))
        .distinct()
        .withColumn("in_graph", F.lit(True))
    )
    f = per.join(nodes, per.user_id == nodes.u, "left").select(
        (F.col("n_events") >= 60).alias("featured"),
        F.coalesce("in_graph", F.lit(False)).alias("in_graph"),
        (portable_split(F.col("user_id")) == "train").alias("is_train"),
        (F.col("n_err") >= ERROR_THRESHOLD).alias("is_pos"),
    )
    one = f.agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("featured"), 1).otherwise(0))
        .cast("bigint").alias("n2"),
        F.sum(F.when(F.col("featured") & F.col("in_graph"), 1).otherwise(0))
        .cast("bigint").alias("n3"),
        F.sum(
            F.when(
                F.col("featured") & F.col("in_graph") & F.col("is_train"), 1
            ).otherwise(0)
        ).cast("bigint").alias("n4"),
        F.sum(
            F.when(
                F.col("featured") & F.col("in_graph") & F.col("is_train")
                & F.col("is_pos"),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n5"),
    )
    stages = F.array(
        F.struct(F.lit(1).cast("bigint").alias("stage"),
                 F.lit("users").alias("stage_name"),
                 F.col("n1").alias("n_users")),
        F.struct(F.lit(2).cast("bigint").alias("stage"),
                 F.lit("featured").alias("stage_name"),
                 F.col("n2").alias("n_users")),
        F.struct(F.lit(3).cast("bigint").alias("stage"),
                 F.lit("connected").alias("stage_name"),
                 F.col("n3").alias("n_users")),
        F.struct(F.lit(4).cast("bigint").alias("stage"),
                 F.lit("train").alias("stage_name"),
                 F.col("n4").alias("n_users")),
        F.struct(F.lit(5).cast("bigint").alias("stage"),
                 F.lit("train_pos").alias("stage_name"),
                 F.col("n5").alias("n_users")),
    )
    return (
        one.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.stage_name", "s.n_users")
    )
