"""Scalar / relational core: scans, projections, filters, expressions,
joins, plain aggregates, set ops  (SURVEY.md §2.1, §2.2, §2.3 J1/J3/J6/J7,
§2.4 A2-A4/A14/A15, §2.5, §2.8 E6).

Every query here is stock DataFrame API — Catalyst gets full visibility
(pushdown, pruning, join selection). Scale notes are per-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from frauddetection_spark.operators.graph import SQL_CONTACT, contact, sql_mirror
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import SQL_WEEK, cents, r6, t, week_str

# ---------------------------------------------------------------------------
# S2 — parquet scan + global aggregate
# ---------------------------------------------------------------------------


@register(
    "q_scan_parquet",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), 6) AS sum_qty,
           round(min(l_extendedprice), 6) AS min_price,
           round(max(l_extendedprice), 6) AS max_price
    FROM lineitem
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan + global agg (reference: np.load tensor scans,
    Code for Sichuan/main.py:38-57). Scale: pure map-side partial agg,
    single-row exchange; scan prunes to 2 columns (check ReadSchema)."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        r6(F.sum("l_quantity")).alias("sum_qty"),
        r6(F.min("l_extendedprice")).alias("min_price"),
        r6(F.max("l_extendedprice")).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# S5/P4 — timestamp parsing + date-part derivation
# ---------------------------------------------------------------------------


@register(
    "q_ts_parts",
    oracle="""
    SELECT event_id,
           CAST(hour(ts) AS INTEGER) AS hour_of_day,
           strftime(ts, '%Y-%m-%d') AS event_date,
           epoch_us(ts) AS ts_us
    FROM events
    """,
)
def q_ts_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction (reference: voc['hour'] derivation,
    data_process.py:57-58; .dt.date src/utils.py:79). Emits strings /
    epoch ints, not raw DATE, for cross-engine dtype stability."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.hour("ts").alias("hour_of_day"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.unix_micros("ts").alias("ts_us"),
    )


# ---------------------------------------------------------------------------
# P2 — compound-predicate filter
# ---------------------------------------------------------------------------


@register(
    "q_filter_compound",
    oracle="""
    SELECT event_id, user_id, round(value, 6) AS value
    FROM events
    WHERE event_type = 'purchase' AND value > 100
    """,
)
def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate (reference: .loc[(t>t0)&(calltype==2)&(opp==x)],
    src/utils.py:184-185). Both conjuncts push to the parquet scan."""
    e = t(spark, sf_dir, "events")
    return e.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select(
        "event_id", "user_id", r6("value").alias("value")
    )


# ---------------------------------------------------------------------------
# P5 — null coercion over computed nullable aggregates
# ---------------------------------------------------------------------------


@register(
    "q_null_fill",
    oracle="""
    SELECT c.c_custkey,
           CAST(coalesce(o.n_big, 0) AS BIGINT) AS n_big_orders,
           coalesce(o.sum_big, 0.0) AS sum_big_totalprice
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, count(*) AS n_big,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / 100 AS sum_big
        FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def q_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null coercion at the join boundary (reference: np.nan_to_num x10,
    main.py:59-63,84-88 → df.na.fill). Agg-before-join keeps the build
    side small enough to broadcast."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_big"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
                / 100
            ).alias("sum_big"),
        )
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.select(
        "c_custkey",
        F.coalesce(F.col("n_big"), F.lit(0)).cast("bigint").alias("n_big_orders"),
        F.coalesce(F.col("sum_big"), F.lit(0.0)).alias("sum_big_totalprice"),
    )


# ---------------------------------------------------------------------------
# P7 — key-range filter (replaces positional slicing)
# ---------------------------------------------------------------------------


@register(
    "q_key_range",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 6) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey < 750
    """,
)
def q_key_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-range filter. The reference slices by *position*
    (label[:train_index], main.py:133-135) — position is meaningless on
    a distributed table, so the engine's policy is explicit key ranges
    (pushes to parquet min/max pruning)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 750).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        r6("o_totalprice").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )


# ---------------------------------------------------------------------------
# P8 — string expressions
# ---------------------------------------------------------------------------


@register(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           concat_ws(' ', c_name, c_mktsegment) AS name_seg,
           upper(c_mktsegment) AS seg_upper,
           CAST(length(c_name) AS INTEGER) AS name_len,
           substr(c_name, 1, 8) AS name_prefix
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface (reference: ' '.join([city, county]),
    src/utils.py:161,169)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws(" ", "c_name", "c_mktsegment").alias("name_seg"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
    )


# ---------------------------------------------------------------------------
# P9 — conditional expressions
# ---------------------------------------------------------------------------


@register(
    "q_case_when",
    oracle="""
    SELECT event_id,
           CAST(CASE WHEN event_type = 'purchase' THEN 1
                     WHEN event_type = 'error' THEN -1
                     ELSE 0 END AS INTEGER) AS edge_weight
    FROM events
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed weight by event type (reference: calltype ±1 edge weight,
    data_process.py:102-106)."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "error", -1)
        .otherwise(0)
        .cast("int")
        .alias("edge_weight"),
    )


# ---------------------------------------------------------------------------
# P10 — elementwise math
# ---------------------------------------------------------------------------


@register(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(pow(l_quantity, 2), 6) AS qty_sq,
           round(pow(l_quantity + 1, -0.5), 6) AS inv_sqrt_deg,
           round(ln(l_quantity + 1), 6) AS log_qty,
           round(exp(l_discount), 6) AS exp_disc,
           round(abs(l_quantity - 25.0), 6) AS abs_dev,
           round((exp(2*l_tax) - 1) / (exp(2*l_tax) + 1), 6) AS tanh_tax
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise math (reference: degree^-0.5 new_train_1.py:131-138,
    tanh gates layers.py:60, 1/x new_utlis_1.py:18-31). All JVM-side
    whole-stage-codegen expressions — no UDFs."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(F.pow(q, 2)).alias("qty_sq"),
        r6(F.pow(q + 1, -0.5)).alias("inv_sqrt_deg"),
        r6(F.log(q + 1)).alias("log_qty"),
        r6(F.exp("l_discount")).alias("exp_disc"),
        r6(F.abs(q - 25.0)).alias("abs_dev"),
        r6(F.tanh("l_tax")).alias("tanh_tax"),
    )


# ---------------------------------------------------------------------------
# J1 — fact ⋈ dim inner joins (broadcast)
# ---------------------------------------------------------------------------


@register(
    "q_join_inner",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderpriority,
           count(*) AS n_lines,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                      AS DOUBLE) / 10000, 6) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    ORDER BY c.c_mktsegment, o.o_orderpriority
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim join chain (reference: pd.merge(user, voc, on=phone),
    data_process.py:70-71). customer is broadcast (dim ≪ fact); at
    100 TB orders⋈lineitem co-partitions on orderkey via AQE/bucketing.
    Revenue aggregates as exact integer (cents × discount-percent) for
    cross-engine determinism."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            r6(F.sum(rev).cast("double") / 10000).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — existence self theta-join (as-of style)
# ---------------------------------------------------------------------------


@register(
    "q_join_existence",
    oracle="""
    SELECT e.event_id, e.user_id
    FROM events e
    WHERE e.event_type = 'purchase'
      AND EXISTS (SELECT 1 FROM events x
                  WHERE x.user_id = e.user_id
                    AND x.event_type = 'error'
                    AND x.ts > e.ts)
    """,
)
def q_join_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases followed by a later error from the same user — the
    shape of the reference's recall_rate (outbound call with a later
    inbound from same counterparty, src/utils.py:180-187), decorrelated
    from an O(n²) python loop into one aggregate + join.

    Scale form: instead of a LEFT SEMI with an inequality (which Spark
    plans as a broadcast-nested-loop when keys alone don't decide), we
    reduce the probe side first — max(error ts) per user is tiny — then
    a plain equi-join + range filter. One shuffle on user_id."""
    e = t(spark, sf_dir, "events")
    last_err = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.max("ts").alias("max_err_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase")
    return (
        p.join(F.broadcast(last_err), "user_id")
        .filter(F.col("max_err_ts") > F.col("ts"))
        .select("event_id", "user_id")
    )


# ---------------------------------------------------------------------------
# J6 — anti join
# ---------------------------------------------------------------------------


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT order (reference: tmp_ids.discard +
    residual loop, data_process.py:164-169 → left_anti)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# J7 — semi join against a filtered id set
# ---------------------------------------------------------------------------


@register(
    "q_join_semi",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 4000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose customer passes a filter (reference: edge endpoints
    membership mask, new_utlis_2.py:72-84 → LEFT SEMI). The id set is
    broadcast — no shuffle of the fact side."""
    o = t(spark, sf_dir, "orders")
    ids = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 4000).select("c_custkey")
    return o.join(F.broadcast(ids), o.o_custkey == ids.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey"
    )


# ---------------------------------------------------------------------------
# A2 — grouped aggregate (TPC-H Q1 shape) — the flagship
# ---------------------------------------------------------------------------


@register(
    "q_groupby_agg",
    oracle="""
    WITH li AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
               CAST(round(l_discount * 100) AS BIGINT) AS dc
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q) AS DOUBLE) AS sum_qty,
           CAST(sum(pc) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(pc * (100 - dc)) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(sum(q) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(pc) AS DOUBLE) / count(*) / 100 AS avg_price,
           CAST(sum(dc) AS DOUBLE) / count(*) / 100 AS avg_disc,
           (CAST(sum(q * q) AS DOUBLE)
            - CAST(sum(q) * sum(q) AS DOUBLE) / count(*)) / count(*) AS var_qty,
           count(*) AS count_order
    FROM li
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean/var/count/sum (reference: mean_voc_time/var2,
    src/utils.py:245-261). var = np.nanvar ddof=0 (SURVEY §7 watch-list
    #1), spelled (Σx² − (Σx)²/n)/n. Money columns aggregate as exact
    integer cents (2-decimal fixed point) so both engines produce
    identical doubles regardless of summation order / agg kernel.
    Partial aggregation map-side, 6 groups → single tiny exchange."""
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            cents("l_quantity", 1).alias("q"),
            cents("l_extendedprice").alias("pc"),
            cents("l_discount").alias("dc"),
        )
    )
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # no round(): every value is an identical-IEEE-ops function
            # of exact int64 sums, so the doubles are bit-equal across
            # engines — while round(x, 6) itself DIVERGES at .5e-6
            # boundaries (Spark BigDecimal HALF_UP vs DuckDB float
            # multiply). Found by the sf0.1 oracle sweep.
            F.sum("q").cast("double").alias("sum_qty"),
            (F.sum("pc").cast("double") / 100).alias("sum_base_price"),
            (F.sum(F.col("pc") * (100 - F.col("dc"))).cast("double") / 10000).alias("sum_disc_price"),
            (F.sum("q").cast("double") / n).alias("avg_qty"),
            (F.sum("pc").cast("double") / n / 100).alias("avg_price"),
            (F.sum("dc").cast("double") / n / 100).alias("avg_disc"),
            (
                (
                    F.sum(F.col("q") * F.col("q")).cast("double")
                    - (F.sum("q") * F.sum("q")).cast("double") / n
                )
                / n
            ).alias("var_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A3 — count distinct
# ---------------------------------------------------------------------------


@register(
    "q_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type (reference: nunique()/set() size,
    src/utils.py:139,156-162,264-266). Exact here; the approx variant is
    q_approx_count_distinct."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))
    )


@register(
    "q_approx_count_distinct",
    oracle=None,  # HLL sketch values differ across engines by design
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): the 100 TB path for A3 — one pass,
    no per-group hash set. rows-only check (sketch estimates are
    engine-specific)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"))
    )


# ---------------------------------------------------------------------------
# A4 — median / quantiles
# ---------------------------------------------------------------------------


@register(
    "q_median",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (reference: median
    time-on-day, src/utils.py:87). Spark `percentile` = DuckDB
    `quantile_cont` (both linear interpolation). At 100 TB the engine
    swaps in percentile_approx — declared separately so the oracle stays
    exact."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            r6(F.percentile("value", 0.5)).alias("median_value"),
            r6(F.percentile("value", 0.9)).alias("p90_value"),
        )
    )


@register("q_median_approx", oracle=None)
def q_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the scale path for A4 (single-pass sketch)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(r6(F.percentile_approx("value", 0.5, 10000)).alias("median_value_approx"))
    )


# ---------------------------------------------------------------------------
# A14 — top-k per group
# ---------------------------------------------------------------------------


@register(
    "q_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS o_totalprice,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice. Ties broken by orderkey
    for determinism. Spark plans this as a partial top-k per partition
    before the shuffle (WindowGroupLimit) — no full sort of the fact."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", r6("o_totalprice").alias("o_totalprice"), F.col("rk").cast("int").alias("rk"))
    )


# ---------------------------------------------------------------------------
# A15 — rollup
# ---------------------------------------------------------------------------


@register(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup — free in Spark (absent in the reference)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(r6(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# U1 — union + edge mirroring
# ---------------------------------------------------------------------------


@register(
    "q_union_mirror",
    oracle=f"""
    WITH edges AS (SELECT DISTINCT user_id AS src, {SQL_CONTACT} AS dst FROM events)
    {sql_mirror("edges")}
    """,
)
def q_union_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge list via (src,dst) ∪ (dst,src) (reference: edge
    mirroring main.py:102-110). Edges derive from events: user ↔
    counterparty (props.k), the engine's canonical graph."""
    e = t(spark, sf_dir, "events")
    edges = e.select(F.col("user_id").alias("src"), contact().alias("dst")).distinct()
    return edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


# ---------------------------------------------------------------------------
# U2 — exact dedup, deterministic representative
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT user_id, event_type,
           min(event_id) AS min_event_id,
           count(*) AS n_dups
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with deterministic representative (reference:
    drop_duplicates, src/utils.py:220-221 — whose row choice is
    nondeterministic; engine policy is min-per-group, SURVEY §5)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("min_event_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# U5 — table-level set ops
# ---------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who purchased but never errored (set difference)."""
    e = t(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    erroring = e.filter(F.col("event_type") == "error").select("user_id")
    return buyers.subtract(erroring)


@register(
    "q_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users present in both behavioral slices (set intersection)."""
    e = t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b)


# ---------------------------------------------------------------------------
# E6 — JSON extraction
# ---------------------------------------------------------------------------


@register(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a JSON props column (multimodal metadata
    pattern). get_json_object stays JVM-side."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k_val")
    )


# ---------------------------------------------------------------------------
# S1 — CSV scan (explicit schema; interchange round-trip)
# ---------------------------------------------------------------------------


@register(
    "q_scan_csv",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS value_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with a REQUIRED explicit schema (reference:
    pd.read_csv with inference, data_process.py:53-55 — engine policy
    §1.2: never infer). The CSV copy of events is materialized once per
    sf by pyarrow on the driver (pure-Python prep — constructing this
    query runs ZERO Spark jobs); Spark reads it back through
    sources/io.py::read_csv and aggregates, while the oracle runs on
    the original parquet — matching hashes prove the interchange is
    lossless. (The Spark CSV *sink* is exercised in tests/test_io.py.)"""
    import os

    from frauddetection_spark.sources.io import derived_fixture, read_csv
    from frauddetection_spark.sources.tables import SCHEMAS

    def _build(src: str, out: str) -> None:
        import pyarrow.csv
        import pyarrow.parquet

        pyarrow.csv.write_csv(
            pyarrow.parquet.read_table(src), os.path.join(out, "part-0.csv")
        )

    path = derived_fixture(sf_dir, "csv", "events", _build)
    # escape='"': pyarrow writes RFC-4180 doubled quotes; Spark's
    # backslash default would leave embedded quotes in string fields
    csv = read_csv(spark, path, SCHEMAS["events"], escape='"')
    return (
        csv.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / 100
            ).alias("value_sum"),
        )
    )


# ---------------------------------------------------------------------------
# S2/P7 — hive-partitioned layout with planning-time partition pruning
# ---------------------------------------------------------------------------

PRUNE_TYPES = ("purchase", "signup")


@register(
    "q_scan_partitioned",
    oracle=f"""
    SELECT event_type, user_id,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type IN {PRUNE_TYPES}
    GROUP BY 1, 2 ORDER BY event_type, user_id
    """,
)
def q_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of a hive-partitioned parquet layout (dir/event_type=…/)
    with a partition-key filter: the IN-list never touches data files
    of other partitions — pruning happens at planning time from the
    directory listing (`PartitionFilters` in the scan node; pinned by
    tests/test_plans.py). This is THE layout decision that makes
    100 TB scans affordable: a partition-pruned query reads
    |matching partitions| ∝ selectivity, not the table. The layout is
    materialized once per sf by pyarrow on the driver
    (write_to_dataset — constructing this query runs zero Spark jobs);
    the oracle runs on the original parquet, so matching hashes also
    prove the partitioned round-trip is lossless."""
    import os

    from frauddetection_spark.sources.io import derived_fixture, read_partitioned
    from frauddetection_spark.sources.tables import SCHEMAS, ensure_read_confs

    def _build(src: str, out: str) -> None:
        import pyarrow.parquet

        pyarrow.parquet.write_to_dataset(
            pyarrow.parquet.read_table(src), out, partition_cols=["event_type"]
        )

    path = derived_fixture(sf_dir, "part", "events", _build)
    ensure_read_confs(spark)
    from pyspark.sql.types import StructType

    base = SCHEMAS["events"]
    part_schema = StructType(
        [f for f in base.fields if f.name != "event_type"]
        + [base["event_type"]]
    )
    part = read_partitioned(spark, path, part_schema)
    return (
        part.filter(F.col("event_type").isin(*PRUNE_TYPES))
        .groupBy("event_type", "user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# A15 — cube / grouping sets
# ---------------------------------------------------------------------------


@register(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus) — all 2² grouping
    combinations in one pass (partial aggregation expands grouping
    ids map-side; one shuffle)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                .cast("double")
                / 100
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (SQL surface): per-returnflag and
    per-linestatus totals in one scan instead of two queries unioned."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 6) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        lineitem=t(spark, sf_dir, "lineitem"),
    )


# ---------------------------------------------------------------------------
# J3 — as-of join (purchase → last click attribution)
# ---------------------------------------------------------------------------


@register(
    "q_asof_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        FROM events WHERE event_type = 'click'
    ),
    ranked AS (
        SELECT p.event_id, p.user_id, p.epoch_s,
               c.event_id AS click_event_id, c.epoch_s AS click_epoch_s,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY c.epoch_s DESC, c.event_id DESC
               ) AS rn
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id AND c.epoch_s <= p.epoch_s
    )
    SELECT event_id, user_id, epoch_s,
           click_event_id, click_epoch_s,
           epoch_s - click_epoch_s AS gap_s
    FROM ranked WHERE rn = 1
    ORDER BY event_id
    """,
)
def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute each purchase to the user's most recent
    click at-or-before it (reference analogue: recall_rate's
    'later event from the same counterparty' existence scan,
    src/utils.py:180-187 — generalized to value-carrying as-of).

    The oracle twin states the semantics as the naive inequality join
    + argmax; the Spark plan is the union-tag-window form
    (operators/asof.py) — ONE shuffle on user_id, linear in events,
    no per-key pair explosion. Same answer, cluster-safe plan."""
    from frauddetection_spark.operators.asof import asof_last_before

    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("epoch_s"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "epoch_s"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id"),
            "user_id",
            "epoch_s",
            F.col("event_id").alias("click_event_id"),
            F.col("epoch_s").alias("click_epoch_s"),
        )
    )
    out = asof_last_before(
        purchases,
        clicks,
        key="user_id",
        ts="epoch_s",
        right_cols=["click_event_id", "click_epoch_s"],
    )
    return out.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.col("asof_click_event_id").alias("click_event_id"),
        F.col("asof_click_epoch_s").alias("click_epoch_s"),
        (F.col("epoch_s") - F.col("asof_click_epoch_s")).alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# A6/A13 — pivot (long → wide)
# ---------------------------------------------------------------------------


@register(
    "q_pivot",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot on a KNOWN value domain (reference: the 24-bin
    hour distribution widened to columns, src/utils.py:94-106).
    Passing explicit pivot values skips the extra distinct-values scan
    Spark otherwise runs — at 100 TB always enumerate the domain."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    e = t(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0)
    )
    return wide.select(
        "user_id", *[F.col(k).cast("bigint").alias(f"n_{k}") for k in kinds]
    )


# ---------------------------------------------------------------------------
# A6 — wide→long unpivot (melt): the inverse of q_pivot
# ---------------------------------------------------------------------------


@register(
    "q_unpivot",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY user_id, event_type
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via DataFrame.unpivot, applied to the pivoted
    per-user counts and filtered to observed combinations — so
    pivot → unpivot must reproduce EXACTLY the plain groupBy of the
    source table (the oracle), proving the roundtrip is lossless.
    Feature pipelines need this both ways: pivot to feed fixed-width
    models, melt to go back to sparse long form. Scale: unpivot is
    map-only (each row explodes to |columns| rows, no shuffle)."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    e = t(spark, sf_dir, "events")
    wide = e.groupBy("user_id").pivot("event_type", kinds).count().na.fill(0)
    return (
        wide.unpivot(
            ids=["user_id"],
            values=kinds,
            variableColumnName="event_type",
            valueColumnName="n",
        )
        .filter(F.col("n") > 0)
    )


# ---------------------------------------------------------------------------
# S1 — JSONL scan (LLM-corpus interchange round-trip)
# ---------------------------------------------------------------------------


def _write_jsonl(tbl, path: str) -> None:
    """One JSON object per row; json.dumps floats round-trip exactly."""
    import json

    with open(path, "w") as fh:
        for row in tbl.to_pylist():
            fh.write(json.dumps(row) + "\n")


@register(
    "q_scan_jsonl",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with a REQUIRED explicit schema — the
    interchange format LLM corpora actually ship in (one document
    object per line). The JSONL copy of ``documents`` is materialized
    once per sf by a json.dumps line loop on the driver (pure-Python
    prep; ZERO Spark jobs at query construction); Spark reads it back
    through sources/io.py::read_jsonl and aggregates, the oracle runs
    on the original parquet — matching hashes prove the interchange is
    lossless. Reference reads everything via inferring pandas
    (data_process.py:53-55); policy §1.2 pins schemas instead."""
    import os

    from frauddetection_spark.sources.io import derived_fixture, read_jsonl
    from frauddetection_spark.sources.tables import SCHEMAS

    def _build(src: str, out: str) -> None:
        import pyarrow.parquet

        _write_jsonl(
            pyarrow.parquet.read_table(src), os.path.join(out, "part-0.jsonl")
        )

    path = derived_fixture(sf_dir, "jsonl", "documents", _build)
    docs = read_jsonl(spark, path, SCHEMAS["documents"])
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )


# ---------------------------------------------------------------------------
# data-quality profile (Deequ-style column audit)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "q_profile_events",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col, count(*) AS n,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null,
               count(DISTINCT {c}) AS n_distinct
        FROM events"""
        for c in _PROFILE_COLS
    )
    + " ORDER BY col",
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile audit of the events table — per column: row
    count, null count, exact distinct count — the first pass any
    training-data pipeline runs over a new drop (Deequ/great-
    expectations shape, derived relationally so the profiling itself
    is oracle-checked). One wide aggregate over one scan; the
    multi-count-distinct expands via Catalyst's Expand operator
    (each distinct gets its own partial aggregation path) — at 100 TB
    swap exact distinct for approx_count_distinct, same plan shape
    minus the Expand. The long (col, metric) output shape keeps the
    schema stable as tables widen."""
    e = t(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"dist_{c}"))
    wide = e.agg(*aggs)
    stack = ", ".join(
        f"'{c}', null_{c}, dist_{c}" for c in _PROFILE_COLS
    )
    return (
        wide.select(
            "n",
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack}) AS (col, n_null, n_distinct)"
            ),
        )
        .select("col", "n", F.col("n_null").cast("bigint"), "n_distinct")
    )


# ---------------------------------------------------------------------------
# S1 — ORC scan (the other columnar lake format)
# ---------------------------------------------------------------------------


@register(
    "q_scan_orc",
    oracle="""
    SELECT p_brand,
           count(*) AS n_parts,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS retail_total,
           min(p_partkey) AS min_key, max(p_partkey) AS max_key
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip: the ``part`` table is rewritten once per
    sf as ORC by pyarrow on the driver (pure-Python prep, ZERO Spark
    jobs at construction — same fixture discipline as q_scan_csv /
    q_scan_jsonl, fingerprint-keyed to survive testdata regeneration);
    Spark scans it back through sources/io.py::read_orc with the pinned
    schema and aggregates, while the oracle reads the original parquet —
    matching hashes prove the format hop is lossless. ORC gets the same
    Catalyst treatment as parquet (predicate pushdown, column pruning,
    vectorized reader), so the 100-TB story is unchanged; exact int64
    cents keep the money sum engine-identical."""
    import os

    from frauddetection_spark.sources.io import derived_fixture, read_orc
    from frauddetection_spark.sources.tables import SCHEMAS

    def _build(src: str, out: str) -> None:
        import pyarrow.orc
        import pyarrow.parquet

        pyarrow.orc.write_table(
            pyarrow.parquet.read_table(src),
            os.path.join(out, "part-0.orc"),
        )

    path = derived_fixture(sf_dir, "orc", "part", _build)
    parts = read_orc(spark, path, SCHEMAS["part"])
    return (
        parts.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            (
                F.sum(F.round(F.col("p_retailprice") * 100).cast("bigint"))
                .cast("double")
                / 100
            ).alias("retail_total"),
            F.min("p_partkey").alias("min_key"),
            F.max("p_partkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# S1 — XML source round-trip
# ---------------------------------------------------------------------------


@register(
    "q_scan_xml",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_cents,
           min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip (Spark 4's built-in spark-xml reader):
    the ``customer`` table is rewritten once per sf as rowTag XML by a
    pure-Python driver-side writer (ZERO Spark jobs at construction;
    fingerprint-keyed fixture, same staleness contract as
    q_scan_csv/orc/jsonl), scanned back with the pinned schema, and
    aggregated; the oracle reads the original parquet — matching
    hashes prove the markup hop is lossless, including XML-escaped
    strings. XML is row-at-a-time markup with no pushdown or pruning —
    the docstring-level 100-TB guidance is "land XML at the edge, hop
    to parquet immediately"; this query IS that ingest hop."""
    import os
    from xml.sax.saxutils import escape

    from frauddetection_spark.sources.io import derived_fixture, read_xml
    from frauddetection_spark.sources.tables import SCHEMAS

    def _build(src: str, out: str) -> None:
        import pyarrow.parquet

        tbl = pyarrow.parquet.read_table(src).to_pylist()
        with open(os.path.join(out, "part-0.xml"), "w") as fh:
            fh.write("<rows>\n")
            for row in tbl:
                fh.write("  <row>")
                for k, v in row.items():
                    if v is None:
                        continue
                    if isinstance(v, float):
                        # fixed 2-decimal text: repr() round-trips are
                        # exact for these fixed-point money values
                        fh.write(f"<{k}>{v:.2f}</{k}>")
                    else:
                        fh.write(f"<{k}>{escape(str(v))}</{k}>")
                fh.write("</row>\n")
            fh.write("</rows>\n")

    path = derived_fixture(sf_dir, "xml", "customer", _build)
    cust = read_xml(spark, os.path.join(path, "part-0.xml"), SCHEMAS["customer"])
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
            .cast("bigint")
            .alias("acctbal_cents"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# referential-integrity audit (data-quality single-row report)
# ---------------------------------------------------------------------------


@register(
    "q_ref_integrity",
    oracle="""
    SELECT
        (SELECT count(*) FROM lineitem) AS li_total,
        (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey))
            AS li_orphans,
        (SELECT count(*) FROM orders) AS o_total,
        (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey))
            AS o_childless,
        (SELECT count(*) FROM customer) AS c_total,
        (SELECT count(*) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey))
            AS c_inactive
    """,
)
def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    lineitems (FK → missing order), childless orders, customers with
    no orders — the data-quality report every warehouse runs after
    ingest, and the numbers that decide between inner and outer joins
    downstream. Each violation count is one LEFT ANTI join + count
    (the NOT EXISTS decorrelation); the six scalars assemble by
    broadcast cross joins of 1-row aggregates — no driver-side
    collects, so the audit composes into bigger plans at any scale."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey")
    li_total = li.agg(F.count("*").alias("li_total"))
    li_orph = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("li_orphans"))
    )
    o_total = o.agg(F.count("*").alias("o_total"))
    o_childless = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .agg(F.count("*").alias("o_childless"))
    )
    c_total = c.agg(F.count("*").alias("c_total"))
    c_inactive = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("c_inactive"))
    )
    out = li_total
    for frame in (li_orph, o_total, o_childless, c_total, c_inactive):
        out = out.crossJoin(F.broadcast(frame))
    return out


# ---------------------------------------------------------------------------
# snapshot diff / reconciliation report
# ---------------------------------------------------------------------------


@register(
    "q_table_diff",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders
    ),
    snap_a AS (
        SELECT k, price_c FROM base WHERE k % 97 <> 0
    ),
    snap_b AS (
        SELECT k,
               CASE WHEN k % 11 = 0 THEN price_c + 500 ELSE price_c END
                   AS price_c
        FROM base WHERE k % 89 <> 0
    ),
    j AS (
        SELECT COALESCE(a.k, b.k) AS k,
               CASE WHEN a.k IS NULL THEN 'added'
                    WHEN b.k IS NULL THEN 'removed'
                    WHEN a.price_c <> b.price_c THEN 'changed'
                    ELSE 'unchanged' END AS diff_class
        FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
    )
    SELECT diff_class, count(*) AS n_rows,
           CAST(sum(k) AS BIGINT) AS key_checksum
    FROM j GROUP BY 1 ORDER BY diff_class
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: two versions of the orders table
    (deterministically derived — snapshot B drops every 89th key,
    snapshot A every 97th, and B bumps every 11th price) compared by a
    keyed FULL OUTER join and classified added / removed / changed /
    unchanged — the CDC-diff every warehouse runs to validate a reload
    or audit a vendor feed (q_merge_upsert APPLIES a delta; this
    DERIVES one). Values compare as exact int cents; the report is
    per-class row counts plus a key checksum, so two runs diff with
    zero row-level output. One key-keyed shuffle join + one tiny
    groupBy at any scale — co-bucketed snapshots would eliminate even
    that exchange (sources/io.py::write_bucketed)."""
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    snap_a = base.filter(F.col("k") % 97 != 0)
    snap_b = base.filter(F.col("k") % 89 != 0).select(
        "k",
        F.when(F.col("k") % 11 == 0, F.col("price_c") + 500)
        .otherwise(F.col("price_c"))
        .alias("price_c"),
    )
    j = (
        snap_a.alias("a")
        .join(snap_b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
        .select(
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
            F.when(F.col("a.k").isNull(), "added")
            .when(F.col("b.k").isNull(), "removed")
            .when(F.col("a.price_c") != F.col("b.price_c"), "changed")
            .otherwise("unchanged")
            .alias("diff_class"),
        )
    )
    return (
        j.groupBy("diff_class")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-shape multi-way star joins (Q3 / Q5 / Q10)
# ---------------------------------------------------------------------------

# exact revenue: Σ extendedprice·(1−discount) carried as integer 1e-4
# dollar units (cents × (100 − discount_pct)) — float revenue sums are
# shuffle-order-dependent; these are not
_SQL_REV_E4 = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def _rev_e4() -> F.Column:
    return F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )


@register(
    "q_tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(sum({_SQL_REV_E4}) AS BIGINT) AS rev_e4,
           CAST(CAST(sum({_SQL_REV_E4}) AS BIGINT) AS DOUBLE) / 10000
               AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-15'
      AND l.l_shipdate > TIMESTAMP '1998-06-15'
    GROUP BY 1, 4, 5
    ORDER BY rev_e4 DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — shipping priority: top-10 unshipped orders of
    one market segment by revenue, a 3-way fact-dim-fact join
    (customer→orders→lineitem) with selective predicates on BOTH scan
    sides. This is the canonical Catalyst showcase: both date filters
    and the segment filter push to the parquet scans (PushedFilters),
    the customer side reduces before the join, and the final top-10 is
    a TakeOrderedAndProject — no global sort materializes. Revenue
    aggregates as exact int 1e-4 dollars; ordering ties break on
    l_orderkey so LIMIT is deterministic in both engines."""
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-06-15'")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1998-06-15'")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(_rev_e4()).cast("bigint").alias("rev_e4"))
        .select(
            "l_orderkey",
            "rev_e4",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
            "orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("rev_e4").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q5",
    oracle=f"""
    SELECT n.n_name,
           CAST(sum({_SQL_REV_E4}) AS BIGINT) AS rev_e4,
           CAST(CAST(sum({_SQL_REV_E4}) AS BIGINT) AS DOUBLE) / 10000
               AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY rev_e4 DESC, n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — local supplier volume: revenue by nation where
    customer and supplier share the nation, a SIX-way join
    (region→nation→customer→orders→lineitem→supplier) with the extra
    non-hierarchical s_nationkey = c_nationkey equality that makes Q5
    the join-ORDER test: region/nation are broadcast dims, the
    customer⋈orders⋈lineitem spine shuffles on its keys, and supplier
    joins last on (suppkey, nationkey) so the co-nation predicate is
    part of the join key rather than a post-filter. Exact int 1e-4
    dollar revenue; ≤|nations| output rows."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    n = t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1997-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01'"))
    ).select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev_e4()).cast("bigint").alias("rev_e4"))
        .select(
            "n_name",
            "rev_e4",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
        )
    )


@register(
    "q_tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           CAST(sum({_SQL_REV_E4}) AS BIGINT) AS rev_e4,
           CAST(CAST(sum({_SQL_REV_E4}) AS BIGINT) AS DOUBLE) / 10000
               AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
    ORDER BY rev_e4 DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item reporting: top-20 customers by
    revenue lost to returns in one quarter, the wide-group-key pattern
    (grouping carries the customer's display attributes through the
    aggregate instead of re-joining after the top-k). Return-flag and
    date predicates push to the fact scans; nation broadcasts; the
    top-20 rides TakeOrderedAndProject with a c_custkey tiebreak.
    Account balance emits as exact cents so the group key is
    integer-stable across engines."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias(
            "acctbal_cents"
        ),
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1997-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-04-01'"))
    ).select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name", "acctbal_cents")
        .agg(F.sum(_rev_e4()).cast("bigint").alias("rev_e4"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "acctbal_cents",
            "rev_e4",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
        )
        .orderBy(F.col("rev_e4").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS sum_disc_e4,
           CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    * (100 + CAST(round(l_tax * 100) AS BIGINT)))
                AS BIGINT) AS sum_charge_e6,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)
               AS avg_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / count(*) / 100 AS avg_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the pricing summary report: one fact scan, one
    selective date filter, a 2-key group with SIX aggregate
    expressions (quantity, base price, discounted price, charge with
    tax, row count, two averages). THE canonical scan-agg benchmark:
    the whole query is map-side partial aggregation into ≤|flag×status|
    groups — zero join, one tiny exchange — and the arithmetic chain
    ep·(1−disc)·(1+tax) runs entirely in integer units (cents ×
    (100−d) × (100+t) = 1e-6 dollars, summed in decimal(38,0)/HUGEINT
    because the per-row product already reaches 1e11). Averages are
    one exact-int division each."""
    dec = "decimal(38,0)"
    cents_ep = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc = 100 - F.round(F.col("l_discount") * 100).cast("bigint")
    tax = 100 + F.round(F.col("l_tax") * 100).cast("bigint")
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '2001-09-01'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias(
                "sum_qty"
            ),
            F.sum(cents_ep).cast("bigint").alias("sum_base_cents"),
            F.sum(cents_ep.cast(dec) * disc).cast("bigint").alias(
                "sum_disc_e4"
            ),
            F.sum(cents_ep.cast(dec) * disc * tax).cast("bigint").alias(
                "sum_charge_e6"
            ),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_cents",
            "sum_disc_e4",
            "sum_charge_e6",
            "n_rows",
            (F.col("sum_qty").cast("double") / F.col("n_rows")).alias(
                "avg_qty"
            ),
            (
                F.col("sum_base_cents").cast("double") / F.col("n_rows") / 100
            ).alias("avg_price"),
        )
    )


_Q18_QTY = 300  # large-volume threshold (max order ≈ 458 in testdata)


@register(
    "q_tpch_q18",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS BIGINT)) > {_Q18_QTY}
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    SEMI JOIN big ON o.o_orderkey = big.l_orderkey
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY totalprice_cents DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume customers: orders whose total
    quantity clears a threshold, re-joined to customer detail. The
    classic AGG-THEN-SEMI-JOIN pattern (HAVING over a fact aggregate
    feeding back into the fact join): the heavy quantity aggregate
    runs once over lineitem, its tiny survivor set semi-joins the
    spine, and only qualifying orders reach the wide join — at 100 TB
    the survivor set is broadcast-size (the runtime Bloom filter fires
    on the lineitem re-scan with default confs). Quantities are
    integral doubles, summed as exact int64; top-100 rides
    TakeOrderedAndProject on exact cents with an orderkey tiebreak."""
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("s"))
        .filter(F.col("s") > _Q18_QTY)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey",
        "left_semi",
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("totalprice_cents"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("sum_qty")
        )
        .orderBy(F.col("totalprice_cents").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q_tpch_q14",
    oracle=f"""
    SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN {_SQL_REV_E4} ELSE 0 END) AS BIGINT)
               AS promo_e4,
           CAST(sum({_SQL_REV_E4}) AS BIGINT) AS total_e4,
           100 * CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                    THEN {_SQL_REV_E4} ELSE 0 END)
                           AS BIGINT) AS DOUBLE)
               / CAST(sum({_SQL_REV_E4}) AS BIGINT) AS promo_share_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion effect: the revenue share of promo
    parts in one month, a fact⋈dim join collapsing to ONE row via a
    conditional aggregate (the CASE-inside-SUM share pattern every
    marketing dashboard uses). The month predicate prunes the fact
    scan before the join; part broadcasts. Numerator and denominator
    are exact int 1e-4 dollars; the percentage is one double division
    of the two — identical in both engines."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-09-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-10-01'"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", _rev_e4()).otherwise(0))
        .cast("bigint")
        .alias("promo_e4"),
        F.sum(_rev_e4()).cast("bigint").alias("total_e4"),
    )
    return agg.select(
        "promo_e4",
        "total_e4",
        (
            100 * F.col("promo_e4").cast("double") / F.col("total_e4")
        ).alias("promo_share_pct"),
    )


@register(
    "q_tpch_q19",
    oracle=f"""
    SELECT count(*) AS n_rows,
           CAST(sum({_SQL_REV_E4}) AS BIGINT) AS rev_e4
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — discounted revenue under a DISJUNCTION of
    brand/size/quantity conjunction groups: the OR-of-ANDs predicate
    that tests an optimizer's common-condition extraction (the
    join key condition is shared by all branches, so it must still
    drive the join while the per-branch residuals evaluate post-join;
    naive planners degrade to a cross product here). Catalyst keeps
    l_partkey = p_partkey as the equi-join key and pushes the
    brand/size filter union onto the dim scan. One-row exact-int
    output."""
    l = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(cond).agg(
        F.count("*").alias("n_rows"),
        F.sum(_rev_e4()).cast("bigint").alias("rev_e4"),
    )


# ---------------------------------------------------------------------------
# custom Python DataSource scan (Spark 4 pyspark.sql.datasource API)
# ---------------------------------------------------------------------------

_PYSRC_N = 100_000
_PYSRC_PARTS = 16


@register(
    "q_scan_pysource",
    oracle=f"""
    WITH src AS (
        SELECT i AS id,
               (i % 2147483647) * 48271 % 2147483647 AS hv
        FROM (SELECT unnest(generate_series(0, {_PYSRC_N - 1})) AS i)
    )
    SELECT hv % 16 AS bucket, count(*) AS n_rows,
           CAST(sum(hv) AS BIGINT) AS sum_hv,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id
    FROM src GROUP BY 1 ORDER BY bucket
    """,
)
def q_scan_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a CUSTOM PYTHON DATASOURCE (Spark 4
    `pyspark.sql.datasource`) — the extension point for in-house
    formats and services with no JVM connector. The registered
    "lehmer" source (sources/pysource.py) drives its own parallelism
    via explicit InputPartition range splits and yields Arrow
    RecordBatches built from numpy (the vectorized boundary crossing —
    never row-at-a-time tuples), and its content is pure deterministic
    integer arithmetic, so the DuckDB oracle REGENERATES the same rows
    with generate_series and the downstream aggregate hash-matches:
    the source machinery itself is correctness-checked, not just
    smoke-tested. sf_dir is unused — the source is the dataset."""
    from frauddetection_spark.sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("lehmer")
        .option("n", _PYSRC_N)
        .option("parts", _PYSRC_PARTS)
        .load()
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("hv").cast("bigint").alias("sum_hv"),
            F.min("id").cast("bigint").alias("min_id"),
            F.max("id").cast("bigint").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured type + SQL pipe syntax (Spark 4 surfaces)
# ---------------------------------------------------------------------------


@register(
    "q_variant_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1 ORDER BY event_type
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    try_variant_get path extraction — the modern replacement for
    repeated get_json_object string re-parsing (variant decodes the
    JSON ONCE into a shredded binary form; each path access is then a
    cheap binary probe, the difference between O(paths) string parses
    and O(1) + probes per row — the feature Delta/Iceberg v3 shred
    into columns at rest). The oracle states the same semantics
    through DuckDB's JSON extraction; aggregates are exact ints."""
    e = t(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("var")
    )
    k = e.select(
        "event_type",
        F.try_variant_get("var", "$.k", "bigint").alias("k"),
    ).filter(F.col("k").isNotNull())
    return (
        k.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


@register(
    "q_sql_pipe",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1 ORDER BY o_orderpriority
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME aggregation stated in Spark 4's SQL PIPE syntax
    (`FROM t |> WHERE ... |> AGGREGATE ... GROUP BY ...`) — the
    linear top-to-bottom query style (BigQuery pipe syntax, adopted by
    Spark 4) that reads in dataflow order instead of inside-out SQL.
    Pipe operators compile to the identical Catalyst plan as the
    classic form, which the DuckDB twin states classically — pinning
    that the surface is syntax, not semantics."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS sum_cents
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, sum_cents
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "q_sql_udf",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100
                    * CAST(round(o_totalprice * 100) AS BIGINT) % 97)
                AS BIGINT) AS checksum
    FROM orders GROUP BY 1 ORDER BY o_orderpriority
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (Spark 4 `CREATE FUNCTION ... RETURN
    expr`): reusable scalar logic defined IN SQL, so it inlines into
    the calling plan and stays inside whole-stage codegen — the
    opposite end of the spectrum from Python UDFs (opaque, serialized,
    off the JVM). Two functions compose (cents_of inside
    price_checksum); Catalyst sees only the expanded expression, which
    the oracle states directly — pinning that SQL UDFs are pure
    macro-expansion, not an execution boundary. This is the right
    first tool for shared business logic at 100 TB; Python surfaces
    exist for what expressions can't say."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cents_of(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_checksum(x DOUBLE) "
        "RETURNS BIGINT RETURN "
        "CAST(cents_of(x) div 100 * cents_of(x) % 97 AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(price_checksum(o_totalprice)) AS BIGINT) AS checksum
        FROM {orders} GROUP BY 1
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@register(
    "q_collation",
    oracle="""
    SELECT lower(o_orderpriority) AS priority_ci,
           count(*) AS n_orders
    FROM orders GROUP BY 1 ORDER BY priority_ci
    """,
)
def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): grouping on a
    UTF8_LCASE-collated key folds case in the COMPARATOR instead of
    rewriting the data — how warehouses express case-insensitive
    semantics without materializing lower() columns (the collation
    rides the type, so joins/sorts/aggs all honor it). The oracle
    states the equivalent lower() form; the output key is emitted
    lowercased in both twins so the values hash identically. Same
    one-exchange aggregate plan either way."""
    o = t(spark, sf_dir, "orders")
    ci = F.expr("o_orderpriority COLLATE UTF8_LCASE")
    return (
        o.groupBy(ci.alias("k"))
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.lower(F.col("k")).cast("string").alias("priority_ci"),
            "n_orders",
        )
    )


@register(
    "q_semi_additive",
    oracle=f"""
    WITH state AS (
        SELECT user_id, {SQL_WEEK.format(ts='ts')} AS week,
               CAST(round(value * 100) AS BIGINT) AS c, ts, event_id,
               row_number() OVER (
                   PARTITION BY user_id, {SQL_WEEK.format(ts='ts')}
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT week,
           count(*) AS n_users,
           CAST(sum(c) AS BIGINT) AS eow_balance_cents
    FROM state WHERE rn = 1
    GROUP BY 1 ORDER BY week
    """,
)
def q_semi_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-ADDITIVE measure: end-of-week balance summed across users
    — the measure class (balances, inventory levels, headcounts) that
    sums across ENTITIES but never across TIME, where naive SUM
    double-counts every restatement (the most common self-service BI
    error; cube engines special-case LastNonEmpty for exactly this).
    Last-per-(user, week) is a deterministic tie-broken row_number —
    never engine-native last() — then one additive aggregate over the
    survivors. Two shuffles (user-week window, week agg) at any
    scale."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        week_str().alias("week"),
        cents("value").alias("c"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id", "week").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = e.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        last.groupBy("week")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("c").cast("bigint").alias("eow_balance_cents"),
        )
    )


@register(
    "q_minmax_by",
    oracle="""
    WITH keyed AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) * 10000000 + event_id
                   AS ranked_key,
               event_id, event_type
        FROM events
    )
    SELECT user_id,
           arg_max(event_type, ranked_key) AS biggest_type,
           arg_max(event_id, ranked_key) AS biggest_event,
           arg_min(event_type, ranked_key) AS smallest_type,
           arg_min(event_id, ranked_key) AS smallest_event
    FROM keyed GROUP BY 1 ORDER BY user_id
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregates): each user's event type and
    id at their largest and smallest transaction — the "attribute at
    the extreme" lookup that otherwise costs a window + filter pass
    (argmax aggregates do it in ONE partial-aggregable pass: map-side
    partials carry just the current best pair, so the shuffle is one
    row per group per partition — the same reason MAX scales).
    Determinism: ties on value are broken INSIDE the ordering key
    (cents·10⁷ + event_id — exact, collision-free since event ids are
    < 10⁷ here) — never by engine-internal tie behavior, which
    Spark and DuckDB disagree on."""
    keyed = t(spark, sf_dir, "events").select(
        "user_id",
        (cents("value") * 10_000_000 + F.col("event_id")).alias(
            "ranked_key"
        ),
        "event_id",
        "event_type",
    )
    return (
        keyed.groupBy("user_id")
        .agg(
            F.max_by("event_type", "ranked_key").alias("biggest_type"),
            F.max_by("event_id", "ranked_key").alias("biggest_event"),
            F.min_by("event_type", "ranked_key").alias("smallest_type"),
            F.min_by("event_id", "ranked_key").alias("smallest_event"),
        )
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY 1 ORDER BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking: orders in one quarter
    having at least one line item shipped after the order date,
    counted by priority. The CORRELATED EXISTS with a non-equi
    condition (l_shipdate > o_orderdate) decorrelates to a LEFT SEMI
    join whose equi part (orderkey) drives the join and whose
    inequality evaluates as the join residual — the pattern that
    separates real decorrelation from per-row subquery execution. The
    quarter predicate prunes the orders scan first."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1997-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-04-01'"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "q_tpch_q22",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS s,
               count(*) AS n
        FROM customer WHERE c_acctbal > 0
    ),
    rich_idle AS (
        SELECT c.c_nationkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer c, avg_bal
        WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * n > s
          AND NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          )
    )
    SELECT n.n_name, count(*) AS n_custs,
           CAST(sum(bal_c) AS BIGINT) AS total_bal_cents
    FROM rich_idle r JOIN nation n ON r.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY n_name
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global-sales-opportunity: customers with
    above-average positive balance who have NEVER ordered, totaled by
    nation. Combines a SCALAR-subquery threshold (the global average)
    with a NOT-EXISTS anti join — and the average comparison
    cross-multiplies (bal·n > Σbal) so the threshold test is an exact
    integer predicate, never a float mean (a float threshold can flip
    a boundary customer between engines). The 1-row aggregate
    broadcasts; the anti join shuffles on custkey; nation broadcasts
    at the end."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    )
    avg_bal = c.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").cast("bigint").alias("s"), F.count("*").alias("n")
    )
    o = t(spark, sf_dir, "orders").select("o_custkey")
    rich_idle = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_c") * F.col("n") > F.col("s"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rich_idle.join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("bal_c").cast("bigint").alias("total_bal_cents"),
        )
    )


@register(
    "q_tpch_q6",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_e4
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — forecasting revenue change: the would-be gain
    from eliminating a discount band, a PURE scan-filter-aggregate
    with three conjunctive predicates and zero joins — the query
    engines use to demonstrate predicate pushdown + vectorized scans
    (any plan with an exchange before the 1-row agg is wrong). The
    discount band compares as exact integer discount-percent (a raw
    double BETWEEN 0.05 AND 0.07 admits representation-error
    boundaries); revenue is the exact int product Σ cents·disc_pct.
    Date + quantity predicates reach the parquet scan."""
    ep = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dp = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01'"))
            & dp.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(ep * dp).cast("bigint").alias("revenue_e4"),
        )
    )


@register(
    "q_tpch_q9",
    oracle=f"""
    SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum({_SQL_REV_E4}
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT) * 100)
                AS BIGINT) AS profit_e4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY n_name, o_year DESC
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit: revenue minus supply cost
    for one product family, by supplier nation × order year. The
    LARGEST join tree in the suite (lineitem ⋈ part ⋈ supplier ⋈
    nation ⋈ orders) with a LIKE filter on the part dim — the plan
    where join ORDER dominates: the filtered part dim must reduce
    lineitem FIRST (broadcast), supplier/nation ride as broadcast
    dims, and orders joins last to supply only the year. Profit is
    exact integer 1e-4 dollars throughout (retail cost = cents ×
    integral quantity × 100); year extraction is identical in both
    engines on UTC-pinned timestamps."""
    l = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cost = (
        F.round(F.col("p_retailprice") * 100).cast("bigint")
        * F.col("l_quantity").cast("bigint")
        * 100
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "n_name",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(_rev_e4() - cost).cast("bigint").alias("profit_e4"))
    )


# ---------------------------------------------------------------------------
# TPC-H completion (Q7 / Q8 / Q13 / Q15 / Q17) — with these plus the
# derived-relation block further down the suite spans ALL 22 TPC-H
# shapes: the partsupp-centric four (Q2/Q11/Q16/Q20) run on the
# deterministic lineitem-derived supply stand-in (see _supply near
# q_tpch_q2), and Q12/Q21 derive shipmode / receipt-commit dates
# from the columns this schema does carry.
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum({_SQL_REV_E4}) AS BIGINT) AS rev_e4,
           CAST(CAST(sum({_SQL_REV_E4}) AS BIGINT) AS DOUBLE) / 10000
               AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — volume shipping between two nations: revenue
    per (supplier nation, customer nation, ship year) for both
    directions of one nation pair. The planner test here is the
    DISJUNCTIVE cross-dimension predicate: neither nation filter alone
    is selective (each keeps 1/25 of each side) but the pair
    disjunction keeps ~2/625 of the join output, so the nation dims
    must broadcast with their IN(2-value) filters pushed to the scans
    and the disjunction evaluated as a post-join residual on two
    already-tiny sides — never as a filter over the full fact join.
    Spine joins (lineitem⋈orders⋈customer) shuffle on their keys once;
    revenue is the exact int 1e-4-dollar unit shared by every TPC-H
    twin here."""
    pair = ("NATION_1", "NATION_2")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1995-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01'"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_rev_e4()).cast("bigint").alias("rev_e4"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            "rev_e4",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
        )
    )


@register(
    "q_tpch_q8",
    oracle=f"""
    WITH v AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               {_SQL_REV_E4} AS vol,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol ELSE 0 END)
                AS BIGINT) AS nation_e4,
           CAST(sum(vol) AS BIGINT) AS total_e4,
           CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol
                         ELSE 0 END) AS BIGINT) AS DOUBLE)
               / CAST(CAST(sum(vol) AS BIGINT) AS DOUBLE) AS mkt_share
    FROM v GROUP BY 1 ORDER BY 1
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: NATION_2's share of
    ECONOMY-part revenue sold into ASIA per order year, the
    EIGHT-table join (the widest in TPC-H) whose share numerator is a
    conditional aggregate over the same rows as the denominator —
    one pass with CASE, never two scans. Join order is the whole
    game: the p_type filter keeps ~1/6 of parts and drives the
    broadcast reduction of lineitem FIRST, customer-side region
    filtering reduces the orders spine before it meets lineitem, and
    the supplier nation rides as a broadcast dim for the CASE only.
    Share = exact-int numerator / exact-int denominator, the one
    float division written identically in both twins."""
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    n1 = (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("cn_key") == F.col("c_nationkey"))
        .select("c_custkey")
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    s = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("supp_nation")
                )
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1995-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1997-01-01'"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = _rev_e4()
    nation_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(nation_vol).cast("bigint").alias("nation_e4"),
            F.sum(vol).cast("bigint").alias("total_e4"),
        )
        .select(
            "o_year",
            "nation_e4",
            "total_e4",
            (
                F.col("nation_e4").cast("double") / F.col("total_e4").cast("double")
            ).alias("mkt_share"),
        )
    )


@register(
    "q_tpch_q13",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY 1
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY 1
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution: how many
    customers placed 0, 1, 2, … qualifying orders. The planner tests:
    (1) the filter lives in the LEFT JOIN's ON clause, not WHERE —
    moving it to WHERE silently drops the zero-order customers that
    are the query's point; (2) count(o_orderkey) counts only matched
    rows (COUNT of a null column), giving the 0 bucket for free; (3)
    the agg-of-agg pipeline reuses the first shuffle's partitioning
    only conceptually — the second groupBy is on the DERIVED c_count
    key, an unavoidable second (tiny) shuffle over ≤hundreds of
    distinct counts. Reference parity: the reference's per-entity
    degree histogram (Code for Sichuan/src/utils.py in-degree counts)
    is this exact shape with customers for nodes."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    co = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q_tpch_q15",
    oracle=f"""
    WITH r AS (
        SELECT l_suppkey, CAST(sum({_SQL_REV_E4}) AS BIGINT) AS rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.rev_e4,
           CAST(r.rev_e4 AS DOUBLE) / 10000 AS total_revenue
    FROM supplier s
    JOIN r ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_e4 = (SELECT max(rev_e4) FROM r)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — top supplier: the supplier(s) whose quarterly
    revenue equals the global maximum. The classic formulation is a
    view referenced twice (once aggregated to max, once as the probe);
    the scale-safe plan computes the per-supplier aggregate ONCE, then
    joins the 1-row max via broadcast — never a global sort (top-1
    by sort breaks ties wrongly anyway) and never a re-scan of
    lineitem for the subquery. The equality is on the exact int
    1e-4-dollar revenue, so 'equals the max' is decidable — the float
    formulation is nondeterministic whenever two suppliers tie to 15
    significant digits. Supplier dim joins AFTER the max-filter so
    only the winner row(s) touch it."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1996-04-01'"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    from frauddetection_spark.operators.caching import track_cache

    # rev feeds BOTH the probe and the max — pin it once (tracked;
    # released on next query construction) so lineitem is scanned a
    # single time; the classic view formulation evaluates it twice
    rev = track_cache(
        l.groupBy("l_suppkey")
        .agg(F.sum(_rev_e4()).cast("bigint").alias("rev_e4"))
        .persist()
    )
    mx = rev.agg(F.max("rev_e4").alias("max_rev"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("rev_e4") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            "rev_e4",
            (F.col("rev_e4").cast("double") / 10000).alias("total_revenue"),
        )
    )


@register(
    "q_tpch_q17",
    oracle="""
    WITH pl AS (
        SELECT l.l_partkey,
               CAST(l.l_quantity AS BIGINT) AS q,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_c
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
    ),
    ag AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS sq
        FROM pl GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_small,
           CAST(sum(pl.price_c) AS BIGINT) AS total_cents,
           CAST(CAST(sum(pl.price_c) AS BIGINT) AS DOUBLE) / 700
               AS avg_yearly
    FROM pl JOIN ag ON pl.l_partkey = ag.l_partkey
    WHERE 5 * pl.q * ag.n < ag.sq
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — small-quantity-order revenue: yearly revenue
    lost if orders below 20% of a part's average quantity were not
    filled. The correlated avg subquery (l_quantity < 0.2·avg per
    part) decorrelates to ONE aggregate over the SAME filtered rows
    joined back on partkey — the brand filter broadcasts into
    lineitem first so both the probe and the aggregate see only
    ~1/25 of the fact table, and the agg side (≤ one row per
    filtered part) broadcasts back. The 0.2·avg comparison
    cross-multiplies to the exact-integer 5·q·n < Σq — a float
    0.2*sum/n boundary can flip rows between engines; the integer
    predicate cannot. (Container column doesn't exist on this schema;
    p_brand stands in as the part-family filter.) Output is the
    1-row global total — exact cents plus the /7-years double."""
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11").select(
        "p_partkey"
    )
    pl = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        )
    )
    ag = pl.groupBy("l_partkey").agg(
        F.count("*").alias("n"), F.sum("q").alias("sq")
    ).withColumnRenamed("l_partkey", "ag_partkey")
    return (
        pl.join(F.broadcast(ag), F.col("ag_partkey") == F.col("l_partkey"))
        .filter(F.lit(5) * F.col("q") * F.col("n") < F.col("sq"))
        .agg(
            F.count("*").alias("n_small"),
            F.sum("price_c").alias("total_cents"),
        )
        .select(
            F.col("n_small").cast("bigint").alias("n_small"),
            F.col("total_cents").cast("bigint").alias("total_cents"),
            (F.col("total_cents").cast("double") / 700).alias("avg_yearly"),
        )
    )


# ---------------------------------------------------------------------------
# A2+ — incremental aggregate maintenance (partial-state merge)
# ---------------------------------------------------------------------------


@register(
    "q_incremental_agg",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS ssq,
           CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / count(*) AS mean_cents
    FROM events
    GROUP BY 1 ORDER BY user_id
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: per-user (count, sum, min,
    max, sum-of-squares) computed as PARTIAL STATES over two disjoint
    batches (event_id parity — the stand-in for yesterday's
    materialized state + today's delta), then MERGED by the monoid ops
    (+, +, min, max, +). The ORACLE is the direct one-pass aggregate:
    with exact-integer state the merge-of-partials is bit-equal to
    recomputation, which is the entire contract of incremental view
    maintenance — a float-sum state would NOT hash-match here, because
    merge order differs from scan order (exactly why production MV
    engines keep decimal/integer accumulators).

    Scale: this is Spark's own partial-aggregation physics made
    user-visible — each batch's groupBy partial-aggregates map-side,
    the merge is a second groupBy over |users|·2 state rows, and at
    100 TB the state table is what you'd persist between daily runs,
    touching only the delta (the alternative — rescanning the full
    history each day — is the thing this operator exists to delete).
    Int64 bounds: cents² ≤ 1e10 per row → ssq safe below ~9e8 rows per
    user; lift ssq to decimal(38,0) past that."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        (F.col("event_id") % 2).alias("batch"),
        cents("value").alias("c"),
    )
    partial = e.groupBy("user_id", "batch").agg(
        F.count("*").alias("pn"),
        F.sum("c").alias("ps"),
        F.min("c").alias("pmn"),
        F.max("c").alias("pmx"),
        F.sum(F.col("c") * F.col("c")).alias("pssq"),
    )
    merged = partial.groupBy("user_id").agg(
        F.sum("pn").cast("bigint").alias("n"),
        F.sum("ps").cast("bigint").alias("sum_cents"),
        F.min("pmn").cast("bigint").alias("min_cents"),
        F.max("pmx").cast("bigint").alias("max_cents"),
        F.sum("pssq").cast("bigint").alias("ssq"),
    )
    return merged.select(
        "user_id",
        "n",
        "sum_cents",
        "min_cents",
        "max_cents",
        "ssq",
        (F.col("sum_cents").cast("double") / F.col("n")).alias("mean_cents"),
    )


# ---------------------------------------------------------------------------
# Engine-semantics pins: window-function suite, 3-valued NULL logic,
# calendar arithmetic, try_* error-safe ops, bag-semantics set ops.
# Each pins a surface where engines HAVE historically diverged, so a
# user migrating reference workloads hits no silent semantic drift.
# ---------------------------------------------------------------------------


@register(
    "q_window_suite",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT user_id, event_id, cents,
           ntile(4) OVER w AS quartile,
           cume_dist() OVER w AS cd,
           nth_value(cents, 3) OVER
               (PARTITION BY user_id ORDER BY cents DESC, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS nth3,
           last_value(cents) OVER
               (PARTITION BY user_id ORDER BY cents DESC, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING) AS min_cents
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY cents DESC, event_id)
    ORDER BY user_id, event_id
    """,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface suite: ntile, cume_dist, nth_value with
    an explicit running ROWS frame, and whole-partition last_value —
    the four window functions the rest of the catalog never exercises,
    pinned together. Every ordering carries the event_id tiebreak:
    ntile bucket boundaries and cume_dist plateaus are only
    deterministic under a TOTAL order (with ties engines may split a
    plateau differently); cume_dist under unique ordering is the exact
    rational rank/n, bit-identical in both engines. last_value needs
    the explicit UNBOUNDED FOLLOWING frame in BOTH engines — the
    default frame ends at CURRENT ROW, making last_value a useless
    self-reference, a classic silent-wrong-answer migration trap. All
    windows are user-partitioned (group-bounded, scale-safe)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", cents("value").alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cents").desc(), F.col("event_id")
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return e.select(
        "user_id",
        "event_id",
        "cents",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("cents", 3).over(wrun).alias("nth3"),
        F.last("cents").over(wfull).alias("min_cents"),
    )


@register(
    "q_null_logic",
    oracle="""
    WITH base AS (
        SELECT event_type,
               nullif(event_type, 'error') AS a,
               nullif(event_type, 'view') AS b,
               value
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_eq,
           CAST(sum(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nullsafe_eq,
           CAST(sum(CASE WHEN value NOT IN (10.0, 20.0, NULL)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_not_in_trap,
           CAST(sum(CASE WHEN coalesce(a, b, 'none') = event_type
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_coalesce_id
    FROM base GROUP BY 1 ORDER BY event_type
    """,
)
def q_null_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic pins: (1) `a = b` vs null-safe `a <=> b`
    (Spark) / `IS NOT DISTINCT FROM` (DuckDB) — for the 'error' rows
    both sides are derived null on one input, so plain equality drops
    them from n_eq while the null-safe form counts null==null matches;
    (2) the NOT IN trap — `x NOT IN (…, NULL)` can never be TRUE
    (it's FALSE or UNKNOWN for every x), so n_not_in_trap is pinned 0
    on every row of every group in BOTH engines, the single most
    common silent-kill-the-whole-filter migration bug; (3) coalesce
    first-non-null identity. All counts exact ints; one groupBy."""
    e = t(spark, sf_dir, "events")
    a = F.nullif(F.col("event_type"), F.lit("error"))
    b = F.nullif(F.col("event_type"), F.lit("view"))
    base = e.select(
        "event_type", a.alias("a"), b.alias("b"), "value"
    )
    return (
        base.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_eq"),
            F.sum(F.when(F.col("a").eqNullSafe(F.col("b")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_nullsafe_eq"),
            F.sum(
                F.when(
                    ~F.col("value").isin(10.0, 20.0, None), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_not_in_trap"),
            F.sum(
                F.when(
                    F.coalesce("a", "b", F.lit("none")) == F.col("event_type"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_coalesce_id"),
        )
    )


@register(
    "q_calendar_ops",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(isodow(o_orderdate) AS BIGINT) - 1) AS BIGINT)
               AS sum_weekday,
           CAST(sum(CAST(quarter(o_orderdate) AS BIGINT)) AS BIGINT)
               AS sum_quarter,
           CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                              = last_day(CAST(o_orderdate AS DATE))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_eom,
           CAST(sum(CAST(day(CAST(o_orderdate AS DATE)
                             + INTERVAL 1 MONTH) AS BIGINT)) AS BIGINT)
               AS sum_day_next_month,
           CAST(sum(CAST(last_day(CAST(o_orderdate AS DATE))
                         - CAST(o_orderdate AS DATE) AS BIGINT)) AS BIGINT)
               AS sum_days_to_eom
    FROM orders GROUP BY 1 ORDER BY month
    """,
)
def q_calendar_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-arithmetic pins aggregated monthly: weekday numbering
    (Spark weekday() counts 0=Monday; DuckDB's equivalent is
    isodow−1 — Spark's dayofweek() counts 1=Sunday and silently
    shifts every day-of-week feature by one if mapped naively, the
    classic off-by-one in churn features), add-a-month end-of-month
    clamping (Jan 31 + 1 month = Feb 28/29 in BOTH engines —
    sum_day_next_month differs from sum_day iff clamping fired),
    last_day / days-to-end-of-month, and quarter extraction. All
    sums exact ints over one scan; month emitted as a string to dodge
    date-dtype drift (authoring rule)."""
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.weekday(d).cast("bigint")).alias("sum_weekday"),
            F.sum(F.quarter(d).cast("bigint")).alias("sum_quarter"),
            F.sum(F.when(d == F.last_day(d), 1).otherwise(0))
            .cast("bigint")
            .alias("n_eom"),
            F.sum(F.dayofmonth(F.add_months(d, 1)).cast("bigint")).alias(
                "sum_day_next_month"
            ),
            F.sum(F.datediff(F.last_day(d), d).cast("bigint")).alias(
                "sum_days_to_eom"
            ),
        )
    )


@register(
    "q_try_semantics",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value - value = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_div_null,
           CAST(sum(CASE WHEN TRY_CAST(event_type AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_cast,
           CAST(sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
                                       AS BIGINT) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_cast,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events GROUP BY 1 ORDER BY event_type
    """,
)
def q_try_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression pins (Spark 4 runs ANSI mode by default,
    where a bad cast or division by zero THROWS mid-job — hours into
    a 100-TB scan; the try_* family converts per-row failures to
    NULLs so one poison row can't kill the pipeline): try_divide by
    the always-zero `value - value` yields NULL on every row
    (n_div_null counts them — pinned equal to n), try_cast of a
    non-numeric string is NULL on every row, try_cast of the numeric
    JSON k attribute succeeds on every row and sums exactly. The
    DuckDB twin states the same semantics through TRY_CAST and a CASE
    (DuckDB's integer x/0 errors too — the CASE states the intended
    NULL contract rather than an engine accident)."""
    e = t(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.try_divide(F.lit(1.0), F.col("value") - F.col("value"))
                    .isNull(),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_div_null"),
            F.sum(
                F.when(F.try_to_number(F.col("event_type"), F.lit("999")).isNull(), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_bad_cast"),
            F.sum(F.when(k_str.try_cast("bigint").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ok_cast"),
            F.sum(k_str.try_cast("bigint")).cast("bigint").alias("sum_k"),
        )
    )


@register(
    "q_bag_set_ops",
    oracle="""
    WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    s AS (SELECT user_id FROM events WHERE event_type = 'signup'),
    i AS (SELECT 'intersect_all' AS op, user_id
          FROM (SELECT * FROM p INTERSECT ALL SELECT * FROM s)),
    x AS (SELECT 'except_all' AS op, user_id
          FROM (SELECT * FROM p EXCEPT ALL SELECT * FROM s))
    SELECT op, user_id, CAST(count(*) AS BIGINT) AS multiplicity
    FROM (SELECT * FROM i UNION ALL SELECT * FROM x)
    GROUP BY 1, 2 ORDER BY op, user_id
    """,
)
def q_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations: INTERSECT ALL keeps each user
    min(purchases, signups) times and EXCEPT ALL keeps
    max(purchases − signups, 0) times — MULTIPLICITY arithmetic the
    DISTINCT variants (q_set_ops / q_intersect) erase. The difference
    matters whenever rows carry weight: 'purchases beyond the first
    per signup' is an EXCEPT ALL question, and collapsing to DISTINCT
    silently turns per-occurrence accounting into per-user
    accounting. Output is the per-user multiplicity of both results
    (tagged, one union), so the exact bag counts are hash-pinned.
    Both engines implement these as a single aggregate-and-replicate
    shuffle on the value key — same cost class as DISTINCT."""
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id")
    s = e.filter(F.col("event_type") == "signup").select("user_id")
    i = p.intersectAll(s).select(F.lit("intersect_all").alias("op"), "user_id")
    x = p.exceptAll(s).select(F.lit("except_all").alias("op"), "user_id")
    return (
        i.unionByName(x)
        .groupBy("op", "user_id")
        .agg(F.count("*").alias("multiplicity"))
    )


# ---------------------------------------------------------------------------
# S1+ — federated multi-format scan (one logical table, four formats)
# ---------------------------------------------------------------------------


@register(
    "q_scan_federated",
    oracle="""
    SELECT p_type,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
               AS retail_cents,
           min(p_partkey) AS min_key, max(p_partkey) AS max_key
    FROM part GROUP BY p_type ORDER BY p_type
    """,
)
def q_scan_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated scan: ONE logical table whose shards live in FOUR
    formats — p_partkey%4 routes each part row to a parquet, CSV,
    JSONL, or ORC shard (materialized once per sf, fingerprint-keyed,
    zero Spark jobs at construction) — read back with the same pinned
    schema, unionByName'd, and aggregated; the oracle reads the
    original homogeneous parquet. Matching hashes prove the federation
    is lossless across every format hop simultaneously. This is the
    real shape of lake ingestion mid-migration (yesterday's CSV drops,
    last week's JSONL vendor feed, the ORC warehouse export, and the
    new parquet standard coexisting as one table): the engine answer
    is a schema-pinned per-format scan + zero-cost unionByName —
    Catalyst pushes the aggregate's column pruning into EACH format's
    reader independently, and adding a format never rewrites data."""
    import os

    from frauddetection_spark.sources.io import (
        derived_fixture,
        read_csv,
        read_jsonl,
        read_orc,
    )
    from frauddetection_spark.sources.tables import SCHEMAS

    def _mk_builder(shard: int, fmt: str):
        def _build(src: str, out: str) -> None:
            import pyarrow.csv
            import pyarrow.orc
            import pyarrow.parquet

            tbl = pyarrow.parquet.read_table(src)
            tbl = tbl.filter(tbl["p_partkey"].to_numpy() % 4 == shard)
            dest = os.path.join(out, f"part-0.{fmt}")
            if fmt == "jsonl":
                _write_jsonl(tbl, dest)
            else:
                writer = {"csv": pyarrow.csv.write_csv,
                          "parquet": pyarrow.parquet.write_table,
                          "orc": pyarrow.orc.write_table}[fmt]
                writer(tbl, dest)

        return _build

    schema = SCHEMAS["part"]
    shards = []
    for shard, fmt in enumerate(("parquet", "csv", "jsonl", "orc")):
        path = derived_fixture(sf_dir, f"fed_{fmt}", "part", _mk_builder(shard, fmt))
        if fmt == "parquet":
            shards.append(spark.read.schema(schema).parquet(path))
        elif fmt == "csv":
            shards.append(read_csv(spark, path, schema, escape='"'))
        elif fmt == "jsonl":
            shards.append(read_jsonl(spark, path, schema))
        else:
            shards.append(read_orc(spark, path, schema))
    fed = shards[0]
    for s in shards[1:]:
        fed = fed.unionByName(s)
    return (
        fed.groupBy("p_type")
        .agg(
            F.count("*").alias("n_parts"),
            F.count_distinct("p_brand").alias("n_brands"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("retail_cents"),
            F.min("p_partkey").alias("min_key"),
            F.max("p_partkey").alias("max_key"),
        )
    )


# ---------------------------------------------------------------------------
# Layout optimization: Z-order (Morton) clustering quality vs linear sort
# ---------------------------------------------------------------------------

_Z_BITS = 8       # bits per dimension (x = user bucket, y = spend bucket)
_Z_FILE_ROWS = 1000  # rows per simulated file


def _morton_sql(div: str) -> str:
    """Bit-interleave expression for columns x, y (8 bits each) using
    the given integer-division operator ('div' Spark / '//' DuckDB).
    Positive operands, so both engines' division semantics agree."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(((x {div} {1 << b}) % 2) * {1 << (2 * b)})")
        terms.append(f"(((y {div} {1 << b}) % 2) * {1 << (2 * b + 1)})")
    return " + ".join(terms)


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH pts AS (
        SELECT event_id,
               user_id % 256 AS x,
               least(CAST(round(value * 100) AS BIGINT) // 256, 255) AS y
        FROM events
    ),
    m AS (SELECT event_id, x, y, {_morton_sql('//')} AS morton FROM pts),
    zr AS (
        SELECT 'zorder' AS layout, x, y,
               (row_number() OVER (ORDER BY morton, event_id) - 1)
                   // {_Z_FILE_ROWS} AS file_id
        FROM m
    ),
    lr AS (
        SELECT 'linear' AS layout, x, y,
               (row_number() OVER (ORDER BY y, event_id) - 1)
                   // {_Z_FILE_ROWS} AS file_id
        FROM m
    ),
    files AS (
        SELECT layout, file_id, count(*) AS n,
               min(x) AS x_min, max(x) AS x_max,
               min(y) AS y_min, max(y) AS y_max
        FROM (SELECT * FROM zr UNION ALL SELECT * FROM lr)
        GROUP BY 1, 2
    )
    SELECT layout, CAST(file_id AS BIGINT) AS file_id, CAST(n AS BIGINT) AS n,
           CAST(x_min AS BIGINT) AS x_min, CAST(x_max AS BIGINT) AS x_max,
           CAST(y_min AS BIGINT) AS y_min, CAST(y_max AS BIGINT) AS y_max,
           CAST((x_max - x_min + 1) * (y_max - y_min + 1) AS BIGINT)
               AS span_product
    FROM files ORDER BY layout, file_id
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout optimization — the engine side of
    Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`: interleave the bits of
    two scan dimensions, sort by the interleaved code, cut into
    fixed-row files, and emit every file's per-dimension min/max —
    exactly the data-skipping statistics a lakehouse writes per file.
    The output carries the SAME stats for a plain linear sort (by y),
    so the clustering win is hash-pinned data, not prose. The correct
    quality metric is FILES HIT by a selective predicate on the
    NON-sort dimension (the first cut of this query pinned total
    span_product instead — which linear actually wins, because a 1-D
    sort makes its own dimension arbitrarily tight while Z-order
    balances both): an x-band predicate intersects ~√F of F Z-order
    files but ALL linear files, and the gap widens with file count —
    measured here 6/10 vs 10/10 at sf0.01 and 13/100 vs 100/100 at
    sf0.1 (property-tested). At 100 TB that is a dashboard query
    reading 13% of the table instead of all of it.

    Scale: the global sort that `OPTIMIZE` performs is here the
    two-phase range-partitioned prefix_rank (operators/rank.py) — no
    unpartitioned window anywhere; the Morton code is 16 integer
    terms of div/mod arithmetic (positive operands ⇒ Spark div ≡
    DuckDB //), and every file stat is an exact-int aggregate."""
    from frauddetection_spark.operators.rank import prefix_rank

    e = t(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        (F.col("user_id") % 256).alias("x"),
        F.least(
            F.expr("cast(round(value * 100) as bigint) div 256"), F.lit(255)
        ).alias("y"),
    ).withColumn("morton", F.expr(_morton_sql("div")))

    def _files(df: DataFrame, layout: str, order_cols) -> DataFrame:
        ranked = prefix_rank(df, order_by=order_cols)
        return ranked.select(
            F.lit(layout).alias("layout"),
            F.expr(f"(rn - 1) div {_Z_FILE_ROWS}").alias("file_id"),
            "x",
            "y",
        )

    z = _files(pts, "zorder", [F.col("morton"), F.col("event_id")])
    l = _files(pts, "linear", [F.col("y"), F.col("event_id")])
    return (
        z.unionByName(l)
        .groupBy("layout", "file_id")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .select(
            "layout",
            "file_id",
            "n",
            "x_min",
            "x_max",
            "y_min",
            "y_max",
            (
                (F.col("x_max") - F.col("x_min") + 1)
                * (F.col("y_max") - F.col("y_min") + 1)
            ).alias("span_product"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 / Q21 shapes — completing the 22-query suite on this schema
# ---------------------------------------------------------------------------


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — shipping-modes-and-priority: for lines shipped
    LATE in one year, how many belonged to critical-priority orders vs
    the rest, per class. This schema has no l_shipmode /
    l_commitdate / l_receiptdate, so the class column is l_returnflag
    and "late" is the join-residual inequality l_shipdate >
    o_orderdate + 60 days — preserving the query's two defining
    features: a join whose non-equi part cannot be pushed into either
    scan (it references BOTH sides), and the CASE-conditional split
    aggregation that pivots order priority into two counts in ONE
    pass (two filtered joins would scan orders twice). The year
    predicate prunes the lineitem scan; orders needs only
    (orderkey, orderdate, priority) — check ReadSchema."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01'"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q21",
    oracle="""
    WITH ol AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    ag AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late,
               max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
        FROM ol GROUP BY 1
    )
    SELECT s.s_name, n.n_name, CAST(count(*) AS BIGINT) AS numwait
    FROM ag
    JOIN supplier s ON s.s_suppkey = ag.late_supp
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE ag.n_supp >= 2 AND ag.n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who kept orders waiting: on
    finished multi-supplier orders, find the supplier who was the
    ONLY late one (every co-supplier delivered on time) and rank by
    how many orders they alone delayed. The reference formulation is
    the suite's hardest subquery nest — EXISTS(another supplier on
    the order) AND NOT EXISTS(another LATE supplier) — and the
    scalable rewrite is ONE aggregation per order computing
    (distinct suppliers, distinct late suppliers, the late supplier),
    replacing two correlated re-scans of lineitem with a single
    shuffle on orderkey: n_supp >= 2 encodes the EXISTS, n_late = 1
    encodes the NOT-EXISTS, and max(CASE late) is well-defined as
    THE late supplier precisely because n_late = 1. Lateness is the
    Q12 stand-in (shipdate > orderdate + 60d; no receipt/commit
    dates on this schema). supplier and nation broadcast; the top-10
    total-orders-per-supplier agg is tiny."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    ol = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).cast("int").alias("late"),
        )
    )
    late_supp = F.when(F.col("late") == 1, F.col("l_suppkey"))
    ag = ol.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late"),
        F.max(late_supp).alias("late_supp"),
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ag.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("late_supp"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 / Q11 / Q16 / Q20 shapes — the partsupp-centric four, on a
# supply relation DERIVED from lineitem (this schema ships no partsupp
# table): per (partkey, suppkey), cost_c = min observed price in cents
# (the supplier's best quote) and availqty = total quantity supplied.
# Exact integers both sides, so every downstream threshold stays an
# integer predicate.
# ---------------------------------------------------------------------------

_SQL_SUPPLY = """
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cost_c,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS availqty
    FROM lineitem GROUP BY 1, 2
"""


def _supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp stand-in: one shuffle on (partkey, suppkey)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint").alias("cost_c"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("availqty"),
        )
    )


@register(
    "q_tpch_q2",
    oracle=f"""
    WITH supply AS ({_SQL_SUPPLY}),
    rs AS (
        SELECT s.s_suppkey, s.s_name,
               CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_c, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    sup AS (
        SELECT supply.*, rs.s_name, rs.bal_c, rs.n_name
        FROM supply JOIN rs ON rs.s_suppkey = supply.ps_suppkey
    ),
    mn AS (SELECT ps_partkey, min(cost_c) AS mc FROM sup GROUP BY 1)
    SELECT sup.s_name, sup.n_name, sup.ps_partkey AS p_partkey,
           p.p_type, sup.cost_c, sup.bal_c
    FROM sup
    JOIN mn ON mn.ps_partkey = sup.ps_partkey AND sup.cost_c = mn.mc
    JOIN part p ON p.p_partkey = sup.ps_partkey
    WHERE p.p_size = 15
    ORDER BY bal_c DESC, s_name, p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — minimum-cost supplier: for every size-15 part,
    the ASIA supplier(s) quoting the part's regional minimum cost,
    richest suppliers first. The defining feature is the CORRELATED
    MIN subquery (cost = min cost over the same region-restricted
    supply), decorrelated to a PARTITIONED WINDOW MIN over the same
    frame (one shuffle on ps_partkey, no aggregate-join-back — the
    join form planned the supply pipeline twice) — ties keep ALL
    min-cost suppliers, per the original semantics. The
    region→nation→supplier
    chain collapses to a ~1/5-of-suppliers broadcast before the
    supply shuffle; part is filtered on size BEFORE its join.
    Balance ranks as exact cents."""
    sup = _supply(spark, sf_dir)
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    rs = (
        t(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_c"),
            "s_nationkey",
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "bal_c", "n_name")
    )
    sup = sup.join(F.broadcast(rs), F.col("s_suppkey") == F.col("ps_suppkey"))
    # Decorrelate the MIN as a PARTITIONED WINDOW over the same frame,
    # not an aggregate-join-back: the self-join form planned the whole
    # supply pipeline (lineitem groupBy + supplier broadcast) TWICE —
    # 9 live scans; the window min is one shuffle on ps_partkey over a
    # single pipeline (4 scans), and keeps all tied min-cost suppliers
    # exactly like the join form.
    w_mn = Window.partitionBy("ps_partkey")
    p = t(spark, sf_dir, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_type"
    )
    return (
        sup.withColumn("mc", F.min("cost_c").over(w_mn))
        .filter(F.col("cost_c") == F.col("mc"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_type",
            "cost_c",
            "bal_c",
        )
        .orderBy(F.col("bal_c").desc(), "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q_tpch_q11",
    oracle=f"""
    WITH supply AS ({_SQL_SUPPLY}),
    v AS (
        SELECT ps_partkey,
               CAST(sum(CAST(cost_c AS HUGEINT) * availqty) AS HUGEINT) AS val
        FROM supply JOIN supplier s ON s.s_suppkey = ps_suppkey
        WHERE s.s_nationkey % 5 = 2
        GROUP BY 1
    ),
    tot AS (SELECT sum(val) AS tv, count(*) AS np FROM v)
    SELECT v.ps_partkey, CAST(v.val AS BIGINT) AS value_e4
    FROM v, tot
    WHERE v.val * np > 2 * tv
    ORDER BY value_e4 DESC, ps_partkey
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — important stock identification: parts whose
    nation-7 supply value (Σ cost·availqty) exceeds a GLOBAL
    threshold — the original's `HAVING value > fraction · Σ total`
    scalar subquery, here 2× the per-part average with the comparison
    CROSS-MULTIPLIED to the exact integer predicate val·n_parts >
    2·Σval (a float fraction-of-total threshold can flip boundary
    parts between engines; this cannot). The nation-band filter
    (nationkey ≡ 2 mod 5 — a 5-nation region that is non-empty at
    every test sf, where any single nationkey is absent from the
    10-supplier sf0.001 sample) broadcasts
    into the supply shuffle; the 1-row (Σ, n) aggregate broadcasts
    back over the per-part frame. Intermediates ride decimal
    (HUGEINT in the twin) since Σ cost·qty approaches int64 range at
    warehouse scale; the emitted per-part value fits bigint."""
    from frauddetection_spark.operators.caching import track_cache

    sup = _supply(spark, sf_dir)
    s = t(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") % 5 == 2
    ).select("s_suppkey")
    # Persist v: it feeds BOTH the 1-row (Σ, n) total and the filtered
    # output — unpersisted, the lineitem groupBy + supplier join replay
    # once per reference (the base-relation-probed-by-own-aggregate
    # shape, whose replayed fact scan grows with the data).
    # Per-part aggregate rows, far smaller than the fact input.
    v = track_cache(
        sup.join(F.broadcast(s), F.col("s_suppkey") == F.col("ps_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("cost_c").cast("decimal(38,0)") * F.col("availqty")
            ).alias("val")
        )
        .persist()
    )
    tot = v.agg(F.sum("val").alias("tv"), F.count("*").alias("np"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.col("np") > F.lit(2) * F.col("tv"))
        .select("ps_partkey", F.col("val").cast("bigint").alias("value_e4"))
    )


@register(
    "q_tpch_q16",
    oracle=f"""
    WITH supply AS ({_SQL_SUPPLY})
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM supply
    JOIN part p ON p.p_partkey = ps_partkey
    WHERE p.p_brand <> 'Brand#11'
      AND p.p_size IN (5, 15, 25, 35, 45)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — parts/supplier relationship: how many
    DISTINCT suppliers can deliver each (brand, type, size) family,
    excluding one brand, off-list sizes, and blacklisted suppliers
    (negative balance stands in for the original's complaint-comment
    scan — same anti-join shape, NOT IN → LEFT ANTI). The distinct
    count shuffles once on the group key after the part dim
    (filtered, broadcast) prunes the supply frame; the blacklist is
    a ~100-row broadcast anti join, NEVER a NOT-IN subquery
    re-executed per row."""
    sup = _supply(spark, sf_dir)
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = (
        t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#11")
            & F.col("p_size").isin(5, 15, 25, 35, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        sup.join(F.broadcast(bad), F.col("s_suppkey") == F.col("ps_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q20",
    oracle="""
    WITH y AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                              AND l_shipdate < TIMESTAMP '1998-01-01'
                             THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS q97,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qall
        FROM lineitem
        JOIN part p ON p.p_partkey = l_partkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
    ),
    hot AS (
        SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_excess_parts
        FROM y WHERE 2 * q97 > qall GROUP BY 1
    )
    SELECT s.s_name, n.n_name, hot.n_excess_parts
    FROM hot
    JOIN supplier s ON s.s_suppkey = hot.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY s_name
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — potential part promotion: suppliers holding
    CONCENTRATED demand in one part family — (part, supplier) pairs
    where the 1997 shipped quantity exceeds HALF the pair's all-time
    quantity (the original compares availqty against 0.5 · one year's
    shipments; with supply derived from shipments the meaningful
    direction is one-year share > 50%, same aggregate-derived-
    threshold shape). The original's nested IN subqueries
    (suppkey IN … partkey IN …) decorrelate to: part-name filter
    broadcast into ONE conditional aggregation per (part, supp) —
    the year split is a CASE inside the same pass, not a second
    scan — then the exact integer predicate 2·q97 > qall, then a
    per-supplier count. supplier and nation broadcast at the end."""
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    in97 = (
        (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01'"))
    )
    q = F.col("l_quantity").cast("bigint")
    y = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in97, q).otherwise(F.lit(0).cast("bigint")))
            .cast("bigint").alias("q97"),
            F.sum(q).cast("bigint").alias("qall"),
        )
    )
    hot = (
        y.filter(F.lit(2) * F.col("q97") > F.col("qall"))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_excess_parts"))
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        hot.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name", "n_excess_parts")
    )


# ---------------------------------------------------------------------------
# Cascade-delete impact analysis (GDPR erasure planning)
# ---------------------------------------------------------------------------


@register(
    "q_cascade_delete",
    oracle="""
    WITH seed AS (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ),
    o AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM seed)
    ),
    l AS (
        SELECT 1 AS x FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM o)
    ),
    tot AS (
        SELECT (SELECT count(*) FROM customer) AS tc,
               (SELECT count(*) FROM orders) AS toq,
               (SELECT count(*) FROM lineitem) AS tl,
               (SELECT count(*) FROM seed) AS nc,
               (SELECT count(*) FROM o) AS no,
               (SELECT count(*) FROM l) AS nl
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS level, 'customer' AS table_name,
               CAST(nc AS BIGINT) AS n_affected,
               CAST(tc AS BIGINT) AS n_total,
               round(nc * 1.0 / tc, 6) AS affected_pct
        FROM tot
        UNION ALL SELECT 2, 'orders', CAST(no AS BIGINT),
               CAST(toq AS BIGINT), round(no * 1.0 / toq, 6) FROM tot
        UNION ALL SELECT 3, 'lineitem', CAST(nl AS BIGINT),
               CAST(tl AS BIGINT), round(nl * 1.0 / tl, 6) FROM tot
    ) ORDER BY level
    """,
)
def q_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-impact analysis — the data-governance planning query
    behind GDPR right-to-be-forgotten: given a deletion seed set
    (here: negative-balance customers, the deterministic stand-in for
    an erasure request list), walk the foreign-key cascade
    customer → orders → lineitem and report, per table, how many rows
    a compliant cascade delete would remove and what share of the
    table that is — the numbers a deletion job is sized and approved
    on. Plan shape: each level is a LEFT SEMI join from the fact table
    to the previous level's keys (the seed and the order-key frontier
    are the SMALL sides — broadcast; the big fact tables are only ever
    scanned, never shuffled), counts are 1-row aggregates crossJoined
    and exploded to the report rows. At 100 TB this is the exact shape
    of the real erasure pre-check: frontier keys broadcast, one scan
    per fact table, no fact-to-fact shuffle anywhere."""
    from frauddetection_spark.operators.caching import track_cache

    # the seed and the order frontier are each probed twice (the next
    # level's semi join + their own count) — persist the tiny key sets
    # or each level's derivation replays
    seed = track_cache(
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
        .persist()
    )
    o = track_cache(
        t(spark, sf_dir, "orders")
        .join(
            F.broadcast(seed.withColumnRenamed("c_custkey", "o_custkey")),
            "o_custkey",
            "semi",
        )
        .select("o_orderkey")
        .persist()
    )
    l = t(spark, sf_dir, "lineitem").join(
        F.broadcast(o.withColumnRenamed("o_orderkey", "l_orderkey")),
        "l_orderkey",
        "semi",
    )
    counts = (
        seed.agg(F.count("*").cast("bigint").alias("nc"))
        .crossJoin(o.agg(F.count("*").cast("bigint").alias("no")))
        .crossJoin(l.agg(F.count("*").cast("bigint").alias("nl")))
        .crossJoin(
            t(spark, sf_dir, "customer").agg(
                F.count("*").cast("bigint").alias("tc")
            )
        )
        .crossJoin(
            t(spark, sf_dir, "orders").agg(
                F.count("*").cast("bigint").alias("to_")
            )
        )
        .crossJoin(
            t(spark, sf_dir, "lineitem").agg(
                F.count("*").cast("bigint").alias("tl")
            )
        )
    )
    levels = F.array(
        F.struct(
            F.lit(1).cast("bigint").alias("level"),
            F.lit("customer").alias("table_name"),
            F.col("nc").alias("n_affected"),
            F.col("tc").alias("n_total"),
            F.round(F.col("nc") / F.col("tc"), 6).alias("affected_pct"),
        ),
        F.struct(
            F.lit(2).cast("bigint").alias("level"),
            F.lit("orders").alias("table_name"),
            F.col("no").alias("n_affected"),
            F.col("to_").alias("n_total"),
            F.round(F.col("no") / F.col("to_"), 6).alias("affected_pct"),
        ),
        F.struct(
            F.lit(3).cast("bigint").alias("level"),
            F.lit("lineitem").alias("table_name"),
            F.col("nl").alias("n_affected"),
            F.col("tl").alias("n_total"),
            F.round(F.col("nl") / F.col("tl"), 6).alias("affected_pct"),
        ),
    )
    return (
        counts.select(F.explode(levels).alias("s"))
        .select(
            "s.level", "s.table_name", "s.n_affected", "s.n_total",
            "s.affected_pct",
        )
    )
