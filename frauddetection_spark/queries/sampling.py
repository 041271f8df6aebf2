"""Sampling queries (SURVEY.md §2.6): hash splits (R1), node sampling
weights (R2), edge-class sampling weights (R3), weighted draw (R4).

Node/label model on the testdata: nodes are event users; the
"fraud-ish" label is `n_error_events ≥ ERROR_THRESHOLD` (an
exact-integer behavioral threshold, so both engines derive identical
labels; the metric, scorecard and funnel queries share it); the graph
is the events-derived user → counterparty edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.graph import SQL_EDGES, edges_from_events
from frauddetection_spark.operators.sampling import (
    FIXED,
    normalized_probability,
    portable_split,
    portable_uniform_keep,
    sql_portable_split,
    sql_portable_uniform_keep,
    xxhash_split,
)
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import cents, t

ERROR_THRESHOLD = 15

# Per-user fraud-ish label from exact event counts.
_SQL_LABELS = f"""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    >= {ERROR_THRESHOLD} AS INTEGER) AS label
        FROM events GROUP BY user_id
"""


def _labels(events: DataFrame) -> DataFrame:
    return events.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            >= ERROR_THRESHOLD
        )
        .cast("int")
        .alias("label")
    )


# ---------------------------------------------------------------------------
# R1 — stratified hash split
# ---------------------------------------------------------------------------


@register(
    "q_split_stratified",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_portable_split('c_custkey')} AS split,
           count(*) AS n,
           CAST(min(c_custkey) AS BIGINT) AS min_key
    FROM customer
    GROUP BY 1, 2 ORDER BY c_mktsegment, split
    """,
)
def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 train/test split as a pure hash of the key (reference:
    sklearn RNG split, data_process.py:62-63 — replaced by engine
    policy: hash-based, coordination-free, reproducible; SURVEY §2.6).
    Grouped by stratum to show per-segment balance. Production path
    uses xxhash64 (q_split_xxhash); this twin uses the oracle-portable
    multiplicative hash."""
    c = t(spark, sf_dir, "customer")
    return (
        c.withColumn("split", portable_split(F.col("c_custkey")))
        .groupBy("c_mktsegment", "split")
        .agg(F.count("*").alias("n"), F.min("c_custkey").alias("min_key"))
    )


@register("q_split_xxhash", oracle=None)
def q_split_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-grade split on xxhash64(key, seed) — rows-only
    (DuckDB lacks xxhash64). Same shape as q_split_stratified."""
    c = t(spark, sf_dir, "customer")
    return (
        c.withColumn("split", xxhash_split(F.col("c_custkey")))
        .groupBy("c_mktsegment", "split")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# R2 — degree/class-weighted node sampling distribution
# ---------------------------------------------------------------------------


@register(
    "q_sampling_weights",
    oracle=f"""
    WITH labels AS ({_SQL_LABELS}),
    edges AS ({SQL_EDGES}),
    deg AS (SELECT src AS user_id, count(*) AS degree FROM edges GROUP BY 1),
    nodes AS (
        SELECT l.user_id, l.label, coalesce(d.degree, 0) AS degree
        FROM labels l LEFT JOIN deg d ON l.user_id = d.user_id
    ),
    rates AS (
        SELECT label, count(*) AS n_class,
               (SELECT count(*) FROM nodes) AS n_total
        FROM nodes GROUP BY label
    ),
    raw AS (
        SELECT n.user_id, n.label, n.degree,
               CAST(round(sqrt(n.degree + 1) * {FIXED}) AS BIGINT)
               * CAST(round(CAST(r.n_total AS DOUBLE) / r.n_class * {FIXED})
                      AS BIGINT) AS raw
        FROM nodes n JOIN rates r ON n.label = r.label
    )
    SELECT user_id, label, degree,
           CAST(raw AS DOUBLE) / (SELECT sum(raw) FROM raw) AS prob
    FROM raw ORDER BY user_id
    """,
)
def q_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node sampling distribution p(v) ∝ sqrt(deg(v)+1) / rate(label(v))
    (reference: node_probability, new_utlis_1.py:52-65 — degree-tempered,
    inverse-class-rate so the minority fraud class is oversampled).

    Determinism: both factors are fixed-point int64
    (round(sqrt·10⁶), round(rate⁻¹·10⁶)), the product and total are
    exact, one final division (operators/sampling.py policy). The
    class-rate table is 2 rows → broadcast; the normalizing total is a
    broadcast 1-row aggregate, not a global window."""
    events = t(spark, sf_dir, "events")
    labels = _labels(events)
    deg = (
        edges_from_events(events)
        .groupBy(F.col("src").alias("user_id"))
        .agg(F.count("*").alias("degree"))
    )
    from frauddetection_spark.operators.caching import track_cache

    # nodes feeds the class-rate groupBy, the grand-total aggregate
    # and the weight join — persist or the label+degree build replays
    # 3× (measured: 8 parquet scans in the executed plan)
    nodes = track_cache(
        labels.join(deg, "user_id", "left").na.fill({"degree": 0}).persist()
    )
    # class table with the grand total attached via broadcast 1-row
    # aggregate — NOT a driver-side .count() (which would execute the
    # whole upstream plan eagerly at query-construction time)
    rates = (
        nodes.groupBy("label")
        .agg(F.count("*").alias("n_class"))
        .crossJoin(F.broadcast(nodes.agg(F.count("*").alias("n_total"))))
    )
    raw = (
        nodes.join(F.broadcast(rates), "label")
        .withColumn(
            "raw",
            (F.round(F.sqrt(F.col("degree") + 1) * FIXED).cast("bigint"))
            * (
                F.round(
                    F.col("n_total").cast("double") / F.col("n_class") * FIXED
                ).cast("bigint")
            ),
        )
        .select("user_id", "label", "degree", "raw")
    )
    return (
        normalized_probability(raw, "raw")
        .select("user_id", "label", "degree", "prob")
    )


# ---------------------------------------------------------------------------
# R3 — edge-class sampling distribution
# ---------------------------------------------------------------------------


@register(
    "q_edge_weights",
    oracle=f"""
    WITH labels AS ({_SQL_LABELS}),
    edges AS ({SQL_EDGES}),
    le AS (
        SELECT e.src, e.dst, ls.label AS y_src, ld.label AS y_dst
        FROM edges e
        JOIN labels ls ON e.src = ls.user_id
        JOIN labels ld ON e.dst = ld.user_id
    ),
    classed AS (
        SELECT src, dst,
               CASE WHEN y_src = 1 AND y_dst = 1 THEN 'homo_fraud'
                    WHEN y_src = 0 AND y_dst = 0 THEN 'homo_benign'
                    ELSE 'hetero' END AS edge_class
        FROM le
    ),
    cc AS (
        SELECT edge_class, count(*) AS n_class,
               (SELECT count(*) FROM classed) AS n_total
        FROM classed GROUP BY edge_class
    ),
    raw AS (
        SELECT c.src, c.dst, c.edge_class,
               CAST(round(CAST(k.n_total AS DOUBLE) / k.n_class * {FIXED})
                    AS BIGINT) AS raw
        FROM classed c JOIN cc k ON c.edge_class = k.edge_class
    )
    SELECT src, dst, edge_class,
           CAST(raw AS DOUBLE) / (SELECT sum(raw) FROM raw) AS prob
    FROM raw ORDER BY src, dst
    """,
)
def q_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge sampling distribution by label-pair class (reference:
    edge_probability, new_utlis_2.py:66-113 — homo-fraud / homo-benign
    / hetero edges weighted by inverse class share so rare homo-fraud
    edges are oversampled). Labels join onto both endpoints (two
    broadcast joins of the small label table), CASE classification
    (P9), inverse-share fixed-point weights, exact-int normalization."""
    events = t(spark, sf_dir, "events")
    labels = _labels(events)
    e = edges_from_events(events)
    le = (
        e.join(
            F.broadcast(labels.select(F.col("user_id").alias("src"), F.col("label").alias("y_src"))),
            "src",
        )
        .join(
            F.broadcast(labels.select(F.col("user_id").alias("dst"), F.col("label").alias("y_dst"))),
            "dst",
        )
    )
    from frauddetection_spark.operators.caching import track_cache

    # classed feeds the class counts, the grand total and the weight
    # join — persist or the edge+label build replays 3× (measured:
    # 18 parquet scans / 41 exchanges in the executed plan)
    classed = track_cache(
        le.withColumn(
            "edge_class",
            F.when((F.col("y_src") == 1) & (F.col("y_dst") == 1), "homo_fraud")
            .when((F.col("y_src") == 0) & (F.col("y_dst") == 0), "homo_benign")
            .otherwise("hetero"),
        )
        .select("src", "dst", "edge_class")
        .persist()
    )
    # grand total via broadcast 1-row aggregate, not an eager .count()
    cc = (
        classed.groupBy("edge_class")
        .agg(F.count("*").alias("n_class"))
        .crossJoin(F.broadcast(classed.agg(F.count("*").alias("n_total"))))
    )
    raw = classed.join(F.broadcast(cc), "edge_class").withColumn(
        "raw",
        F.round(
            F.col("n_total").cast("double") / F.col("n_class") * FIXED
        ).cast("bigint"),
    ).select("src", "dst", "edge_class", "raw")
    return (
        normalized_probability(raw, "raw")
        .select("src", "dst", "edge_class", "prob")
    )


# ---------------------------------------------------------------------------
# R4 — uniform subsample (hash-deterministic, oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "q_uniform_sample",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE {sql_portable_uniform_keep('event_id')}
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform ~10% subsample as a pure hash of the row key (reference:
    np.random.choice uniform draw, new_train_1.py:156 — replaced by
    engine policy: hash membership, so the sample is reproducible on
    any engine/cluster and needs no RNG state; SURVEY §2.6 R4).
    The filter is a map-side predicate — at 100 TB the sample never
    materializes the unsampled rows past the scan."""
    e = t(spark, sf_dir, "events")
    return (
        e.where(portable_uniform_keep(F.col("event_id")))
        .withColumn("cents", F.round(F.col("value") * 100).cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# R4 — weighted draw (rows-only: rand)
# ---------------------------------------------------------------------------


@register("q_weighted_draw", oracle=None)
def q_weighted_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, size 50, via the
    Efraimidis–Spirakis exponential-jitter trick: key = -ln(u)/w with
    u ~ rand(seed), take the k smallest — one pass, fully distributed
    (reference: np.random.choice(p=node_prob), new_train_1.py:156).
    Seeded but engine-specific RNG → rows-only. rand() draws in
    partition row order, so the weights are sorted first: the same
    seed then gives the same sample on every run."""
    weights = q_sampling_weights(spark, sf_dir).orderBy("user_id")
    keyed = weights.withColumn(
        "draw_key", -F.log(F.rand(seed=42)) / F.col("prob")
    )
    return keyed.orderBy("draw_key").limit(50).select(
        "user_id", "label", "degree", "prob"
    )


# ---------------------------------------------------------------------------
# skew-safe aggregation (salting) — semantics-preserving by oracle
# ---------------------------------------------------------------------------


@register(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/sampling.py::
    salted_sum_count) vs the oracle's PLAIN group-by — hash-matching
    proves salting is semantics-preserving. event_type is the
    demonstration hot key (5 values over 10⁵⁺ rows: exactly the
    all-keys-are-hot shape where a single-phase agg funnels each key
    through one reducer)."""
    from frauddetection_spark.operators.sampling import salted_sum_count

    e = t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    out = salted_sum_count(
        e, ["event_type"], "cents", salt_col=F.col("event_id")
    )
    return out.select(
        "event_type", F.col("cents_sum").cast("bigint"), F.col("n")
    )


# ---------------------------------------------------------------------------
# skew-safe SALTED JOIN (join-side twin of q_salted_agg)
# ---------------------------------------------------------------------------

_JOIN_SALTS = 8


@register(
    "q_join_salted",
    oracle="""
    WITH dim AS (
        SELECT user_id, min(event_type) AS first_type
        FROM events GROUP BY user_id
    )
    SELECT e.user_id, d.first_type, count(*) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM events e JOIN dim d USING (user_id)
    GROUP BY e.user_id, d.first_type ORDER BY e.user_id
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join: the dimension side is exploded over
    all _JOIN_SALTS salt values, the fact side salts each row by
    pmod(event_id, salts), and the join key becomes (user_id, salt) —
    a hot user's rows land on `salts` reducers instead of one. This is
    the manual form of AQE's skew-join split for when a single key
    exceeds one executor even after AQE (same rationale as
    salted_sum_count, operators/sampling.py). Pure physical rewrite:
    the oracle states the PLAIN join — identical results prove salting
    changes distribution, never semantics."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.pmod(F.col("event_id"), F.lit(_JOIN_SALTS)).alias("_salt"),
    )
    dim = (
        e.groupBy("user_id")
        .agg(F.min("event_type").alias("first_type"))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1))))
    )
    return (
        e.join(dim, ["user_id", "_salt"])
        .groupBy("user_id", "first_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("cents_total"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic negative sampling (recsys / ranking training data)
# ---------------------------------------------------------------------------

_NEG_P = 2_147_483_647  # 2^31 - 1 (same modulus as q_reservoir_group)
_NEG_A = 48_271         # Lehmer multiplier
_NEG_B = 1_009          # per-draw salt multiplier
_NEG_DRAWS = 8          # candidate draws per user
_NEG_K = 3              # negatives kept per user


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH purchased AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    users AS (SELECT DISTINCT o_custkey AS user_id FROM orders),
    np AS (SELECT count(*) AS n_parts FROM part),
    cand AS (
        SELECT u.user_id, j.j,
               ((u.user_id % {_NEG_P}) * {_NEG_A} + j.j * {_NEG_B})
                   % {_NEG_P} % n_parts AS cand_part
        FROM users u
        CROSS JOIN (SELECT unnest(generate_series(1, {_NEG_DRAWS})) AS j) j
        CROSS JOIN np
    ),
    neg AS (
        SELECT c.user_id, c.cand_part, min(c.j) AS j
        FROM cand c
        ANTI JOIN purchased p
          ON c.user_id = p.user_id AND c.cand_part = p.l_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT user_id, cand_part,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY j, cand_part
               ) AS neg_rank
        FROM neg
    )
    SELECT user_id, CAST(neg_rank AS BIGINT) AS neg_rank, cand_part
    FROM ranked WHERE neg_rank <= {_NEG_K}
    ORDER BY user_id, neg_rank
    """,
)
def q_negative_sampling(spark, sf_dir):
    """Deterministic per-user negative sampling — the training-data op
    behind every implicit-feedback ranking model: for each customer,
    K part-ids they did NOT buy, drawn reproducibly (replayable across
    engines and reruns, unlike rand()-based samplers). Each user gets
    {_NEG_DRAWS} Lehmer-hash draws into the 0-based contiguous part-key
    space (hash mod 2^31-1 BEFORE the multiply — no int64 overflow),
    purchased pairs are removed with an anti join, collided draws
    dedup to their first j, and the first {_NEG_K} survivors are kept.
    Scale: draws are a constant fan-out of the user dim (linear), the
    anti join shuffles on (user, part) — never a user × catalog cross
    product. Reference parity: the reference trains on sklearn-split
    positives only (new_train_1.py); negative generation is the step a
    production ranker adds."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    purchased = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), "l_partkey")
        .distinct()
    )
    users = orders.select(F.col("o_custkey").alias("user_id")).distinct()
    np_ = t(spark, sf_dir, "part").agg(F.count("*").alias("n_parts"))
    cand = (
        users.crossJoin(F.broadcast(np_))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(1), F.lit(_NEG_DRAWS))).alias("j"),
            "n_parts",
        )
        .select(
            "user_id",
            "j",
            (
                (
                    (F.col("user_id") % _NEG_P) * _NEG_A
                    + F.col("j") * _NEG_B
                )
                % _NEG_P
                % F.col("n_parts")
            ).alias("cand_part"),
        )
    )
    neg = (
        cand.join(
            purchased,
            (cand.user_id == purchased.user_id)
            & (cand.cand_part == purchased.l_partkey),
            "left_anti",
        )
        .groupBy("user_id", "cand_part")
        .agg(F.min("j").alias("j"))
    )
    w = Window.partitionBy("user_id").orderBy("j", "cand_part")
    return (
        neg.withColumn("neg_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("neg_rank") <= _NEG_K)
        .select("user_id", "neg_rank", "cand_part")
    )


# ---------------------------------------------------------------------------
# class-balanced deterministic downsampling
# ---------------------------------------------------------------------------


@register(
    "q_class_balance",
    oracle=f"""
    WITH e AS (
        SELECT event_type, event_id,
               ((event_id % {_NEG_P}) * {_NEG_A}) % {_NEG_P} AS hv
        FROM events
    ),
    k AS (
        SELECT min(n) AS k FROM (
            SELECT count(*) AS n FROM e GROUP BY event_type
        )
    ),
    r AS (
        SELECT event_type, event_id, hv,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY hv, event_id
               ) AS rn
        FROM e
    )
    SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
    FROM r CROSS JOIN k WHERE rn <= k
    ORDER BY event_type, rn
    """,
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event_type keeps exactly
    min-class-count rows, chosen as the k smallest Lehmer-hash values
    per class — the deterministic rebalancing step before training on
    skewed labels (the reference's weighted sampler
    new_train_1.py:149-173 solves the same imbalance with weights;
    this is the data-side alternative, replayable across engines and
    reruns). k rides in as a broadcast single-row aggregate; the
    per-class rank is one partitioned window. At 100 TB the top-k
    per class would ride a partial top-k aggregate (q_topk's shape) —
    semantics pinned here."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (((F.col("event_id") % _NEG_P) * _NEG_A) % _NEG_P).alias("hv"),
    )
    k = e.groupBy("event_type").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("k")
    )
    w = Window.partitionBy("event_type").orderBy("hv", "event_id")
    r = e.withColumn("rn", F.row_number().over(w).cast("bigint"))
    return (
        r.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k"))
        .select("event_type", "rn", "event_id")
    )


# ---------------------------------------------------------------------------
# spatial proximity self-join (grid-cell bucketing)
# ---------------------------------------------------------------------------

_SP_SIDE = 1_000_000   # coordinate space side length
_SP_R = 50_000         # L-infinity proximity radius = grid cell size
_SP_AX = 48_271        # Lehmer multiplier for x (MINSTD variant)
_SP_AY = 16_807        # Lehmer multiplier for y (classic MINSTD)


@register(
    "q_spatial_join",
    oracle=f"""
    WITH pts AS (
        SELECT DISTINCT user_id,
               (user_id % {_NEG_P}) * {_SP_AX} % {_NEG_P} % {_SP_SIDE} AS x,
               (user_id % {_NEG_P}) * {_SP_AY} % {_NEG_P} % {_SP_SIDE} AS y
        FROM events
    )
    SELECT a.user_id AS u, b.user_id AS v,
           CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS BIGINT) AS cheb
    FROM pts a JOIN pts b
      ON a.user_id < b.user_id
     AND abs(a.x - b.x) <= {_SP_R}
     AND abs(a.y - b.y) <= {_SP_R}
    ORDER BY u, v
    """,
)
def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join: all pairs of points within L∞
    radius r — the geo operator behind "accounts transacting from the
    same place" and store-catchment joins. Coordinates are derived
    deterministically from user ids by the repo's Lehmer hashes (the
    container has no geo columns; both twins derive identical points,
    so the operator itself is what's under test). The Spark plan is
    GRID-CELL BUCKETING — the LSH of metric space: cell side = r, each
    point joins only candidates in its 3×3 cell neighborhood (probe
    side explodes to 9 cells; build side stays single-cell), then the
    exact distance predicate filters within candidates. Candidate
    volume is Σ per-cell-density² — linear for bounded density, never
    the n² cross join the oracle states (pinning grid ≡ naive). At
    100 TB the cell key is also the storage partition key, making the
    join co-partitioned; Chebyshev needs no sqrt, so everything stays
    exact integers."""
    pts = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            ((F.col("user_id") % _NEG_P) * _SP_AX % _NEG_P % _SP_SIDE).alias(
                "x"
            ),
            ((F.col("user_id") % _NEG_P) * _SP_AY % _NEG_P % _SP_SIDE).alias(
                "y"
            ),
        )
    )
    cell = pts.select(
        "user_id",
        "x",
        "y",
        F.expr(f"x div {_SP_R}").alias("cx"),
        F.expr(f"y div {_SP_R}").alias("cy"),
    )
    offsets = spark.range(-1, 2).select(
        F.col("id").alias("ox")
    ).crossJoin(spark.range(-1, 2).select(F.col("id").alias("oy")))
    probe = cell.crossJoin(F.broadcast(offsets)).select(
        F.col("user_id").alias("u"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("cx") + F.col("ox")).alias("cx"),
        (F.col("cy") + F.col("oy")).alias("cy"),
    )
    build = cell.select(
        F.col("user_id").alias("v"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    )
    return (
        probe.join(build, ["cx", "cy"])
        .filter(
            (F.col("u") < F.col("v"))
            & (F.abs(F.col("ax") - F.col("bx")) <= _SP_R)
            & (F.abs(F.col("ay") - F.col("by")) <= _SP_R)
        )
        .select(
            "u",
            "v",
            F.greatest(
                F.abs(F.col("ax") - F.col("bx")),
                F.abs(F.col("ay") - F.col("by")),
            )
            .cast("bigint")
            .alias("cheb"),
        )
    )


# ---------------------------------------------------------------------------
# grid-density clustering (DBSCAN shape: core cells + adjacency merge)
# ---------------------------------------------------------------------------

_GD_MINPTS = 4  # core-cell threshold


@register(
    "q_cluster_griddensity",
    oracle=f"""
    WITH RECURSIVE pts AS (
        SELECT DISTINCT user_id,
               (user_id % {_NEG_P}) * {_SP_AX} % {_NEG_P} % {_SP_SIDE} AS x,
               (user_id % {_NEG_P}) * {_SP_AY} % {_NEG_P} % {_SP_SIDE} AS y
        FROM events
    ),
    cells AS (
        SELECT x // {_SP_R} AS cx, y // {_SP_R} AS cy, count(*) AS n
        FROM pts GROUP BY 1, 2
    ),
    core AS (
        SELECT cx, cy, n, cx * 1000 + cy AS cell_id
        FROM cells WHERE n >= {_GD_MINPTS}
    ),
    pairs AS (
        SELECT a.cell_id AS src, b.cell_id AS dst
        FROM core a JOIN core b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
         AND a.cell_id < b.cell_id
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
    comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    g AS (
        SELECT core.cell_id, core.n,
               coalesce(comp.cluster_id, core.cell_id) AS cluster_id
        FROM core LEFT JOIN comp ON core.cell_id = comp.node
    )
    SELECT cluster_id, count(*) AS n_cells,
           CAST(sum(n) AS BIGINT) AS n_core_points
    FROM g GROUP BY 1 ORDER BY cluster_id
    """,
)
def q_cluster_griddensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering — the DBSCAN shape made distributed:
    bucket points into r-sided cells, keep cells with ≥ minPts points
    (core), merge 8-adjacent core cells into clusters via connected
    components, report per-cluster cell/point totals. This is how
    density clustering actually scales (GriDBSCAN / CLIQUE family):
    the expensive ε-neighborhood query collapses to integer cell
    arithmetic, adjacency is a tiny self-join on the CELL table
    (|cells| ≪ |points|), and only the cell graph — not the point
    set — is what merges. Same Lehmer-derived coordinates as
    q_spatial_join; the oracle states the closure as a recursive CTE
    (q_entity_resolution's pattern).

    Scale note on the merge step: the cell graph is bounded by GRID
    GEOMETRY — at most (side/r)² = 400 cells here — CONSTANT in the
    data size, so the merge is a driver-side union-find over a
    collected constant-size edge list (the same class of driver hop
    as collecting an aggregate scalar). A distributed min-label
    fixpoint here costs diameter-many rounds on a graph whose
    diameter GROWS with grid occupancy — scheduler rounds that grow
    with the data for a graph union-find resolves in microseconds.
    Everything data-sized stays distributed: two shuffles (cell
    count, adjacency join), then one broadcast mapping join."""
    pts = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            ((F.col("user_id") % _NEG_P) * _SP_AX % _NEG_P % _SP_SIDE).alias(
                "x"
            ),
            ((F.col("user_id") % _NEG_P) * _SP_AY % _NEG_P % _SP_SIDE).alias(
                "y"
            ),
        )
    )
    cells = (
        pts.select(
            F.expr(f"x div {_SP_R}").alias("cx"),
            F.expr(f"y div {_SP_R}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n"))
    )
    core = cells.filter(F.col("n") >= _GD_MINPTS).select(
        "cx", "cy", "n", (F.col("cx") * 1000 + F.col("cy")).alias("cell_id")
    )
    a, b = core.alias("a"), core.alias("b")
    pairs = a.join(
        b,
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
        & (F.col("a.cell_id") < F.col("b.cell_id")),
    ).select(F.col("a.cell_id").alias("src"), F.col("b.cell_id").alias("dst"))
    # constant-size collect (bounded by grid geometry, see docstring)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in pairs.collect():
        ra, rb = find(row["src"]), find(row["dst"])
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    mapping = [(int(c), int(find(c))) for c in parent]
    comp = spark.createDataFrame(mapping, "cell_id long, component long")
    g = core.join(F.broadcast(comp), "cell_id", "left").select(
        "cell_id",
        "n",
        F.coalesce("component", "cell_id").alias("cluster_id"),
    )
    return (
        g.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n").cast("bigint").alias("n_core_points"),
        )
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------

_NEY_BUDGET = 300        # total sample size
_NEY_QW = 1_000_000      # 1e-6 fixed point for N_h·σ_h weights


@register(
    "q_sample_neyman",
    oracle=f"""
    WITH base AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    strata AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(c) AS HUGEINT) AS s,
               sum(CAST(c AS HUGEINT) * c) AS ss
        FROM base GROUP BY 1
    ),
    wgt AS (
        SELECT event_type, n,
               CAST(round(sqrt(CAST(n * ss - s * s AS DOUBLE)
                               / (CAST(n AS DOUBLE) * (n - 1)))
                          * n * {_NEY_QW} / 1000000) AS BIGINT) AS w_q
        FROM strata WHERE n > 1
    ),
    tot AS (SELECT CAST(sum(w_q) AS BIGINT) AS sum_q FROM wgt),
    alloc AS (
        SELECT event_type, n, ({_NEY_BUDGET} * w_q) // sum_q AS quota
        FROM wgt, tot
    ),
    ranked AS (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY (event_id % {_NEG_P}) * {_NEG_A} % {_NEG_P},
                            event_id
               ) AS rn
        FROM base
    )
    SELECT r.event_type, CAST(r.rn AS BIGINT) AS rn, r.event_id,
           CAST(a.quota AS BIGINT) AS quota
    FROM ranked r JOIN alloc a USING (event_type)
    WHERE r.rn <= a.quota
    ORDER BY r.event_type, r.rn
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: the survey-statistics
    optimum — stratum h gets n_h ∝ N_h·σ_h of the budget, so volatile
    strata are oversampled and uniform ones barely sampled (minimum-
    variance estimate of the population mean at fixed cost; equal or
    proportional allocation wastes budget on low-variance strata).
    Discipline: per-stratum variance comes from exact HUGEINT moments,
    the single sqrt is IEEE-exact on identical inputs, each N_h·σ_h
    weight quantizes to 1e-6 fixed point BEFORE the normalizer sum
    (exact integer total), quotas are integer (B·w) div Σw, and the
    draw is the replayable k-smallest-Lehmer rank (q_temperature_mix's
    machinery — same shape, variance-weighted instead of
    temperature-weighted)."""
    c = cents("value")
    base = t(spark, sf_dir, "events").select(
        "event_id", "event_type", c.alias("c")
    )
    dec = "decimal(38,0)"
    strata = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c").cast(dec)).alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("ss"),
    )
    wgt = strata.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        F.round(
            F.sqrt(
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast(
                    "double"
                )
                / (F.col("n").cast("double") * (F.col("n") - 1))
            )
            * F.col("n")
            * _NEY_QW
            / 1_000_000
        )
        .cast("bigint")
        .alias("w_q"),
    )
    tot = wgt.agg(F.sum("w_q").cast("bigint").alias("sum_q"))
    alloc = wgt.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.expr(f"({_NEY_BUDGET} * w_q) div sum_q").alias("quota"),
    )
    ranked = base.select(
        "event_type",
        "event_id",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                (F.col("event_id") % _NEG_P) * _NEG_A % _NEG_P, "event_id"
            )
        )
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(alloc), "event_type")
        .filter(F.col("rn") <= F.col("quota"))
        .select(
            "event_type",
            F.col("rn").cast("bigint").alias("rn"),
            "event_id",
            F.col("quota").cast("bigint").alias("quota"),
        )
    )


# ---------------------------------------------------------------------------
# R1+ — leakage-safe temporal split (per-entity last-window holdout)
# ---------------------------------------------------------------------------

_TEMPORAL_HOLDOUT_US = 7 * 86400 * 1000000  # 7-day per-user holdout


@register(
    "q_split_temporal",
    oracle=f"""
    WITH bounds AS (
        SELECT user_id, max(epoch_us(ts)) AS max_us
        FROM events GROUP BY 1
    ),
    tagged AS (
        SELECT e.user_id,
               CASE WHEN epoch_us(e.ts) > b.max_us - {_TEMPORAL_HOLDOUT_US}
                    THEN 'test' ELSE 'train' END AS split,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN bounds b USING (user_id)
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS cents_total
    FROM tagged GROUP BY 1 ORDER BY split
    """,
)
def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split: each user's LAST 7 days of activity
    are the test window, everything earlier trains — the
    leakage-safe protocol for any model that predicts the future
    (q_split_stratified / q_split_xxhash split by hash, which is
    correct for iid generalization but silently leaks for temporal
    prediction: a hash split trains on Tuesday's events and tests on
    Monday's, so the model sees the future of every test row's user;
    production fraud models validated that way ship with inflated
    offline metrics — the reference's random split, main.py, has
    exactly this exposure for its sequence features). Anchoring the
    boundary per user (max ts − 7d) rather than globally keeps every
    user represented in both sides regardless of their activity span.
    One aggregate + one broadcast-back join; the boundary compare is
    exact integer epoch micros."""
    e = t(spark, sf_dir, "events")
    bounds = e.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("max_us")
    )
    tagged = e.join(F.broadcast(bounds), "user_id").select(
        "user_id",
        F.when(
            F.unix_micros("ts") > F.col("max_us") - _TEMPORAL_HOLDOUT_US,
            "test",
        )
        .otherwise("train")
        .alias("split"),
        cents("value").alias("cents"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cents_total"),
        )
    )


# ---------------------------------------------------------------------------
# R1+ — forward-looking label generation (no-time-travel contract)
# ---------------------------------------------------------------------------

_LABEL_HORIZON_US = 7 * 86400 * 1000000  # will-purchase-within-7d


@register(
    "q_future_label",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        FROM events
    ),
    nxt AS (
        SELECT user_id, event_id, event_type, us,
               min(CASE WHEN event_type = 'purchase' THEN us END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_purchase_us
        FROM ev
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_examples,
           CAST(sum(CASE WHEN next_purchase_us - us <= {_LABEL_HORIZON_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           CAST(sum(CASE WHEN next_purchase_us IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
    FROM nxt GROUP BY 1 ORDER BY user_id
    """,
)
def q_future_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking label generation: for every event, 'does this
    user purchase within the next 7 days?' — the label builder of
    every churn/conversion/fraud-outcome model, with the
    no-time-travel contract made structural: the label reads ONLY the
    forward window (min future purchase time via a 1-FOLLOWING →
    UNBOUNDED window) while features elsewhere read only the past, so
    label leakage cannot be introduced by a join mistake — it is
    impossible by construction. Rows with no future purchase are
    CENSORED, not negative-by-default (reported separately; collapsing
    them to negatives is the classic label bug that teaches the model
    'recent events never convert' — the same right-censoring
    q_survival_km handles formally). One user-partitioned window
    (group-bounded) + one aggregate; horizon compare in exact integer
    micros."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = e.select(
        "user_id",
        "event_id",
        "us",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(w).alias("next_purchase_us"),
    )
    return (
        nxt.groupBy("user_id")
        .agg(
            F.count("*").alias("n_examples"),
            F.sum(
                F.when(
                    F.col("next_purchase_us") - F.col("us") <= _LABEL_HORIZON_US,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_positive"),
            F.sum(F.when(F.col("next_purchase_us").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_censored"),
        )
    )
