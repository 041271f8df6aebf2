"""Graph queries (SURVEY.md §2.3 J4/J5, degree features, neighbor
aggregates) over the canonical events-derived edge list
(user → counterparty via props.k)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.operators.graph import (
    PR_BASE,
    PR_DAMPING_PCT,
    PR_ITERATIONS,
    PR_SCALE,
    SQL_CONTACT,
    SQL_EDGES,
    SQL_REPEAT_CONTACTS,
    pagerank_integer,
    aggregate_messages,
    clustering_coefficients,
    connected_components,
    common_neighbor_pairs,
    contact,
    contact_stats,
    degrees,
    edges_from_events,
    mirror,
    repeat_contacts,
    simple_graph,
    sql_mirror,
    sql_simple_graph,
)
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import t
from frauddetection_spark.sources import catalog


# ---------------------------------------------------------------------------
# degrees (graph feature tables)
# ---------------------------------------------------------------------------


@register(
    "q_graph_degrees",
    oracle=f"""
    WITH edges AS ({SQL_EDGES}),
    sides AS (
        SELECT src AS node, 1 AS is_out FROM edges
        UNION ALL
        SELECT dst AS node, 0 AS is_out FROM edges
    )
    SELECT node,
           CAST(sum(is_out) AS BIGINT) AS out_degree,
           CAST(sum(1 - is_out) AS BIGINT) AS in_degree,
           count(*) AS degree
    FROM sides GROUP BY node ORDER BY node
    """,
)
def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out/total degree (reference: nx degree loops over
    unique counterparties, data_process.py:131-138; intended semantics,
    not B9's last-write-wins weight). Single pass via edge explode."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    return degrees(e)


# ---------------------------------------------------------------------------
# J4 — common-neighbor self-join (buildLSN)
# ---------------------------------------------------------------------------


@register(
    "q_join_common_neighbor",
    oracle=f"""
    WITH c AS ({SQL_EDGES})
    SELECT a.src AS user_a, b.src AS user_b, count(*) AS n_common
    FROM c a JOIN c b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src
    HAVING count(*) >= 5
    ORDER BY user_a, user_b
    """,
)
def q_join_common_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User pairs sharing ≥5 counterparties — buildLSN's similarity
    graph (data_process.py:20-48). The reference's O(n²·set-intersect)
    loop becomes operators.graph.common_neighbor_pairs: a cost-based
    pick between an inverted-index self-join and packed contact
    bitmasks.

    The strategy stats come from a DRIVER-SIDE probe (pyarrow over the
    events parquet), held by the table catalog under the file's
    fingerprint — the ANALYZE-from-catalog pattern: at 100 TB these
    numbers live in the table catalog (ANALYZE / ingest-time stats),
    and the cost-based pick must not launch Spark jobs at
    plan-construction time (pinned by
    tests/test_scale_lint.py::test_zero_jobs_at_construction). A
    rewrite of events.parquet re-runs the probe."""
    path = os.path.join(sf_dir, "events.parquet")
    e = edges_from_events(t(spark, sf_dir, "events"))
    contacts = e.select(F.col("src").alias("user"), F.col("dst").alias("contact"))
    stats = catalog.stats(path, "contact_stats", lambda: contact_stats(path))
    return common_neighbor_pairs(contacts, min_common=5, stats=stats)


# ---------------------------------------------------------------------------
# J5 — gather-scatter message passing
# ---------------------------------------------------------------------------


@register(
    "q_graph_aggregate",
    oracle=f"""
    WITH edges AS ({SQL_EDGES}),
    node_vals AS (
        SELECT user_id AS id,
               CAST(round(CAST(sum(CAST(round(value * 100) AS BIGINT))
                               AS DOUBLE) / count(*) / 100 * 1000000)
                    AS BIGINT) AS val_q
        FROM events GROUP BY user_id
    )
    SELECT e.dst AS node,
           CAST(sum(v.val_q) AS DOUBLE) / 1000000 AS msg_sum,
           CAST(sum(v.val_q) AS DOUBLE) / count(*) / 1000000 AS msg_avg,
           count(*) AS n_msgs
    FROM edges e JOIN node_vals v ON e.src = v.id
    GROUP BY e.dst ORDER BY node
    """,
)
def q_graph_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message passing: per-dst aggregate of src node values (DGL
    update_all(copy_u/u_mul_e, sum), new_model_1.py:24-36; propagate
    src/layers.py:85-100). Node value = user's mean event value
    (exact-cents avg). This join+groupBy pair is the engine's
    GraphFrames-style aggregateMessages primitive."""
    events = t(spark, sf_dir, "events")
    e = edges_from_events(events)
    # node values quantized to int64 millionths: summing doubles across
    # neighbors is summation-order-dependent; summing ints is not
    node_vals = (
        events.groupBy(F.col("user_id").alias("id"))
        .agg(
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / F.count("*")
                / 100
                * 1_000_000
            )
            .cast("bigint")
            .alias("value")
        )
    )
    agg = aggregate_messages(e, node_vals)
    return agg.select(
        "node",
        (F.col("msg_sum").cast("double") / 1_000_000).alias("msg_sum"),
        (F.col("msg_sum").cast("double") / F.col("n_msgs") / 1_000_000).alias("msg_avg"),
        "n_msgs",
    )


# ---------------------------------------------------------------------------
# neighbor average degree (B1's *intended* semantics)
# ---------------------------------------------------------------------------


@register(
    "q_neighbor_avg_degree",
    oracle=f"""
    WITH edges AS ({SQL_EDGES}),
    und AS ({sql_mirror("edges")}),
    deg AS (SELECT src AS node, count(*) AS degree FROM und GROUP BY src)
    SELECT u.src AS node,
           CAST(sum(d.degree) AS DOUBLE) / count(*) AS neighbor_avg_degree,
           count(*) AS n_neighbors
    FROM und u JOIN deg d ON u.dst = d.node
    GROUP BY u.src ORDER BY node
    """,
)
def q_neighbor_avg_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean degree of a node's neighbors over the undirected graph —
    the *intended* semantics of the reference's neighbor-average-degree
    feature (data_process.py:141-144, bug B1 appends the node's own
    degree instead; SURVEY §0 policy: implement intended). Exact-int
    sum / count division keeps the oracle deterministic."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    und = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    deg = und.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("degree"))
    return (
        und.join(deg.select(F.col("node").alias("dst"), "degree"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(
            (F.sum("degree").cast("double") / F.count("*")).alias("neighbor_avg_degree"),
            F.count("*").alias("n_neighbors"),
        )
    )


# ---------------------------------------------------------------------------
# M2 — multi-round feature propagation (oracle form)
# ---------------------------------------------------------------------------


@register(
    "q_propagate_2round",
    oracle=f"""
    WITH edges AS ({SQL_EDGES}),
    vals AS (
        SELECT user_id AS id,
               CAST(round(CAST(sum(CAST(round(value * 100) AS BIGINT))
                               AS DOUBLE) / count(*) / 100 * 1000000)
                    AS BIGINT) AS val_q
        FROM events GROUP BY user_id
    ),
    r1 AS (
        SELECT e.dst AS id,
               CAST(round(CAST(sum(v.val_q) AS DOUBLE) / count(*))
                    AS BIGINT) AS h1q
        FROM edges e JOIN vals v ON e.src = v.id
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT e.dst AS id,
               CAST(sum(r.h1q) AS DOUBLE) / count(*) / 1000000 AS h2
        FROM edges e JOIN r1 r ON e.src = r.id
        GROUP BY e.dst
    )
    SELECT r1.id AS node,
           CAST(r1.h1q AS DOUBLE) / 1000000 AS h1,
           r2.h2 AS h2
    FROM r1 LEFT JOIN r2 ON r1.id = r2.id
    ORDER BY node
    """,
)
def q_propagate_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of mean-aggregate message passing (the relational
    core of the reference's gated graph conv, layers.py:85-100 /
    new_model_1.py:83-123; full pipeline in ml/pipeline.py). Round-1
    outputs are fixed-point-quantized before round 2 so the composed
    averages stay cross-engine exact. 2 join+agg shuffle pairs — the
    K-round cost model the 100-TB path checkpoints between."""
    events = t(spark, sf_dir, "events")
    e = edges_from_events(events)
    # quantize at every level: int sums are order-independent, and
    # scale-0 rounding of identical doubles is exact in both engines
    vals = events.groupBy(F.col("user_id").alias("id")).agg(
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / F.count("*")
            / 100
            * 1_000_000
        )
        .cast("bigint")
        .alias("val_q")
    )
    r1 = (
        e.join(vals.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(
            F.round(F.sum("val_q").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("h1q")
        )
    )
    r2 = (
        e.join(r1.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg((F.sum("h1q").cast("double") / F.count("*") / 1_000_000).alias("h2"))
    )
    return (
        r1.join(r2, "id", "left")
        .select(
            F.col("id").alias("node"),
            (F.col("h1q").cast("double") / 1_000_000).alias("h1"),
            F.col("h2").alias("h2"),
        )
    )


# ---------------------------------------------------------------------------
# clustering coefficient (reference per-slice feature)
# ---------------------------------------------------------------------------


@register(
    "q_clustering_coeff",
    oracle=f"""
    WITH edges AS ({SQL_EDGES}),
    und AS (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src != dst GROUP BY 1, 2
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
        ) GROUP BY node
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcount AS (
        SELECT node, count(*) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y AS node FROM tri
            UNION ALL SELECT z AS node FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS node, d.degree,
           CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN d.degree >= 2
                THEN CAST(2 * coalesce(t.triangles, 0) AS DOUBLE)
                     / (d.degree * (d.degree - 1))
                ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN tcount t ON d.node = t.node
    ORDER BY d.node
    """,
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — the reference computes
    this per user per window slice with networkx (nx.clustering,
    data_process.py:147-148); here the whole graph's coefficients come
    from one ordered wedge join + two aggregates (operators/graph.py::
    clustering_coefficients), fully distributed."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    cc = clustering_coefficients(e)
    return cc.select(
        "node", "degree", "triangles", "clustering_coeff"
    )


# ---------------------------------------------------------------------------
# J5 — edge-weighted message passing (u_mul_e)
# ---------------------------------------------------------------------------


@register(
    "q_graph_aggregate_weighted",
    oracle=f"""
    WITH pair_events AS (
        SELECT user_id AS src, {SQL_CONTACT} AS dst,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS n_purchase,
               count(*) AS n
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL
        GROUP BY 1, 2
    ),
    weighted_edges AS (
        SELECT src, dst,
               CASE WHEN 2 * n_purchase >= n THEN 1 ELSE -1 END AS w
        FROM pair_events
    ),
    node_vals AS (
        SELECT user_id AS id,
               CAST(round(CAST(sum(CAST(round(value * 100) AS BIGINT))
                               AS DOUBLE) / count(*) / 100 * 1000000)
                    AS BIGINT) AS val_q
        FROM events GROUP BY user_id
    )
    SELECT e.dst AS node,
           CAST(sum(e.w * v.val_q) AS DOUBLE) / 1000000 AS wmsg_sum,
           CAST(sum(CASE WHEN e.w = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_edges,
           count(*) AS n_msgs
    FROM weighted_edges e JOIN node_vals v ON e.src = v.id
    GROUP BY e.dst ORDER BY node
    """,
)
def q_graph_aggregate_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted message passing — DGL's update_all(u_mul_e, sum)
    with learned edge gates (new_model_2.py:27-30,156-161; signed
    calltype weights data_process.py:102-106 / B9). Edge weight ±1 by
    the pair's majority event type (deterministic integer rule); the
    message is weight × quantized source value. Same two-shuffle
    join+agg shape as the unweighted form, with the weight living as
    an edge-table column — 'edge data' in the engine is just columns
    on the edge list."""
    events = t(spark, sf_dir, "events")
    pair = (
        events.filter(contact().isNotNull())
        .groupBy(F.col("user_id").alias("src"), contact().alias("dst"))
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "n_purchase"
            ),
            F.count("*").alias("n"),
        )
    )
    weighted = pair.select(
        "src",
        "dst",
        F.when(2 * F.col("n_purchase") >= F.col("n"), 1).otherwise(-1).alias("w"),
    )
    node_vals = events.groupBy(F.col("user_id").alias("id")).agg(
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / F.count("*")
            / 100
            * 1_000_000
        )
        .cast("bigint")
        .alias("val_q")
    )
    msgs = weighted.join(node_vals.withColumnRenamed("id", "src"), "src")
    return (
        msgs.groupBy(F.col("dst").alias("node"))
        .agg(
            (F.sum(F.col("w") * F.col("val_q")).cast("double") / 1_000_000).alias(
                "wmsg_sum"
            ),
            F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos_edges"),
            F.count("*").alias("n_msgs"),
        )
    )


# ---------------------------------------------------------------------------
# connected components (iterative, oracle-checked fixpoint)
# ---------------------------------------------------------------------------


@register(
    "q_connected_components",
    oracle=f"""
    WITH RECURSIVE edges AS ({SQL_EDGES}),
    und AS ({sql_mirror("edges")}),
    nodes AS (
        SELECT DISTINCT src AS node FROM und
        UNION
        SELECT DISTINCT dst AS node FROM und
    ),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, und.dst
        FROM reach JOIN und ON und.src = reach.r
    )
    SELECT node, min(r) AS component
    FROM reach GROUP BY node ORDER BY node
    """,
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the events graph — the engine's
    iterative-algorithm surface (driver-side loop of join+groupBy-min
    rounds with convergence detection, operators/graph.py::
    connected_components). component = min reachable node id, a
    deterministic fixpoint, so the oracle can verify it via a
    recursive-CTE transitive closure. The closure is O(n·reach) and
    only viable at oracle scale; the propagation loop is
    O(diameter · |E|) and is the 100-TB path."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    return connected_components(e)


# ---------------------------------------------------------------------------
# J5/M2 — fixed-iteration PageRank (integer-exact, oracle-unrolled)
# ---------------------------------------------------------------------------



def _pagerank_oracle() -> str:
    """DuckDB twin of pagerank_integer: the SAME integer recurrence
    unrolled to PR_ITERATIONS rounds as chained CTEs (DuckDB // == Spark
    div on non-negative int64)."""
    sql = f"""
    WITH edges AS ({SQL_EDGES}),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst AS node FROM edges
        )
    ),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank_micro FROM nodes)"""
    for k in range(1, PR_ITERATIONS + 1):
        sql += f""",
    s{k} AS (
        SELECT e.dst AS node, sum(r.rank_micro // o.outdeg) AS s
        FROM edges e
        JOIN outdeg o ON e.src = o.src
        JOIN r{k - 1} r ON e.src = r.node
        GROUP BY e.dst
    ),
    r{k} AS (
        SELECT n.node,
               CAST({PR_BASE} + ({PR_DAMPING_PCT} * COALESCE(s.s, 0)) // 100
                    AS BIGINT) AS rank_micro
        FROM nodes n LEFT JOIN s{k} s ON n.node = s.node
    )"""
    sql += f"""
    SELECT node, rank_micro FROM r{PR_ITERATIONS} ORDER BY node
    """
    return sql


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the call graph in exact int64
    micro-units (reference: iterative score propagation,
    src/layers.py:85-100, reshaped from per-node python to per-round
    join+agg). Integer div/sum keeps every round engine-exact, so the
    unrolled DuckDB twin hash-matches; see
    operators/graph.py::pagerank_integer for the scale shape."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    return pagerank_integer(e)


# ---------------------------------------------------------------------------
# J4+ — global triangle census (degree-ordered orientation)
# ---------------------------------------------------------------------------


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH e AS ({SQL_EDGES}),
    und AS ({sql_simple_graph("e")}),
    ori AS (SELECT src, dst FROM und WHERE src < dst),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM ori a
        JOIN ori b ON a.src = b.src AND a.dst < b.dst
        JOIN ori c ON c.src = a.dst AND c.dst = b.dst
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY 1),
    wed AS (
        SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
           w.n_wedges,
           CAST(3 * t.n_triangles AS DOUBLE) / w.n_wedges
               AS global_clustering
    FROM tri t, wed w
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census: exact triangle count, wedge (open
    2-path) count, and the global clustering coefficient 3T/W — the
    whole-graph sibling of the reference's per-node nx.clustering
    (data_process.py:147-148, q_clustering_coeff). The Spark plan uses
    DEGREE-ORDERED edge orientation (each undirected edge directed from
    its lower-(degree, id) endpoint): every triangle is produced by
    exactly one wedge-at-the-smallest-rank-node, and hub fan-out in the
    wedge self-join is bounded by Σ min(d_u, d_v)² instead of Σ d² —
    the standard trick that keeps triangle counting feasible on
    power-law graphs. The count is orientation-invariant, so the
    oracle's simpler id-ordered SQL produces the identical number."""
    # und feeds the degree table + the orientation join, deg is probed
    # 3× and ori 3× (both wedge sides + the closing edge) — persist
    # them or the edge derivation replays per reference (20 parquet
    # scans / 48 exchanges in the executed plan without them; the
    # replay, not the wedge join, is the cost that grows with data).
    und = track_cache(
        simple_graph(edges_from_events(t(spark, sf_dir, "events"))).persist()
    )
    deg = track_cache(
        und.groupBy("src")
        .agg(F.count("*").alias("d"))
        .select(F.col("src").alias("node"), "d")
        .persist()
    )
    # rank = (degree, id); orient each undirected edge low-rank -> high
    ranked = (
        und.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "ds")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("dd")),
            "dst",
        )
    )
    ori = track_cache(
        ranked.filter(F.struct("ds", "src") < F.struct("dd", "dst"))
        .select("src", "dst", "dd")
        .persist()
    )
    a = ori.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("dd").alias("rv"),
    )
    b = ori.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("dd").alias("rw"),
    )
    wedges = a.join(b, "u").filter(
        F.struct("rv", "v") < F.struct("rw", "w")
    )
    closing = ori.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count("*").alias("n_triangles")
    )
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        "n_wedges",
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.col("n_wedges")
        ).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# J5+ — multi-source BFS, K hops unrolled
# ---------------------------------------------------------------------------

BFS_SEED_MOD = 50
BFS_HOPS = 3


@register(
    "q_bfs_levels",
    oracle=f"""
    WITH e AS ({SQL_EDGES}),
    und AS ({sql_mirror("e")}),
    l0 AS (
        SELECT DISTINCT src AS node FROM und WHERE src % {BFS_SEED_MOD} = 0
    ),
    l1 AS (
        SELECT DISTINCT u.dst AS node
        FROM l0 JOIN und u ON u.src = l0.node
    ),
    l2 AS (
        SELECT DISTINCT u.dst AS node
        FROM l1 JOIN und u ON u.src = l1.node
    ),
    l3 AS (
        SELECT DISTINCT u.dst AS node
        FROM l2 JOIN und u ON u.src = l2.node
    ),
    lv AS (
        SELECT node, 0 AS level FROM l0
        UNION ALL SELECT node, 1 FROM l1
        UNION ALL SELECT node, 2 FROM l2
        UNION ALL SELECT node, 3 FROM l3
    )
    SELECT node, CAST(min(level) AS INTEGER) AS level
    FROM lv GROUP BY node ORDER BY node
    """,
)
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS, K=3 hops unrolled: shortest hop distance (≤3)
    from a seed set (every 50th node) over the undirected contact
    graph — the neighborhood-expansion primitive behind fraud-ring
    blast-radius checks. Fixed-K unrolling keeps it a pure dataflow
    plan (K joins, no driver-side loop — unlike connected_components'
    data-dependent fixpoint) AND oracle-expressible as chained CTEs.
    Each frontier is distinct-ed before the next expansion, so the
    shuffle carries node ids, not paths; min(level) resolves
    multi-path reach. At 100 TB this is K co-partitioned joins on the
    edge key."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    # und is probed once per hop plus the seed filter, and each
    # level's lineage chains every earlier hop — without persists the
    # final union re-derives hop k for every level ≥ k (20 parquet
    # scans / 43 exchanges in the executed plan). Persist the
    # edge set once and each (node-id-only) frontier.
    und = track_cache(mirror(e).persist())
    l0 = (
        und.filter(F.col("src") % BFS_SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    levels = [l0.withColumn("level", F.lit(0))]
    frontier = l0
    for k in range(1, BFS_HOPS + 1):
        frontier = track_cache(
            frontier.join(und, frontier["node"] == und["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .persist()
        )
        levels.append(frontier.withColumn("level", F.lit(k)))
    lv = levels[0]
    for nxt in levels[1:]:
        lv = lv.unionAll(nxt)
    return (
        lv.groupBy("node")
        .agg(F.min("level").cast("int").alias("level"))
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed peels, J5/A2 family)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_PEELS = 3


def _kcore_sql() -> str:
    """Unrolled-CTE oracle: KCORE_PEELS rounds of degree-filter-restrict
    over the undirected self-loop-free edge set (same unroll discipline
    as the PageRank oracle)."""
    sql = f"""
    WITH dir AS ({SQL_EDGES}),
    e0 AS ({sql_simple_graph("dir")})"""
    for i in range(KCORE_PEELS):
        sql += f""",
    d{i} AS (SELECT src, count(*) AS d FROM e{i} GROUP BY 1),
    k{i} AS (SELECT src AS node FROM d{i} WHERE d >= {KCORE_K}),
    e{i + 1} AS (
        SELECT u.src, u.dst FROM e{i} u
        JOIN k{i} a ON u.src = a.node
        JOIN k{i} b ON u.dst = b.node
    )"""
    sql += f"""
    SELECT src AS node, count(*) AS degree
    FROM e{KCORE_PEELS} GROUP BY 1 ORDER BY node
    """
    return sql


@register(
    "q_kcore",
    oracle=_kcore_sql(),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_PEELS}-round k-core peel (k={KCORE_K}): repeatedly drop
    nodes of degree < k and the edges touching them — the standard
    community/fraud-ring core extraction (reference graphs stop at
    plain degree features, data_process.py:131-144; the peel is the
    natural next step). Fixed peel count keeps the oracle an unrolled
    CTE; the full fixpoint would use the same loop with a convergence
    check like connected_components. Scale: on the
    MIRRORED edge set, deg(node) is count(*) over (partition by src),
    and "both endpoints survive" is exactly deg(src) >= k AND
    deg(dst) >= k — so each round is Exchange(dst) -> Window ->
    Exchange(src) -> Window -> Filter, a LINEAR key-partitioned plan
    in which each round references its predecessor ONCE. That kills
    the old double-reference (degree aggregate + two semi-joins on a
    keep set) at the source: no per-round persist, no aux keep frame,
    no broadcast materializations — the old shape ran 26 AQE jobs per
    execution at sf0.01, almost all of it scheduler overhead that does
    not grow with data; windows-in-rounds runs 10.
    Round order (dst then src) ends each round partitioned by src, so
    the final degree aggregate adds no extra shuffle. Skew trade-off,
    stated honestly: a hub node's window group is a single task (AQE
    cannot split a window partition the way it splits a skewed
    sort-merge join), mitigated by the count-only frame spilling via
    the unsafe-row buffer; if hub skew ever dominated a deployment,
    the earlier degree-aggregate + AQE-skew-splittable semi-join shape
    is the drop-in fallback — same oracle, one persist per round."""
    und = simple_graph(edges_from_events(t(spark, sf_dir, "events")))
    w_src = Window.partitionBy("src")
    w_dst = Window.partitionBy("dst")
    # (guide §2.4 "two operations keyed the same way share one
    # exchange"): the two per-round windows are order-independent —
    # both count over the SAME pre-filter edge set — but each round
    # used to run (dst-window, src-window) unconditionally, so every
    # round OPENED with an Exchange(dst) even though the previous
    # round CLOSED partitioned by src. Alternating which window runs
    # first makes each round's first window reuse the partitioning the
    # previous round ended on (Filter/Project preserve hash
    # partitioning, so EnsureRequirements inserts no exchange):
    # 2 exchanges for round 1, then 1 per round — 10 → 6 window
    # exchanges / stage barriers for the 5 peels. Round count stays
    # odd-ended on src, so the final degree aggregate still reuses the
    # last round's partitioning. Results are identical: both degrees
    # are computed over the same e_i regardless of column order.
    for i in range(KCORE_PEELS):
        first, second = (
            ((w_dst, "d_dst"), (w_src, "d_src"))
            if i % 2 == 0
            else ((w_src, "d_src"), (w_dst, "d_dst"))
        )
        und = (
            und.withColumn(first[1], F.count(F.lit(1)).over(first[0]))
            .withColumn(second[1], F.count(F.lit(1)).over(second[0]))
            .filter(
                (F.col("d_src") >= KCORE_K) & (F.col("d_dst") >= KCORE_K)
            )
            .select("src", "dst")
        )
    return (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("degree"))
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (2 unrolled iterations, exact-int)
# ---------------------------------------------------------------------------


@register(
    "q_hits",
    oracle=f"""
    WITH e AS ({SQL_EDGES}),
    h1 AS (SELECT src, count(*) AS h FROM e GROUP BY 1),
    a2 AS (
        SELECT e.dst AS node, CAST(sum(h1.h) AS BIGINT) AS auth
        FROM e JOIN h1 ON e.src = h1.src GROUP BY 1
    ),
    h3 AS (
        SELECT e.src AS node, CAST(sum(a2.auth) AS BIGINT) AS hub
        FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1
    ),
    nodes AS (
        SELECT COALESCE(h3.node, a2.node) AS node,
               COALESCE(h3.hub, 0) AS hub,
               COALESCE(a2.auth, 0) AS auth
        FROM h3 FULL JOIN a2 ON h3.node = a2.node
    ),
    mx AS (
        SELECT max(hub) AS max_hub, max(auth) AS max_auth FROM nodes
    )
    SELECT node, hub, auth,
           CAST(hub AS DOUBLE) / max_hub AS hub_norm,
           CAST(auth AS DOUBLE) / max_auth AS auth_norm
    FROM nodes CROSS JOIN mx
    ORDER BY node
    """,
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, two unrolled power iterations from a
    uniform start — in a fraud graph, high-authority nodes collect
    edges from many well-connected callers (mule accounts), high-hub
    nodes fan out to many authorities (distributors). With a₀ = 1 the
    iterates stay EXACT INTEGERS (auth₁ = Σ outdeg of in-neighbors,
    hub₂ = Σ auth₁ of out-neighbors) so normalization is one double
    division by the integer max — no order-dependent float sums, both
    engines agree bit-for-bit. Scale: each half-iteration is one
    key-partitioned join + aggregate on the edge list (the same
    gather/scatter shape as q_propagate_2round); max comes from a
    broadcast single-row aggregate, never a global window."""
    # persisted (the q_graph_jaccard und precedent): the edge build
    # ends in a distinct SHUFFLE and feeds h1, the a2 join and the h3
    # join — unpersisted, that shuffle replays up to three times
    e = track_cache(
        edges_from_events(t(spark, sf_dir, "events")).persist()
    )
    h1 = e.groupBy("src").agg(F.count("*").alias("h"))
    # persisted: node-sized; both the h3 gather and the full_outer
    # below read it
    a2 = track_cache(
        e.join(h1, "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("h").cast("bigint").alias("auth"))
        .persist()
    )
    h3 = (
        e.join(a2, e.dst == a2.node)
        .groupBy(F.col("src").alias("hnode"))
        .agg(F.sum("auth").cast("bigint").alias("hub"))
    )

    # persisted: the max-aggregate and the output projection both read
    # this frame; without one materialization the two join rounds run
    # twice (tracked → released on next query construction)
    nodes = track_cache(
        h3.join(a2, h3.hnode == a2.node, "full_outer")
        .select(
            F.coalesce("hnode", "node").alias("node"),
            F.coalesce("hub", F.lit(0)).alias("hub"),
            F.coalesce("auth", F.lit(0)).alias("auth"),
        )
        .persist()
    )
    mx = nodes.agg(
        F.max("hub").alias("max_hub"), F.max("auth").alias("max_auth")
    )
    return (
        nodes.crossJoin(F.broadcast(mx))
        .select(
            "node",
            "hub",
            "auth",
            (F.col("hub").cast("double") / F.col("max_hub")).alias("hub_norm"),
            (F.col("auth").cast("double") / F.col("max_auth")).alias(
                "auth_norm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# neighborhood Jaccard similarity of connected pairs
# ---------------------------------------------------------------------------


@register(
    "q_graph_jaccard",
    oracle=f"""
    WITH dir AS ({SQL_EDGES}),
    und AS ({sql_simple_graph("dir")}),
    deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY 1),
    pairs AS (
        SELECT a.src AS u, b.src AS v, count(*) AS cn
        FROM und a JOIN und b
          ON a.dst = b.dst AND a.src < b.src
        GROUP BY 1, 2
    ),
    edge_pairs AS (
        SELECT p.u, p.v, p.cn FROM pairs p
        SEMI JOIN und e ON p.u = e.src AND p.v = e.dst
    )
    SELECT u, v, CAST(cn AS BIGINT) AS cn,
           CAST(cn AS DOUBLE) / (da.d + db.d - cn) AS jaccard
    FROM edge_pairs
    JOIN deg da ON edge_pairs.u = da.node
    JOIN deg db ON edge_pairs.v = db.node
    ORDER BY u, v
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity |N(u)∩N(v)| / |N(u)∪N(v)| for
    each CONNECTED pair — the edge-strength measure behind graph
    sparsification and tie-strength features (an edge whose endpoints
    share most of their neighborhoods is a strong intra-community tie;
    a fraud ring's internal edges score high).

    Scale: cn(u,v) for a connected pair is exactly the number of
    triangles on edge (u,v), so instead of the naive wedge self-join
    (Σ d(w)² rows — hub-dominated, the shape that blew q_adamic_adar
    to 14s before its cap) the plan enumerates each triangle ONCE via
    degree-ordered orientation (the q_graph_triangles trick: wedge
    fan-out bounded by Σ min-degree², immune to hubs) and explodes it
    into its 3 edges; one groupBy(edge) yields every cn EXACTLY — no
    approximation, no cap needed. The oracle keeps the naive wedge SQL
    (same semantics; DuckDB's hash joins handle the small-sf sizes),
    pinning that both formulations agree. Jaccard is one exact-int
    division cn/(dᵤ+dᵥ−cn) per surviving edge."""
    # und feeds deg + the orientation join, deg is probed 4× and ori
    # 3× (both wedge sides + the closing edge) — without persists the
    # whole edge derivation replays per reference (executed plan: 22
    # parquet scans, 53 exchanges, zero reuse without the three
    # persists).
    und = track_cache(
        simple_graph(edges_from_events(t(spark, sf_dir, "events"))).persist()
    )
    deg = track_cache(
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("d"))
        .persist()
    )
    # degree-ordered orientation: low-(degree, id) endpoint -> high
    ranked = (
        und.join(deg.select(F.col("node").alias("src"), "d"), "src")
        .withColumnRenamed("d", "ds")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("dd")),
            "dst",
        )
    )
    ori = track_cache(
        ranked.filter(F.struct("ds", "src") < F.struct("dd", "dst"))
        .select("src", "dst", "dd")
        .persist()
    )
    a_side = ori.select(
        F.col("src").alias("x"), F.col("dst").alias("y"), F.col("dd").alias("ry")
    )
    b_side = ori.select(
        F.col("src").alias("x"), F.col("dst").alias("z"), F.col("dd").alias("rz")
    )
    wedges = a_side.join(b_side, "x").filter(
        F.struct("ry", "y") < F.struct("rz", "z")
    )
    closing = ori.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    triangles = wedges.join(closing, ["y", "z"]).select("x", "y", "z")
    # each triangle closes all 3 of its edges; canonicalize (u < v by id)
    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
                ),
                F.struct(
                    F.least("x", "z").alias("u"), F.greatest("x", "z").alias("v")
                ),
                F.struct(
                    F.least("y", "z").alias("u"), F.greatest("y", "z").alias("v")
                ),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    edge_pairs = tri_edges.groupBy("u", "v").agg(F.count("*").alias("cn"))
    return (
        edge_pairs.join(deg.select(F.col("node").alias("u"), F.col("d").alias("da")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("db")), "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("bigint").alias("cn"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over NON-edges
# ---------------------------------------------------------------------------

_AA_Q = 1_000_000_000  # 1e-9 fixed point for order-independent term sums
_AA_MAX_CENTER_DEG = 128  # hub-center prune: wedges through hubs excluded


@register(
    "q_adamic_adar",
    oracle=f"""
    WITH dir AS ({SQL_EDGES}),
    und AS ({sql_simple_graph("dir")}),
    deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY 1),
    centers AS (
        SELECT node, d FROM deg WHERE d <= {_AA_MAX_CENTER_DEG}
    ),
    cedge AS (
        SELECT e.src, e.dst, c.d
        FROM und e JOIN centers c ON e.dst = c.node
    ),
    terms AS (
        SELECT a.src AS u, b.src AS v,
               CAST(round({_AA_Q} / ln(a.d)) AS BIGINT) AS term_q
        FROM cedge a JOIN cedge b
          ON a.dst = b.dst AND a.src < b.src
    ),
    scored AS (
        SELECT u, v, count(*) AS cn,
               CAST(sum(term_q) AS BIGINT) AS aa_q
        FROM terms GROUP BY 1, 2
    )
    SELECT s.u, s.v, CAST(s.cn AS BIGINT) AS cn,
           CAST(s.aa_q AS DOUBLE) / {_AA_Q} AS adamic_adar
    FROM scored s
    ANTI JOIN und e ON s.u = e.src AND s.v = e.dst
    ORDER BY s.u, s.v
    """,
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: score each NON-connected pair that
    shares neighbors by Σ_w 1/ln(deg(w)) — rare shared neighbors count
    more than hubs. This is the candidate-edge ranking behind "accounts
    likely in the same ring" alerts. Per-wedge terms are quantized to
    1e-9 fixed point BEFORE the per-pair sum (float addition order
    differs between engines; int sums don't — the q_metric_ap
    pattern), and predicted pairs exclude existing edges via an anti
    join. Wedge centers always have deg ≥ 2 so ln(d) > 0.

    Scale: the wedge self-join is Σ d(w)² over CENTER degrees — the
    one super-linear term — so centers are degree-capped at τ=128
    BEFORE the self-join (hub pruning, the standard link-prediction
    lever: a hub's 1/ln(d) term is the smallest and a hub co-neighbor
    is the weakest relatedness evidence, yet hubs alone carry ~95% of
    wedge volume in skewed graphs — at sf0.1 the cap cuts 60M wedges
    to 3.4M; sf0.01's max degree is under the cap, so small-scale
    results are the exact uncapped scores). The capped degree joins
    INTO the edge list first, so each wedge row carries its center
    degree and no post-join weighting pass touches the wedge set."""
    # und is probed 3× (degrees, capped-edge join, final anti join)
    # and cedge 2× (both wedge sides) — persist both or the edge
    # derivation replays per reference (executed plan: 10
    # parquet scans, 23 exchanges, zero reuse without the persists).
    und = track_cache(
        simple_graph(edges_from_events(t(spark, sf_dir, "events"))).persist()
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    centers = deg.filter(F.col("d") <= _AA_MAX_CENTER_DEG)
    cedge = track_cache(
        und.join(centers.select(F.col("node").alias("dst"), "d"), "dst")
        .persist()
    )
    a = cedge.select(F.col("src").alias("u"), F.col("dst").alias("w"), "d")
    b = cedge.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    terms = (
        a.join(b, "w")
        .filter(F.col("u") < F.col("v"))
        .select(
            "u",
            "v",
            F.round(F.lit(_AA_Q) / F.log(F.col("d"))).cast("bigint").alias(
                "term_q"
            ),
        )
    )
    scored = terms.groupBy("u", "v").agg(
        F.count("*").alias("cn"), F.sum("term_q").cast("bigint").alias("aa_q")
    )
    return (
        scored.join(
            und.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .select(
            "u",
            "v",
            F.col("cn").cast("bigint").alias("cn"),
            (F.col("aa_q").cast("double") / F.lit(_AA_Q)).alias("adamic_adar"),
        )
    )


# ---------------------------------------------------------------------------
# recursive CTE — bounded transitive closure (SQL surface)
# ---------------------------------------------------------------------------

_TC_SEEDS = 5   # seed users: src < this
_TC_DEPTH = 3   # hop bound


@register(
    "q_recursive_cte",
    oracle=f"""
    WITH RECURSIVE edges AS ({SQL_EDGES}),
    r AS (
        SELECT src AS seed, dst AS node, 1 AS d
        FROM edges WHERE src < {_TC_SEEDS}
        UNION ALL
        SELECT r.seed, e.dst, r.d + 1
        FROM r JOIN edges e ON r.node = e.src
        WHERE r.d < {_TC_DEPTH}
    )
    SELECT seed, node, CAST(min(d) AS BIGINT) AS min_depth
    FROM r GROUP BY seed, node ORDER BY seed, node
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE transitive closure — nodes reachable within
    {_TC_DEPTH} hops of each seed user with their minimum hop depth,
    stated as the SAME recursive-CTE SQL text in Spark 4 and DuckDB
    (the warehouse-portability surface, complementing the unrolled
    q_bfs_levels which predates engine recursion support). Recursion
    is DEPTH-BOUNDED in the WHERE clause, so cycles terminate by
    construction and the row count is bounded by Σ deg^{_TC_DEPTH}
    over the seed frontier — the same bound an unrolled join chain
    has; min(d) collapses revisits. At 100 TB the seed predicate is
    the scale lever: closure from a small suspect set, never the full
    node set.

    Plan note: Spark's recursive execution re-evaluates every
    non-recursive CTE it references PER ITERATION — with `edges` as a
    CTE the DISTINCT json-extract scan ran once per hop. The edge
    list is therefore a cached frame — the same move a 100-TB closure
    makes: derive the edge relation once, iterate over the
    materialization. It is passed as a ``spark.sql`` argument, whose
    view lives only while the text is analyzed, so no session view is
    replaced. The RECURSIVE body is textually identical to the DuckDB
    twin; only the edges derivation moved out front."""
    edges = edges_from_events(t(spark, sf_dir, "events"))
    closure = spark.sql(
        f"""
        WITH RECURSIVE r AS (
            SELECT src AS seed, dst AS node, 1 AS d
            FROM {{edges}} WHERE src < {_TC_SEEDS}
            UNION ALL
            SELECT r.seed, e.dst, r.d + 1
            FROM r JOIN {{edges}} e ON r.node = e.src
            WHERE r.d < {_TC_DEPTH}
        )
        SELECT seed, node, CAST(min(d) AS BIGINT) AS min_depth
        FROM r GROUP BY seed, node
        """,
        edges=edges,
    )
    # persisted after the call: dropping the argument's view uncaches
    # its plan, and the closure picks the cache up when it is optimized
    track_cache(edges.persist())
    return closure


# ---------------------------------------------------------------------------
# personalized PageRank (seed-restarted, exact-int, unrolled)
# ---------------------------------------------------------------------------

_PPR_SEED_MOD = 25      # seeds: node % this == 0
_PPR_SCALE = 1_000_000  # rank micro-units
_PPR_D = 85             # damping percent
_PPR_ITER = 2           # unrolled iterations (oracle = chained CTEs)


def _ppr_sql() -> str:
    restart = f"(100 - {_PPR_D}) * {_PPR_SCALE} // 100"
    sql = f"""
    WITH e AS ({SQL_EDGES}),
    nodes AS (
        SELECT DISTINCT src AS node FROM e
        UNION SELECT DISTINCT dst FROM e
    ),
    od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
    r0 AS (
        SELECT node,
               CASE WHEN node % {_PPR_SEED_MOD} = 0
                    THEN {_PPR_SCALE} ELSE 0 END AS r
        FROM nodes
    )"""
    for i in range(_PPR_ITER):
        sql += f""",
    s{i + 1} AS (
        SELECT e.dst AS node,
               CAST(sum(r{i}.r // od.outdeg) AS BIGINT) AS m
        FROM e JOIN od USING (src) JOIN r{i} ON r{i}.node = e.src
        WHERE r{i}.r > 0
        GROUP BY 1
    ),
    r{i + 1} AS (
        SELECT n.node,
               CASE WHEN n.node % {_PPR_SEED_MOD} = 0
                    THEN {restart} ELSE 0 END
               + {_PPR_D} * COALESCE(s{i + 1}.m, 0) // 100 AS r
        FROM nodes n LEFT JOIN s{i + 1} ON n.node = s{i + 1}.node
    )"""
    sql += f"""
    SELECT node, CAST(r AS BIGINT) AS ppr_micro
    FROM r{_PPR_ITER} WHERE r > 0 ORDER BY node
    """
    return sql


@register(
    "q_ppr",
    oracle=_ppr_sql(),
)
def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set (every {MOD}th node),
    {K} unrolled iterations: restart mass returns to the SEEDS instead
    of spreading uniformly, so rank measures proximity to the suspect
    set — the guilt-by-association scorer behind fraud-ring expansion
    and related-account retrieval (global q_pagerank answers "globally
    important"; PPR answers "close to THESE"). Same exact-int
    discipline as pagerank_integer: micro-unit ranks, div-by-outdeg
    then damp as integer ops — engine-exact, so the unrolled CTE twin
    hash-matches (rank products stay < 2⁶³ here; a 100-TB graph
    carries the sums in decimal(38,0)). Scale: the frontier filter
    (r > 0) keeps early rounds proportional to the seed neighborhood,
    not the node set — the locality that makes PPR the cheap variant;
    each round is one src-keyed join + one dst-keyed partial-agg sum
    against the static (edge ⋈ outdeg) build."""
    # e is read 4× (both node-set branches + both sides of the outdeg
    # join), and nodes/eo are probed once per unrolled iteration —
    # persist all three or the edge derivation replays per reference
    # (10 parquet scans / 24 exchanges in the executed plan)
    e = track_cache(edges_from_events(t(spark, sf_dir, "events")).persist())
    nodes = track_cache(
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .persist()
    )
    eo = track_cache(
        e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")), "src")
        .select("src", "dst", "outdeg")
        .persist()
    )
    restart = F.when(
        F.col("node") % _PPR_SEED_MOD == 0,
        F.lit((100 - _PPR_D) * _PPR_SCALE // 100),
    ).otherwise(0)
    r = nodes.select(
        "node",
        F.when(F.col("node") % _PPR_SEED_MOD == 0, F.lit(_PPR_SCALE))
        .otherwise(0)
        .alias("r"),
    )
    for _ in range(_PPR_ITER):
        inc = (
            eo.join(
                r.filter(F.col("r") > 0).select(
                    F.col("node").alias("src"), "r"
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), F.expr("r div outdeg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("m"))
        )
        r = nodes.join(inc, "node", "left").select(
            "node",
            (
                restart
                + F.expr(f"{_PPR_D} * coalesce(m, 0) div 100")
            ).alias("r"),
        )
    return (
        r.filter(F.col("r") > 0)
        .select("node", F.col("r").cast("bigint").alias("ppr_micro"))
    )


# ---------------------------------------------------------------------------
# directed 3-cycle (money-loop) census
# ---------------------------------------------------------------------------

_CYC_MAX_PIVOT_DEG = 256  # hub pivots excluded from loop enumeration


@register(
    "q_money_loops",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT src, dst FROM ({SQL_EDGES}) WHERE src <> dst
    ),
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e
        ) GROUP BY 1
    ),
    ok AS (SELECT node FROM deg WHERE d <= {_CYC_MAX_PIVOT_DEG}),
    ce AS (
        SELECT e.src, e.dst FROM e
        SEMI JOIN ok a ON e.src = a.node
        SEMI JOIN ok b ON e.dst = b.node
    ),
    cyc AS (
        SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        FROM ce ab
        JOIN ce bc ON ab.dst = bc.src
        JOIN ce ca ON bc.dst = ca.src AND ca.dst = ab.src
        WHERE ab.src < ab.dst AND ab.src < bc.dst
    )
    SELECT a AS node, count(*) AS n_loops
    FROM cyc GROUP BY 1 ORDER BY node
    """,
)
def q_money_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-cycle census — money-loop detection: A pays B pays C
    pays A, the minimal layering/round-tripping structure AML systems
    alert on (legitimate payment flows are overwhelmingly acyclic;
    short directed cycles concentrate in collusion rings). Each cycle is
    counted once via the canonical minimum-id rotation (a < b, a < c)
    and reported per canonical node. Scale: the two-hop join's volume
    is Σ_pivot in·out — hub-quadratic — so nodes above degree τ={τ}
    are excluded from LOOP ENUMERATION in both twins (a hub pivot is
    an exchange/mixer: its risk signal is its degree, flagged by
    q_graph_degrees, not membership in 10⁶ incidental triangles —
    the q_adamic_adar capping policy). Below the cap the join is
    bounded by τ·|edges|."""
    # e is read 3× (both union branches of the degree count + the
    # capped edge list) and ce 3× (the three cycle hops) — persist
    # both or the edge derivation replays per reference (15 parquet
    # scans / 31 exchanges without them).
    e = track_cache(
        edges_from_events(t(spark, sf_dir, "events"))
        .filter(F.col("src") != F.col("dst"))
        .persist()
    )
    deg = (
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    ok = deg.filter(F.col("d") <= _CYC_MAX_PIVOT_DEG).select("node")
    ce = track_cache(
        e.join(ok.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(ok.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .persist()
    )
    ab = ce.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = ce.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ca = ce.select(F.col("src").alias("c"), F.col("dst").alias("a2"))
    cyc = (
        ab.join(bc, "b")
        .filter((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
        .join(ca, "c")
        .filter(F.col("a2") == F.col("a"))
    )
    return (
        cyc.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("n_loops"))
    )


# ---------------------------------------------------------------------------
# deterministic random-walk corpus (DeepWalk/node2vec preprocessing)
# ---------------------------------------------------------------------------

_RW_SEED_MOD = 10   # seeds: node % this == 0
_RW_WALKS = 2       # walks per seed
_RW_LEN = 3         # steps per walk
_RW_P = 2_147_483_647
_RW_A = 48_271
_RW_B1 = 7_919      # walk salt
_RW_B2 = 104_729    # step salt


def _rw_sql() -> str:
    sql = f"""
    WITH e AS ({SQL_EDGES}),
    ranked AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
               count(*) OVER (PARTITION BY src) AS deg
        FROM e
    ),
    seeds AS (
        SELECT DISTINCT src AS node FROM e WHERE src % {_RW_SEED_MOD} = 0
    ),
    w0 AS (
        SELECT node AS seed, w.w AS walk, 0 AS step, node
        FROM seeds
        CROSS JOIN (SELECT unnest(generate_series(0, {_RW_WALKS - 1})) AS w)
            AS w
    )"""
    for i in range(_RW_LEN):
        sql += f""",
    w{i + 1} AS (
        SELECT p.seed, p.walk, {i + 1} AS step, r.dst AS node
        FROM w{i} p JOIN ranked r ON r.src = p.node
        WHERE r.rn = ((p.node % {_RW_P}) * {_RW_A}
                      + p.walk * {_RW_B1} + {i + 1} * {_RW_B2})
                     % {_RW_P} % r.deg
    )"""
    union = "\n        UNION ALL\n        ".join(
        f"SELECT seed, walk, step, node FROM w{i}"
        for i in range(_RW_LEN + 1)
    )
    sql += f"""
    SELECT seed, CAST(walk AS BIGINT) AS walk,
           CAST(step AS BIGINT) AS step, node
    FROM ({union})
    ORDER BY seed, walk, step
    """
    return sql


@register(
    "q_random_walks",
    oracle=_rw_sql(),
)
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus — the DeepWalk/node2vec
    preprocessing step that turns a graph into walk "sentences" for
    embedding training. Each walk step picks neighbor index
    hash(node, walk, step) mod degree via the repo's Lehmer family, so
    the corpus is REPLAYABLE across engines and reruns (rand()-based
    walkers can't be oracle-checked or resumed); walks stop early at
    sink nodes (inner join drops them, matching the unrolled CTE
    twin). Scale: L unrolled src-keyed joins against the ranked
    adjacency table — frontier size ≤ seeds×walks at every step (the
    hash picks ONE neighbor after the join's deg fan-out collapses),
    no driver-side state, and the adjacency ranking is one partitioned
    window."""
    e = edges_from_events(t(spark, sf_dir, "events"))
    w_rank = Window.partitionBy("src").orderBy("dst")
    w_deg = Window.partitionBy("src")
    # ranked is probed once per walk step and each step's lineage
    # chains all earlier steps into the final union — persist the
    # ranked adjacency and each (seeds×walks)-sized frontier or step k
    # re-derives for every level ≥ k (10 parquet scans / 27
    # exchanges in the executed plan)
    ranked = track_cache(
        e.select(
            "src",
            "dst",
            (F.row_number().over(w_rank) - 1).alias("rn"),
            F.count("*").over(w_deg).alias("deg"),
        ).persist()
    )
    seeds = (
        e.filter(F.col("src") % _RW_SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    walks_idx = spark.range(_RW_WALKS).select(F.col("id").alias("walk"))
    cur = seeds.crossJoin(F.broadcast(walks_idx)).select(
        F.col("node").alias("seed"), "walk", F.lit(0).alias("step"), "node"
    )
    levels = [cur]
    for i in range(1, _RW_LEN + 1):
        nxt = track_cache(
            levels[-1]
            .join(ranked, F.col("node") == F.col("src"))
            .filter(
                F.col("rn")
                == (
                    (F.col("node") % _RW_P) * _RW_A
                    + F.col("walk") * _RW_B1
                    + i * _RW_B2
                )
                % _RW_P
                % F.col("deg")
            )
            .select(
                "seed", "walk", F.lit(i).alias("step"), F.col("dst").alias("node")
            )
            .persist()
        )
        levels.append(nxt)
    out = levels[0]
    for nxt in levels[1:]:
        out = out.unionByName(nxt)
    return out.select(
        "seed",
        F.col("walk").cast("bigint").alias("walk"),
        F.col("step").cast("bigint").alias("step"),
        "node",
    )


# ---------------------------------------------------------------------------
# Community detection — synchronous label propagation (3 rounds)
# ---------------------------------------------------------------------------


@register(
    "q_label_propagation",
    oracle=f"""
    WITH edges0 AS ({SQL_REPEAT_CONTACTS}),
    und AS ({sql_mirror("edges0")}),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
    c1 AS (SELECT e.dst AS v, l.label, count(*) AS cnt
           FROM und e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
    l1 AS (SELECT v AS node, label FROM (
           SELECT v, label,
                  row_number() OVER (PARTITION BY v
                                     ORDER BY cnt DESC, label) AS rn
           FROM c1) WHERE rn = 1),
    c2 AS (SELECT e.dst AS v, l.label, count(*) AS cnt
           FROM und e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
    l2 AS (SELECT v AS node, label FROM (
           SELECT v, label,
                  row_number() OVER (PARTITION BY v
                                     ORDER BY cnt DESC, label) AS rn
           FROM c2) WHERE rn = 1),
    c3 AS (SELECT e.dst AS v, l.label, count(*) AS cnt
           FROM und e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
    l3 AS (SELECT v AS node, label FROM (
           SELECT v, label,
                  row_number() OVER (PARTITION BY v
                                     ORDER BY cnt DESC, label) AS rn
           FROM c3) WHERE rn = 1)
    SELECT node, label FROM l3 ORDER BY node
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation, 3 rounds
    (reference scope: the CDR graph's fraud rings are communities;
    the repo's connected components find *reachability* clusters —
    LPA finds *densely-linked* ones inside a component). Every node
    starts as its own label; each round every node adopts the most
    frequent label among its neighbors with the tie broken toward the
    SMALLEST label — the deterministic variant (classic LPA breaks
    ties randomly and never hash-matches across engines; min-label
    tie-break also guarantees termination instead of 2-cycles).
    Each round is ONE shuffle pattern: propagate labels along the
    mirrored edge list (join on src), count per (node, label), pick
    per node by (count desc, label asc) — expressed as min(struct
    (-cnt, label)), a plain aggregate, NOT an unpartitioned window.
    Rounds are a FIXED 3 (plan unrolls; no driver-side fixpoint
    loop, no collect), so lineage depth is constant; at 100 TB each
    round is the same edges⋈labels shuffle on src — linear in
    edges, the GraphX/Pregel cost shape. Edges are REPEAT contacts
    (operators/graph.py::repeat_contacts): on the raw distinct-contact
    graph the min-label tie-break cascades the whole (dense) graph
    into ONE community in 3 rounds — hash-green but meaningless; the
    support threshold is the standard ring-detection
    sparsification."""
    # e is probed once per round plus the label init — persist it or
    # the json-extract + support-threshold derivation replays per
    # reference (8 parquet scans in the executed plan)
    repeat = repeat_contacts(t(spark, sf_dir, "events"))
    e = track_cache(mirror(repeat).persist())
    labels = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(3):
        msgs = e.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("v"), "label")
        cnt = msgs.groupBy("v", "label").agg(F.count("*").alias("cnt"))
        labels = (
            cnt.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                ).alias("s")
            )
            .select(F.col("v").alias("node"), F.col("s.label").alias("label"))
        )
    return labels
