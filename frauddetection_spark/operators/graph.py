"""Graph semantics over plain edge-list DataFrames.

The reference keeps three graph representations (networkx per-window
call graphs, .npy edge arrays, DGL multi-relation graphs — SURVEY §1.1).
This engine's canonical representation is an edge-list DataFrame
``(src: long, dst: long)`` plus node DataFrames keyed by id; every graph
operation is a join + aggregate, so it shuffles instead of materializing
adjacency in driver RAM and scales to the reference's 7M-edge relations
and far beyond.

This module is the one place that defines the call graph, in Spark and
in its DuckDB twins: the contact rule (`contact` / `SQL_CONTACT`), the
edge list (`edges_from_events` / `SQL_EDGES`), its undirected forms
(`mirror` / `sql_mirror`, `simple_graph` / `sql_simple_graph`) and the
repeat-contact graph (`repeat_contacts` / `SQL_REPEAT_CONTACTS`). Each
takes a DataFrame or a CTE name and never loads a table itself.

Reference parity:
- gather/scatter message passing  → `aggregate_messages`
  (DGL update_all(u_mul_e, sum), new_model_1.py:24-36; propagate,
  src/layers.py:85-100)
- common-neighbor similarity join → `common_neighbor_pairs`
  (buildLSN, data_process.py:20-48 — O(n²·set-intersect) python loop
  decorrelated into one inverted-index self-join)
- degree tables                   → `degrees`
  (nx degree loops, data_process.py:131-144; DGL in_degrees,
  new_train_1.py:131-138)
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from frauddetection_spark.operators.caching import track_cache


def contact() -> Column:
    """The counterparty of an ``events`` row (the reference's
    opposite_no_m): ``props.k`` cast to bigint. A null ``props``,
    unparseable JSON, and a missing or null ``k`` are no contact; an
    integer or integer-string ``k`` is one. ``_contact`` applies the
    same rule to one ``props`` string on the driver."""
    return F.get_json_object("props", "$.k").cast("bigint")


# DuckDB twin of contact
SQL_CONTACT = "CAST(json_extract_string(props, '$.k') AS BIGINT)"


def edges_from_events(events: DataFrame) -> DataFrame:
    """Canonical directed edge list: user → counterparty (props.k).

    Mirrors the reference's CDR graph build (caller phone_no_m →
    opposite_no_m, data_process.py:95-107) on the testdata schema.
    Distinct — the reference's networkx graph also collapses repeat
    edges (B9: last-write-wins on weight; we keep unweighted edges and
    model weights separately).
    """
    return (
        events.select(F.col("user_id").alias("src"), contact().alias("dst"))
        .filter(F.col("dst").isNotNull())
        .distinct()
    )


# DuckDB twin of edges_from_events
SQL_EDGES = f"""
        SELECT DISTINCT user_id AS src, {SQL_CONTACT} AS dst
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL
"""


def mirror(edges: DataFrame) -> DataFrame:
    """Undirected view: (src,dst) ∪ (dst,src), deduplicated
    (reference: edge mirroring main.py:102-110).

    Explode-scatter, not a self-union: the union form planned
    its two branches as independent subtrees (no ReusedExchange), so
    an unpersisted upstream edge pipeline executed twice — the hazard
    the connected-components checkpoint-before-mirror comment
    describes. One reference → one evaluation, whatever the caller
    passes."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"), F.col("dst").alias("dst")
                    ),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def sql_mirror(rel: str) -> str:
    """DuckDB twin of mirror over the relation ``rel`` (src, dst)."""
    return f"""
        SELECT src, dst FROM {rel}
        UNION
        SELECT dst AS src, src AS dst FROM {rel}
"""


def simple_graph(edges: DataFrame) -> DataFrame:
    """The simple undirected graph of ``edges``: self-loops dropped,
    then mirrored."""
    return mirror(edges.filter(F.col("src") != F.col("dst")))


def sql_simple_graph(cte: str) -> str:
    """DuckDB twin of simple_graph over the CTE ``cte``."""
    return sql_mirror(f"(SELECT src, dst FROM {cte} WHERE src <> dst)")


# A (user, counterparty) pair is a repeat-contact edge once it occurs in
# this many events.
REPEAT_MIN_CONTACTS = 3


def repeat_contacts(events: DataFrame) -> DataFrame:
    """Repeat-contact edge list: (user, counterparty) pairs seen in at
    least REPEAT_MIN_CONTACTS events, self-loops dropped. The support
    threshold is the ring-detection sparsification: a fraud ring talks
    repeatedly, a marketplace touches once."""
    return (
        events.select(F.col("user_id").alias("src"), contact().alias("dst"))
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(
            (F.col("w") >= REPEAT_MIN_CONTACTS) & (F.col("src") != F.col("dst"))
        )
        .select("src", "dst")
    )


# DuckDB twin of repeat_contacts
SQL_REPEAT_CONTACTS = f"""
        SELECT user_id AS src, {SQL_CONTACT} AS dst
        FROM events
        WHERE {SQL_CONTACT} IS NOT NULL AND user_id <> {SQL_CONTACT}
        GROUP BY 1, 2
        HAVING count(*) >= {REPEAT_MIN_CONTACTS}
"""


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node out/in/total degree over distinct directed edges.

    One pass: explode each edge into (node, is_out) and aggregate —
    avoids two scans + an outer join of separate in/out aggregations.
    """
    sides = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), F.lit(1).alias("is_out")),
                F.struct(F.col("dst").alias("node"), F.lit(0).alias("is_out")),
            )
        ).alias("s")
    ).select("s.node", "s.is_out")
    return sides.groupBy("node").agg(
        F.sum("is_out").cast("bigint").alias("out_degree"),
        F.sum(1 - F.col("is_out")).cast("bigint").alias("in_degree"),
        F.count("*").alias("degree"),
    )


def aggregate_messages(edges: DataFrame, node_values: DataFrame) -> DataFrame:
    """Gather-scatter: for each dst, aggregate the src nodes' ``value``
    over ``node_values`` (id, value) (DGL ``update_all(copy_u, sum)``;
    gated variant in new_model_1.py:24-36). Returns (node, msg_sum,
    msg_avg, n_msgs).

    Scale: one shuffle to join node values onto edge sources (or a
    broadcast when the node table is small), one to aggregate by dst.
    K propagation rounds = K such steps; checkpoint between rounds to
    cut lineage (SURVEY §7 watch-list #4).
    """
    msgs = edges.join(
        node_values.select(F.col("id").alias("src"), F.col("value").alias("_msg")),
        "src",
    )
    return msgs.groupBy(F.col("dst").alias("node")).agg(
        F.sum("_msg").alias("msg_sum"),
        F.avg("_msg").alias("msg_avg"),
        F.count("*").alias("n_msgs"),
    )


BITMASK_MAX_CONTACTS = 4096  # 64 int64 words
# Cost model for the auto pick (replaces a hard user cap — measured: at
# 10× users over a dense 100-contact domain the inverted index shuffles
# Σd² ≈ 5e9 rows while the bitmask nested loop does u²/2 ≈ 1.1e8
# in-codegen word-AND+popcounts, ~40× cheaper; a cap on users alone
# picks the catastrophically wrong side exactly in the dense regime the
# bitmask exists for):
#   inverted_cost ≈ Σ_c d(c)²          shuffled+aggregated rows
#   bitmask_cost  ≈ (u²/2)·words       in-memory word operations
# One shuffled row costs roughly BITMASK_WORD_DISCOUNT word-ops
# (serialization + hash + agg vs a codegen popcount), so bitmask wins
# iff bitmask_cost ≤ BITMASK_WORD_DISCOUNT · inverted_cost, subject to
# an absolute nested-loop budget (beyond it, wall-clock is unbounded
# even when bitmask is the cheaper side — at that point the OUTPUT of
# min_common=1 over a dense domain is itself ~u²/2 and the caller
# must prune: raise min_common or top-k).
BITMASK_WORD_DISCOUNT = 64
BITMASK_MAX_WORDOPS = int(2e10)


class ContactStats(NamedTuple):
    """Statistics of a (user, contact) frame's distinct non-null pairs,
    behind the common-neighbor strategy pick."""

    n_contacts: int  # distinct contacts
    n_users: int  # distinct users
    sum_d2: int  # Σ over contacts of degree²: the inverted join's rows
    # the sorted distinct contacts when there are at most
    # BITMASK_MAX_CONTACTS of them, else None; bitmask needs them
    values: list | None


def _contact(props: str | None) -> int | None:
    """The contact of one ``props`` string, by the rule of
    :func:`contact`."""
    try:
        return int(json.loads(props)["k"])
    except (TypeError, ValueError, KeyError, OverflowError):
        return None


def contact_stats(events_path: str) -> ContactStats:
    """Common-neighbor statistics of the edge list of the events
    parquet at ``events_path``, from a driver-side pyarrow read (no
    Spark job). The contact domain is the one edges_from_events sees
    (``_contact``), for the counts and the values alike (the values
    feed the bitmask index, and a contact missing from them fails the
    query). Each distinct ``props`` string is parsed once."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(events_path, columns=["user_id", "props"])
    props = tbl["props"].combine_chunks().dictionary_encode()
    contacts = [_contact(p) for p in props.dictionary.to_pylist()]
    ct = pa.array(contacts, pa.int64()).take(props.indices)
    pairs = (
        pa.table({"u": tbl["user_id"], "ct": ct})
        .filter(ct.is_valid())
        .group_by(["u", "ct"])
        .aggregate([])
    )
    deg = pairs.group_by("ct").aggregate([([], "count_all")])
    d = deg["count_all"]
    n = deg.num_rows
    return ContactStats(
        n,
        pc.count_distinct(pairs["u"]).as_py(),
        pc.sum(pc.multiply_checked(d, d)).as_py() or 0,
        sorted(deg["ct"].to_pylist()) if n <= BITMASK_MAX_CONTACTS else None,
    )


def _pick_cn_strategy(n_contacts: int, n_users: int, sum_d2: int) -> str:
    """Cost-based inverted-vs-bitmask pick; see the model above."""
    if n_contacts > BITMASK_MAX_CONTACTS or n_contacts == 0:
        return "inverted"
    words = (n_contacts + 63) // 64
    pair_wordops = (n_users * n_users // 2) * words
    if pair_wordops > BITMASK_MAX_WORDOPS:
        return "inverted"
    return (
        "bitmask"
        if pair_wordops <= BITMASK_WORD_DISCOUNT * sum_d2
        else "inverted"
    )


def common_neighbor_pairs(
    contacts: DataFrame, min_common: int, stats: ContactStats
) -> DataFrame:
    """Pairs of users sharing ≥ min_common contacts (buildLSN,
    data_process.py:20-48, live k=1 at :219-220). The reference's
    O(n²·m) python loop, decorrelated. ``contacts`` has columns
    ``user`` and ``contact``; null contacts are ignored. Two physical
    strategies, picked by cost from ``stats`` (:func:`_pick_cn_strategy`):

    - ``inverted``: self-join on contact + pair-count — the sparse,
      scale-default path. Cost is Σ_c d(c)² intermediate rows, so it
      explodes when contacts are hubs.
    - ``bitmask``: when the distinct-contact domain is small (≤4096)
      and the user×user pair space fits the word-op budget, encode each
      user's contact set as packed int64 words (bit_or aggregate) and
      count pair overlaps with `bit_count(a & b)` — no per-contact pair
      explosion at all; the pair space is the user×user nested loop
      over tiny mask rows. This is exactly the dense-domain regime
      where the inverted index is quadratic-per-hub: 100 contacts
      shared by ~700 users each is 53M join rows inverted vs 1.1M
      masked pairs. Its contact→bit index is a driver literal built
      from ``stats.values``.

    ``stats`` come from the caller (catalog / ANALYZE); with
    ``stats.values`` None (the contact domain is too large to list, or
    unknown) the operator plans the inverted join. Either way NO Spark
    job runs at construction.

    Both strategies are semantically identical for min_common ≥ 1 (the
    join-based inverted path cannot observe zero-overlap pairs, so
    min_common=0 is rejected rather than silently strategy-dependent);
    the oracle twin pins the semantics.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1 (0 would be strategy-dependent)")
    c = (
        contacts.select(F.col("user").alias("u"), F.col("contact").alias("ct"))
        .filter(F.col("ct").isNotNull())
        .distinct()
    )
    if (
        stats.values is not None
        and _pick_cn_strategy(stats.n_contacts, stats.n_users, stats.sum_d2)
        == "bitmask"
    ):
        return _common_neighbors_bitmask(c, min_common, stats.values)

    a = c.select(F.col("u").alias("user_a"), "ct")
    b = c.select(F.col("u").alias("user_b"), "ct")
    return (
        a.join(b, "ct")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def _common_neighbors_bitmask(
    c: DataFrame, min_common: int, values: list
) -> DataFrame:
    """Dense-domain strategy: contact sets as packed bit words.

    The contact → bit index is a LITERAL local relation built from
    ``values``, so no distinct+window pass runs over ``c``, which is
    consumed exactly once (the mask build); the persist sits on the
    frame that IS read twice, the masks (both sides of the pair loop).
    Bit order cannot affect results — any bijective contact→bit mapping
    yields identical AND/popcount overlaps. A contact missing from
    ``values`` (stale stats) raises instead of silently losing its
    overlaps. One groupBy(user) bit_or builds the masks, then a self
    nested-loop join over mask rows counts with pure codegen popcounts:
    O(|users|²·words), independent of hub degrees — which is why the
    caller budgets the pair space (_pick_cn_strategy's word-op budget)
    before picking this path.
    """
    idx = c.sparkSession.createDataFrame(
        [(v, i) for i, v in enumerate(values)], ["ct", "idx"]
    )
    n_words = max(1, (len(values) + 63) // 64)
    checked = c.join(F.broadcast(idx), "ct", "left").select(
        "u",
        F.coalesce(
            F.col("idx"),
            F.raise_error(
                F.concat(
                    F.lit("common_neighbor_pairs: contact "),
                    F.col("ct").cast("string"),
                    F.lit(" is missing from stats.values (stale stats)"),
                )
            ),
        ).alias("idx"),
    )
    masked = checked.select(
        "u", (F.col("idx") / 64).cast("int").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))").alias("bit"),
    )
    masks = masked.groupBy("u").agg(
        *[
            F.bit_or(F.when(F.col("w") == w, F.col("bit")).otherwise(0)).alias(f"m{w}")
            for w in range(n_words)
        ]
    )
    masks = track_cache(masks.persist())
    a = masks.select(
        F.col("u").alias("user_a"), *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)]
    )
    b = masks.select(
        F.col("u").alias("user_b"), *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)]
    )
    overlap = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
        overlap = term if overlap is None else overlap + term
    # explicit broadcast: the pair loop is a non-equi join, and the
    # planner must never fall back to CartesianProduct when the cached
    # masks frame loses its size estimate. Safe because this path is
    # reached only through the cost pick, whose word-op budget
    # (BITMASK_MAX_WORDOPS) bounds the mask table at ~79k users × ≤65
    # int64 columns ≈ 41 MB worst case.
    return (
        a.join(F.broadcast(b), F.col("user_a") < F.col("user_b"))
        .withColumn("n_common", overlap.cast("bigint"))
        .filter(F.col("n_common") >= min_common)
        .select("user_a", "user_b", "n_common")
    )


def undirected_canonical(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a < b), self-loops dropped."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def node_triangles(und: DataFrame) -> DataFrame:
    """Per-node triangle counts over a canonical undirected edge set.

    Triangle enumeration by ordered wedge join: (a,b)⋈(b,c)⋈(a,c) with
    a<b<c finds each triangle exactly once; three projections then
    credit each corner. Cost is the wedge count Σ_v deg⁺(v)² on the
    ordered graph — the standard bound; for hub-heavy graphs the
    degree-ordering trick (orient edges low→high degree) caps deg⁺ at
    O(√|E|), which the canonical a<b orientation approximates on
    id-random graphs. Returns (node, triangles).
    """
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    # tri feeds all three corner projections — persist it or the wedge
    # join replays 3×
    tri = track_cache(e1.join(e2, "y").join(e3, ["x", "z"]).persist())
    # one reference, three corners: the 3-branch union read the
    # cached tri table three times; the explode credits all corners in
    # a single map pass
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient C(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) over the undirected graph (reference:
    nx.clustering(net, id), data_process.py:147-148). Exact integer
    numerator/denominator; one final division."""
    # und feeds both degree branches AND the three wedge-join sides —
    # persist it or the canonical edge derivation replays 5× (11
    # parquet scans in q_clustering_coeff's executed plan without it)
    und = track_cache(undirected_canonical(edges).persist())
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tri = node_triangles(und)
    return (
        deg.join(tri, "node", "left")
        .na.fill({"triangles": 0})
        .select(
            "node",
            "degree",
            "triangles",
            F.when(
                F.col("degree") >= 2,
                (2 * F.col("triangles")).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("clustering_coeff"),
        )
    )


# Size gate for connected_components' driver-side local finish, read
# at call time so tests force the distributed path with one
# monkeypatch that covers every consumer.
CC_LOCAL_FINISH_EDGES = 200_000
# Round budget of the distributed path (rounds needed = graph diameter).
CC_MAX_ITERATIONS = 50


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation:
    component(v) = min node id reachable from v. Returns
    (node, component).

    Two-phase, size-gated (the GraphX/GraphFrames "local finish"
    pattern): once the edge set is materialized (the localCheckpoint
    below — a job either way), if it holds ≤ ``CC_LOCAL_FINISH_EDGES``
    directed edges (≤ ~200k × 16 bytes ≈ 3 MB — constant-bounded
    driver memory, same discipline as the whitelisted grid union-find
    in operators/sampling.py) the components come from one driver-side
    min-id union-find instead of diameter-many distributed rounds:
    each distributed round costs 2+ jobs (checkpoint + convergence
    count), so a small graph would pay one scheduler round-trip per
    unit of diameter for work one driver pass finishes. Above the gate —
    the only regime a 100-TB run sees — the iterative path below runs
    unchanged; both paths compute the identical min-reachable-id
    fixpoint (pinned by tests/test_plans.py::
    test_cc_local_finish_matches_distributed).

    Distributed path: each round label'(v) = min(label(v), min over
    neighbors of label(u)) — one join + groupBy-min per round over the
    undirected edge list; rounds = graph diameter (typically ≪ 20 on
    real graphs). Convergence is checked with a changed-row count; frames
    are persisted per round to cut lineage (same discipline as M2
    propagation). Deterministic fixpoint ⇒ oracle-verifiable even
    though the algorithm is iterative driver-side control flow.
    """
    # Lineage discipline: persist
    # alone does NOT truncate the LOGICAL plan — each round's frame
    # references the previous round twice, so by round k the analyzer
    # walks an O(2^k)-node tree that embeds the (large) upstream edge
    # pipeline, and driver-side planning dwarfs the actual 3-shuffle
    # jobs. localCheckpoint materializes AND cuts lineage: the edge
    # pipeline (q_dedup_groups feeds the whole MinHash-LSH rerank in
    # here) runs exactly once, and every round plans against a leaf.
    # At cluster scale swap for checkpoint() on a fault-tolerant dir —
    # same semantics, survives executor loss (SURVEY §7 watch-list #4).
    #
    # Checkpoint BEFORE mirroring: mirror() is a self-union, and Spark
    # plans its two branches as independent subtrees (no reuse) — a
    # post-mirror checkpoint would execute the upstream pipeline (the
    # MinHash pair feed, for q_dedup_groups) twice. The union
    # itself stays lazy: re-deriving it from the checkpointed leaf per
    # round is two cached-block scans, nothing more.
    ck = edges.localCheckpoint()
    # The checkpoint above already ran the upstream pipeline; counting
    # its cached blocks is one cheap job, and gates the local finish.
    # Type gate: the local finish emits BOTH columns as the src type;
    # if dst's type differs, only the distributed union below defines
    # the coercion — take that path so the gate can never change the
    # output schema (a mixed-type edge frame would otherwise diverge
    # only below the size gate).
    same_type = ck.schema["src"].dataType == ck.schema["dst"].dataType
    if same_type and ck.count() <= CC_LOCAL_FINISH_EDGES:
        spark = ck.sparkSession
        # Min-id union-find over the (constant-bounded) collected edge
        # list: union by smaller root, so every root IS the set's
        # minimum id and find(v) = min reachable id — exactly the
        # distributed fixpoint's labels. Construction-time jobs are
        # sanctioned for CC callers via ITERATIVE_FIXPOINT in
        # tests/test_scale_lint.py; the collect is bounded by the gate.
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        nodes = set()
        # Resolve src/dst by NAME and derive the output schema from the
        # input's field types: the distributed path below
        # is name-resolved and type-preserving, so the local finish
        # must be too — positional row[0]/row[1] plus a hardcoded
        # bigint schema would silently diverge for non-long node ids
        # or reordered/extra columns, and only below the size gate.
        for row in ck.select("src", "dst").collect():
            a, b = row["src"], row["dst"]
            if a is not None:
                nodes.add(a)
            if b is not None:
                nodes.add(b)
            if a is None or b is None:
                continue
            ra, rb = find(a), find(b)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        node_type = ck.schema["src"].dataType
        out_schema = StructType(
            [
                StructField("node", node_type, True),
                StructField("component", node_type, True),
            ]
        )
        return spark.createDataFrame(
            [(n, find(n)) for n in sorted(nodes)], out_schema
        )

    und = mirror(ck)
    labels = (
        und.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERATIONS):
        nbr_min = (
            und.join(
                labels.select(
                    F.col("node").alias("src"), F.col("component").alias("c_src")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("c_src").alias("nbr_component"))
        )
        # carry the previous label through the update so convergence is
        # a filter-count over the checkpointed frame, not a second join
        updated = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("_prev"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = updated.filter(F.col("component") != F.col("_prev")).count()
        labels = updated.select("node", "component")
        if changed == 0:
            break
    else:
        # exhausted CC_MAX_ITERATIONS while labels were still moving: the
        # graph diameter exceeds the round budget (e.g. a long path
        # component) and the labels are NOT a fixpoint. Silent return
        # here would hand wrong components downstream.
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERATIONS} "
            f"iterations ({changed} labels still changing); raise "
            "CC_MAX_ITERATIONS (rounds needed = graph diameter)"
        )
    # checkpointed blocks are released by the ContextCleaner when the
    # frames go out of scope — no persist bookkeeping to track here
    return labels


# pagerank_integer's recurrence, shared with q_pagerank's DuckDB twin.
PR_ITERATIONS = 3
PR_DAMPING_PCT = 85
PR_SCALE = 1_000_000  # micro-units: one unit of rank
PR_BASE = (PR_SCALE * (100 - PR_DAMPING_PCT)) // 100  # teleport floor


def pagerank_integer(edges: DataFrame) -> DataFrame:
    """Fixed-iteration PageRank in exact int64 arithmetic:
    rank_k(v) = (1-d)·S + d · Σ_{(u,v)∈E} rank_{k-1}(u) div outdeg(u),
    every term an integer (ranks carried as micro-units, ``PR_SCALE`` =
    one unit of rank). Returns (node, rank_micro).

    Why integer: float PageRank sums in shuffle order — different
    engines (or two runs of the same plan) produce last-ulp-different
    doubles, which breaks exact oracle comparison. With div/sum over
    int64 every operation is associative and engine-independent, so a
    DuckDB twin unrolled to the same ``PR_ITERATIONS`` hash-matches
    bit-for-bit. Dangling-node mass is dropped (no out-edges ⇒ no
    contribution), the same simplification both twins apply.

    Scale shape: the (edge ⋈ outdeg) build is computed ONCE outside
    the loop — only ranks change per round — so each iteration is one
    shuffle join on src + one groupBy(dst) partial-aggregated sum +
    one left join back onto the node spine: 100 TB cost = iterations ×
    (2 shuffles over edges), no driver-side data movement. Reference
    counterpart: the propagation loop in src/layers.py:85-100 (score
    spreading over the call graph), reshaped from per-node python to
    joins.
    """
    nodes = track_cache(
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .persist()
    )
    # static per-edge divisor: outdeg never changes across rounds.
    # Both invariants are referenced by the returned lazy plan, so
    # they cannot be unpersisted here — tracked for release_caches()
    edges_out = track_cache(
        edges.join(
            edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src"
        )
        .select("src", "dst", "outdeg")
        .persist()
    )
    ranks = nodes.withColumn("rank_micro", F.lit(PR_SCALE).cast("bigint"))
    for _ in range(PR_ITERATIONS):
        inbound = (
            edges_out.join(
                ranks.select(
                    F.col("node").alias("src"),
                    F.col("rank_micro").alias("r_src"),
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("r_src div outdeg").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = nodes.join(inbound, "node", "left").select(
            "node",
            (
                F.lit(PR_BASE)
                + F.expr(f"({PR_DAMPING_PCT} * coalesce(s, CAST(0 AS BIGINT))) div 100")
            )
            .cast("bigint")
            .alias("rank_micro"),
        )
    return ranks
