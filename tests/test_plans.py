"""Physical-plan regression tests: the properties that make these
queries scale are asserted, not assumed. A change that silently turns
a broadcast join into a sort-merge join, loses a parquet pushdown, or
adds a shuffle to a map-only stage fails here before it costs hours on
a cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from frauddetection_spark.plans.registry import load_all

REGISTRY = load_all()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_join_inner_broadcasts_dims(spark, sf_dir):
    plan = _executed(REGISTRY["q_join_inner"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_groupby_agg_pushes_filter_and_prunes(spark, sf_dir):
    df = REGISTRY["q_groupby_agg"].fn(spark, sf_dir)
    plan = _optimized(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the scan must not read all 10 lineitem columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_partial_aggregation_is_map_side(spark, sf_dir):
    # two HashAggregates around one Exchange = map-side combine
    plan = _executed(REGISTRY["q_groupby_agg"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_quality_filter_is_map_only(spark, sf_dir):
    # q_text_quality is pure per-row array math — no Exchange at all
    plan = _executed(REGISTRY["q_text_quality"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_lang_id_profile_join_is_broadcast(spark, sf_dir):
    plan = _executed(REGISTRY["q_lang_id"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_common_neighbor_bitmask_has_no_pair_shuffle(spark, sf_dir):
    # dense-domain strategy: the pair join must be a nested-loop over
    # broadcast masks, not an Exchange of 53M inverted-index rows
    plan = _executed(REGISTRY["q_join_common_neighbor"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_ann_pq_blocks_grow_with_corpus(spark, sf_dir, monkeypatch):
    """q_ann_pq hands the catalog's embeddings row count to pq_topk, so
    the training, encode and ADC kernels split the corpus into
    assign_blocks(n) blocks: 32 at the testdata's n=500, more once the
    corpus passes 32 blocks of ASSIGN_TARGET_ROWS — per-task memory
    stays bounded as the corpus grows."""
    from frauddetection_spark.operators.vectors import ASSIGN_TARGET_ROWS
    from frauddetection_spark.queries import similarity

    def blocks(df) -> set[str]:
        import re

        plan = df._jdf.queryExecution().analyzed().toString()
        return set(re.findall(r"sequence\(0, (\d+)", plan))

    assert blocks(REGISTRY["q_ann_pq"].fn(spark, sf_dir)) == {"31"}
    big = 64 * ASSIGN_TARGET_ROWS
    monkeypatch.setattr(similarity, "_embeddings_count", lambda _d: big)
    assert blocks(REGISTRY["q_ann_pq"].fn(spark, sf_dir)) == {"63"}


def test_scan_partitioned_prunes_partitions(spark, sf_dir):
    # the IN-list filter must land in PartitionFilters (planning-time
    # directory pruning), NOT as a data filter over all partitions
    df = REGISTRY["q_scan_partitioned"].fn(spark, sf_dir)
    plan = _optimized(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_type" in pf[0], pf


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # the benchmark shingle set is tiny relative to the corpus: the
    # overlap join must broadcast it, never shuffle the train side
    plan = _executed(REGISTRY["q_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_embed_quantize_is_map_only(spark, sf_dir):
    # per-vector quantization is elementwise — no Exchange, and no
    # Python (all higher-order functions)
    plan = _executed(REGISTRY["q_embed_quantize"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_query_batch_is_cogrouped_kernel(spark, sf_dir):
    # asymmetric serving shape: the cogrouped numpy tile kernel — no
    # join node at all (each pair meets inside FlatMapCoGroupsInPandas)
    # and no row-at-a-time Python
    plan = _executed(REGISTRY["q_ann_query_batch"].fn(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_array_stats_is_map_only_jvm(spark, sf_dir):
    # higher-order-function vector stats: no shuffle, and no Python
    # evaluation anywhere
    plan = _executed(REGISTRY["q_array_stats"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_posexplode_is_map_only(spark, sf_dir):
    plan = _executed(REGISTRY["q_posexplode"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_trend_slope_has_partial_aggregation(spark, sf_dir):
    # both aggregation levels must combine map-side: >= 2 HashAggregate
    # pairs around the exchanges
    plan = _executed(REGISTRY["q_trend_slope"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    df = REGISTRY["q_behavioral_features"].fn(spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = _executed(df)
    assert "isFinalPlan=true" in plan
    # codegen stages print as "*(n) Operator" in the final plan
    assert "*(" in plan


def test_cc_local_finish_matches_distributed(spark, sf_dir, monkeypatch):
    """connected_components is two-phase: a driver-side min-id
    union-find when the materialized edge set is under the
    CC_LOCAL_FINISH_EDGES gate, the iterative min-label fixpoint above
    it. Both must produce the IDENTICAL (node, component) labeling —
    pinned here by running the same real edge feed through both paths
    (gate forced to 0 → distributed; default → local at test sf)."""
    from frauddetection_spark.operators import graph as graph_ops
    from frauddetection_spark.operators.graph import (
        connected_components,
        edges_from_events,
    )
    from frauddetection_spark.sources.tables import load_table

    e = edges_from_events(load_table(spark, sf_dir, "events")).filter(
        F.col("src") != F.col("dst")
    )
    local = {
        (r["node"], r["component"])
        for r in connected_components(e).collect()
    }
    monkeypatch.setattr(graph_ops, "CC_LOCAL_FINISH_EDGES", 0)
    dist = {
        (r["node"], r["component"])
        for r in connected_components(e).collect()
    }
    assert local == dist
    assert local, "empty edge feed would make this test vacuous"
    # sanity: components are min-reachable ids — every component id is
    # itself a member node with component == itself
    comp_ids = {c for _, c in local}
    roots = {n for n, c in local if n == c}
    assert comp_ids <= roots


def test_q2_window_min_keeps_all_ties(spark):
    """q_tpch_q2's decorrelation (partitioned window MIN + filter,
    replacing the aggregate-join-back) must keep ALL min-cost suppliers
    on ties, per the original correlated-subquery semantics. The
    testdata has ZERO (partkey, min-cost) ties at every sf, so the
    oracle comparison never exercises this path — pin it on a
    constructed frame: two suppliers tied at the part's min cost both
    survive, the strictly-higher quote does not."""
    sup = spark.createDataFrame(
        [
            (1, 101, 500),
            (1, 102, 500),  # tied at part 1's min
            (1, 103, 900),
            (2, 104, 300),
        ],
        "ps_partkey bigint, ps_suppkey bigint, cost_c bigint",
    )
    w = Window.partitionBy("ps_partkey")
    got = {
        (r["ps_partkey"], r["ps_suppkey"])
        for r in sup.withColumn("mc", F.min("cost_c").over(w))
        .filter(F.col("cost_c") == F.col("mc"))
        .collect()
    }
    assert got == {(1, 101), (1, 102), (2, 104)}


def test_cc_mixed_type_edges_route_distributed(spark):
    """The local finish emits both output columns as the src type, so
    a mixed-type edge frame (src int, dst long) must NOT take it even
    under the size gate — the distributed union defines the coercion.
    Pinned: tiny mixed-type input produces the union-widened schema
    and the same labels the (long, long) input gets."""
    from frauddetection_spark.operators.graph import connected_components

    mixed = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src int, dst bigint"
    )
    out = connected_components(mixed)
    assert out.schema["node"].dataType.simpleString() == "bigint"
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # same-typed twin takes the local finish and must agree
    uniform = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    got2 = {
        (r["node"], r["component"])
        for r in connected_components(uniform).collect()
    }
    assert got2 == got


@pytest.mark.parametrize(
    "qname",
    [
        "q_connected_components",
        "q_dedup_groups",
        "q_entity_resolution",
        "q_dedup_semantic",
    ],
)
def test_cc_consumers_local_finish_parity(qname, spark, sf_dir, monkeypatch):
    """The operator-level parity test above pins
    connected_components itself, but the four DECLARED queries that
    ride on it must also be gate-invariant — a future gate change must
    not silently diverge the results the driver hash-checks. Force the
    distributed path by zeroing the module's CC_LOCAL_FINISH_EDGES gate
    (read at call time, so one patch covers all call sites) and compare
    full row sets against the default (local-finish at test sf) run."""
    from frauddetection_spark.operators import graph as graph_ops
    from frauddetection_spark.plans.registry import REGISTRY

    spec = REGISTRY[qname]
    default_rows = sorted(
        tuple(r) for r in spec.fn(spark, sf_dir).collect()
    )
    assert default_rows, f"{qname}: empty result makes parity vacuous"
    monkeypatch.setattr(graph_ops, "CC_LOCAL_FINISH_EDGES", 0)
    forced_rows = sorted(
        tuple(r) for r in spec.fn(spark, sf_dir).collect()
    )
    assert forced_rows == default_rows


def test_common_neighbor_auto_cost_model(spark):
    """The auto pick is COST-BASED (a ×10 stress finding: a hard
    user cap routed the dense 100-contact/15k-user regime to the
    inverted index, whose Σd² ≈ 5e9 shuffled rows OOMed a default
    heap, while the bitmask nested loop was ~40× cheaper):
    bitmask iff (u²/2)·words ≤ 64·Σd², under an absolute word-op
    budget and the 4096-contact mask bound."""
    from frauddetection_spark.operators.graph import (
        BITMASK_MAX_WORDOPS,
        ContactStats,
        _pick_cn_strategy,
        common_neighbor_pairs,
    )

    # dense regime: many users sharing a tiny domain → bitmask wins
    # even far beyond the old 8192-user cap
    n_users = 15_000
    contacts = spark.range(n_users).select(
        F.col("id").alias("user"), (F.col("id") % 10).alias("contact")
    )
    dense = ContactStats(10, n_users, 10 * 1500**2, list(range(10)))
    df = common_neighbor_pairs(contacts, min_common=1, stats=dense)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in plan
    # sparse regime: Σd² tiny relative to the pair space → inverted
    assert _pick_cn_strategy(10, 15_000, sum_d2=1_000) == "inverted"
    # big domain: masks don't fit → inverted regardless of cost
    assert _pick_cn_strategy(5_000, 100, sum_d2=10**9) == "inverted"
    # nested-loop budget: pair space beyond the word-op budget refuses
    # bitmask even when it is the cheaper side (output-bound regime)
    assert (
        _pick_cn_strategy(100, 200_000, sum_d2=10**12) == "inverted"
    ), BITMASK_MAX_WORDOPS
    # small frame still picks bitmask
    small = spark.range(100).select(
        F.col("id").alias("user"), (F.col("id") % 10).alias("contact")
    )
    small_stats = ContactStats(10, 100, 10 * 10**2, list(range(10)))
    df2 = common_neighbor_pairs(small, min_common=1, stats=small_stats)
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in plan2


def test_common_neighbor_without_stats_is_inverted_and_job_free(spark):
    """Without a contact list (``ContactStats.values`` None) the
    operator plans the inverted join and launches no Spark job while
    building it."""
    from frauddetection_spark.operators.graph import (
        ContactStats,
        common_neighbor_pairs,
    )

    contacts = spark.range(50).select(
        F.col("id").alias("user"), (F.col("id") % 5).alias("contact")
    )
    no_values = ContactStats(
        n_contacts=5, n_users=50, sum_d2=5 * 10 * 10, values=None
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = common_neighbor_pairs(contacts, min_common=1, stats=no_values)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert "bit_count" not in plan
    # 5 contacts of 10 users each: every pair within a contact shares it
    assert df.count() == 5 * 10 * 9 // 2


def test_common_neighbor_injected_stats_skip_probe(spark):
    """Passing ContactStats means NO probe job at construction, and the
    bitmask index comes from stats.values."""
    from frauddetection_spark.operators.graph import (
        ContactStats,
        common_neighbor_pairs,
    )

    contacts = spark.range(50).select(
        F.col("id").alias("user"), (F.col("id") % 5).alias("contact")
    )
    stats = ContactStats(
        n_contacts=5, n_users=50, sum_d2=5 * 10 * 10, values=list(range(5))
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = common_neighbor_pairs(contacts, min_common=1, stats=stats)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "stat injection must not run a Spark job"
    assert df.count() > 0
    # stats older than the data: a contact missing from values must fail
    # the query, not silently drop that contact's overlaps
    stale = stats._replace(n_contacts=4, values=list(range(4)))
    with pytest.raises(Exception, match="missing from stats.values"):
        common_neighbor_pairs(contacts, min_common=1, stats=stale).collect()


# NOTE: the construction-is-pure-plan-building lint lives ONLY in
# tests/test_scale_lint.py::test_zero_jobs_at_construction. This file
# used to carry a near-duplicate (test_query_construction_runs_no_jobs)
# that re-constructed all ~300 query DataFrames a second time — the two
# slowest tests in the suite (122s + 89s) asserting the same invariant
# with the scale-lint version strictly stricter (per-query assert, no
# pre-warming; verified to pass standalone on a cold session).


def test_join_strategy_hints_honored(spark, sf_dir):
    """Join strategy hints are the manual override when stats mislead
    the planner (a 100-TB join whose build side the optimizer
    misestimates): each hint must surface as its physical operator."""
    from frauddetection_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merge = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in physical(merge)

    shash = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in physical(shash)

    bcast = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in physical(bcast)


def test_tpch_q8_dims_broadcast(spark, sf_dir):
    # the widest join tree: every dim side must broadcast; the only
    # shuffles belong to the orders⋈lineitem spine and the final agg
    plan = _executed(REGISTRY["q_tpch_q8"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q15_max_join_is_broadcast(spark, sf_dir):
    # the 1-row max and the supplier dim both broadcast — lineitem is
    # scanned exactly once (classic Q15 evaluates the revenue view
    # twice)
    df = REGISTRY["q_tpch_q15"].fn(spark, sf_dir)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # rev is pinned: both the probe and the max branch read the cache,
    # so lineitem is scanned once at execution (the plan text still
    # prints the FileScan inside each InMemoryRelation definition)
    assert plan.count("InMemoryTableScan") >= 2


def test_countmin_probe_is_broadcast_and_partial_agg(spark, sf_dir):
    plan = _executed(REGISTRY["q_countmin"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine on the grid
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_filter_words_broadcast(spark, sf_dir):
    plan = _executed(REGISTRY["q_bloom_membership"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hyperplane_est_stays_jvm_side(spark, sf_dir):
    # the whole sketch pipeline is built-in functions — no Python
    # evaluation anywhere despite the 64-plane explode
    plan = _executed(REGISTRY["q_hyperplane_est"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_scan_federated_reads_all_four_formats(spark, sf_dir):
    # one logical table, four physical formats, one union — each
    # format's own reader appears exactly once
    plan = _executed(REGISTRY["q_scan_federated"].fn(spark, sf_dir))
    for fmt in ("FileScan parquet", "FileScan csv", "FileScan json", "FileScan orc"):
        assert fmt in plan, fmt
    assert "Union" in plan


def test_arrow_transform_uses_map_in_arrow(spark, sf_dir):
    # the kernel must ride the MapInArrow node (zero-pandas boundary),
    # not a pandas conversion
    plan = _executed(REGISTRY["q_arrow_transform"].fn(spark, sf_dir))
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_incremental_agg_has_two_partial_levels(spark, sf_dir):
    # both the batch-partial and the merge groupBy must combine
    # map-side: >= 4 HashAggregate operators
    plan = _executed(REGISTRY["q_incremental_agg"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4
