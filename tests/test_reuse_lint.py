"""Executed-plan reuse lint.

A reuse probe once found ~18 plans re-running their full upstream
lineage once per reference (zero ReusedExchange); aggregate-sized
persists or single-evaluation restructures fixed them (MIGRATION
"reuse probe"). This lint pins those wins so the recompute class
cannot silently return: each
persist-based plan is EXECUTED (collect — AQE only finalizes the plan
after an action) and its final plan must read the shared frame from
cache (InMemoryTableScan) or reuse the exchange (ReusedExchange) —
dropping the ``.persist()`` makes both vanish and fails a named test
here, not a future bench line.

The single-evaluation restructures (q_winsorize, q_edge_novelty) have
no shared frame left by construction; their pins assert the plan-shape
invariant the rewrite established instead (window count / no
join-back).
"""

from __future__ import annotations

import inspect
import os
import re
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from frauddetection_spark.operators.caching import release_caches
from frauddetection_spark.plans.registry import REGISTRY, load_all

load_all()


def _final_plan(df) -> str:
    """Final AQE plan text only — ``AdaptiveSparkPlan.toString`` appends
    an ``== Initial Plan ==`` section after execution, which would
    double every node count."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def helpers_of(fn) -> tuple[tuple[str, str], ...]:
    """(funcname, relpath) for every package-defined function the
    query's defining function CALLS, one import-level deep — so a
    persist inside a shared helper (``prefix_rank``, ``ivf_topk``)
    counts for every query that calls it.

    Static resolution: ast-walk the function source for ``Call`` nodes,
    resolve plain names through the function's ``__globals__`` plus any
    ``import``/``from-import`` statements INSIDE the body (the
    dominant pattern here — most queries import operators locally),
    and ``mod.attr`` calls through module objects. Only functions whose
    source file lives under ``frauddetection_spark/`` count, minus
    ``plans/registry.py`` (the registration path is no helper of the
    built plan); one level per call — ``_persist_backed`` follows the
    helpers' own callees."""
    import ast
    import importlib
    import inspect
    import textwrap
    import types

    pkg_root = os.path.join(_REPO, "frauddetection_spark")
    try:
        src = textwrap.dedent(inspect.getsource(fn))
        tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError):
        return ()

    # Decorators are Call nodes in the function's source but are not
    # part of the built plan (the registration decorator would
    # otherwise resolve as a "helper" of all 309 queries). Strip them
    # before the walk.
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            node.decorator_list = []

    local: dict[str, object] = {}
    called: set[str] = set()
    modattr: set[tuple[str, str]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            try:
                mod = importlib.import_module(node.module)
            except ImportError:
                continue
            for alias in node.names:
                local[alias.asname or alias.name] = getattr(
                    mod, alias.name, None
                )
        elif isinstance(node, ast.Import):
            for alias in node.names:
                try:
                    mod = importlib.import_module(alias.name)
                except ImportError:
                    continue
                local[alias.asname or alias.name.split(".")[0]] = mod
        elif isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                called.add(f.id)
            elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                modattr.add((f.value.id, f.attr))

    g = getattr(fn, "__globals__", {})
    out: set[tuple[str, str]] = set()

    def consider(obj) -> None:
        if not isinstance(obj, types.FunctionType) or obj is fn:
            return
        try:
            srcfile = inspect.getsourcefile(obj)
        except TypeError:
            return
        if not srcfile:
            return
        srcfile = os.path.abspath(srcfile)
        if not srcfile.startswith(pkg_root + os.sep):
            return
        if srcfile.endswith(os.path.join("plans", "registry.py")):
            return
        out.add((obj.__name__, os.path.relpath(srcfile, _REPO)))

    for nm in called:
        consider(local.get(nm, g.get(nm)))
    for modnm, attr in modattr:
        holder = local.get(modnm, g.get(modnm))
        if isinstance(holder, types.ModuleType):
            consider(getattr(holder, attr, None))
    return tuple(sorted(out))


_CC_CONSUMERS = {
    "q_connected_components",
    "q_dedup_groups",
    "q_dedup_semantic",
    "q_entity_resolution",
}


def test_helpers_of_resolves_shared_operators():
    # a rewrite inside a shared operator must reach its consumers: the
    # CC consumers surface operators/graph.py::connected_components
    for name in _CC_CONSUMERS:
        fn = inspect.unwrap(REGISTRY[name].fn)
        helpers = dict(helpers_of(fn))
        assert helpers.get("connected_components") == os.path.join(
            "frauddetection_spark", "operators", "graph.py"
        ), f"{name} does not surface connected_components as a helper"


def test_helpers_of_excludes_registration_decorator():
    # @register(...) is a Call node in the source but not part of the
    # built plan; it must not resolve as a helper of every query
    for name in ("q_groupby_agg", "q_dedup_groups", "q_item_cf"):
        fn = inspect.unwrap(REGISTRY[name].fn)
        rels = {rel for _, rel in helpers_of(fn)}
        assert not any(rel.endswith("registry.py") for rel in rels), (
            f"{name} resolves plans/registry.py as a helper"
        )


# Every query whose defining function calls track_cache persists a
# shared frame the RETURNED plan is supposed to read from cache — each
# reference surfaces as an InMemoryTableScan in the final plan, so a
# dropped persist drives the count to zero (Catalyst sometimes saves
# the day with ReusedExchange — also acceptable: the work still runs
# once). Computed from source rather than hand-listed so every FUTURE
# persist-backed query is covered the commit it lands; the rewrites
# the lint was built for (q_bm25, q_rolling_dau, q_cooccurrence,
# q_dedup_minhash, q_rfm, q_item_cf, ...) are all in the computed set.
#
# Exceptions, each verified by a catalog probe: their persists
# feed CONSTRUCTION-TIME fixpoint/driver-hop actions (convergence
# loops, collected constant-size matrices) and are fully consumed
# before the returned plan exists, so the final plan legitimately
# shows no cache read.
_CONSTRUCTION_CONSUMED = {
    "q_recursive_cte",      # frontier persists drive the fixpoint loop
    "q_dedup_groups",       # LSH pairs -> CC convergence at construction
    "q_attribution_markov", # transition matrix collected driver-side
}


def _persist_backed() -> list[str]:
    """Queries whose own source OR any package helper they reach
    (``helpers_of``, followed transitively) contains a
    ``track_cache`` site — a dropped persist in ``prefix_rank`` or
    ``ivf_topk`` must fail its consumers' lint rows, not just direct
    callers' (a scan of the query body alone misses helper persists),
    and ``q_join_common_neighbor``'s persist sits two calls down, in
    ``common_neighbor_pairs`` → ``_common_neighbors_bitmask``.
    Granularity caveat, stated honestly: the assertion is reuse >= 1
    per QUERY plan, so a consumer with both its own persist and a
    helper persist can mask exactly one of the two being dropped;
    per-frame attribution would need plan-node provenance the lint
    doesn't have."""
    import importlib

    def has_track_cache(fn) -> bool:
        try:
            return "track_cache" in inspect.getsource(fn)
        except (OSError, TypeError):
            return False

    out = []
    for name, spec in sorted(REGISTRY.items()):
        if name in _CONSTRUCTION_CONSUMED:
            continue
        todo, seen = [inspect.unwrap(spec.fn)], set()
        while todo:
            fn = todo.pop()
            if has_track_cache(fn):
                out.append(name)
                break
            for hname, hrel in set(helpers_of(fn)) - seen:
                seen.add((hname, hrel))
                mod = hrel.replace(os.sep, ".").removesuffix(".py")
                try:
                    todo.append(getattr(importlib.import_module(mod), hname))
                except (ImportError, AttributeError):
                    continue
    return out


_PERSIST_BACKED = _persist_backed()


def _track_cache_call_sites(fn) -> int:
    """Number of ``track_cache(`` CALL SITES reachable from the query
    function (its own source plus every package helper it reaches,
    followed transitively as in ``_persist_backed``, excluding the
    wrapper's definition in operators/caching.py) — the mechanical
    definition of "multi-persist" for the floor pin below. Transitive,
    so moving a persist into a shared helper (q_quantile_grid's ranks
    live in queries/_util.py::quantile_ranks, which calls prefix_rank)
    does not hide it."""
    import importlib

    seen: set[tuple[str, str]] = set()
    n = 0
    todo = [fn]
    while todo:
        f = todo.pop()
        try:
            src = inspect.getsource(f)
            rel = os.path.relpath(inspect.getsourcefile(f), _REPO)
        except (OSError, TypeError):
            continue
        key = (f.__name__, rel)
        if key in seen or rel.endswith(os.path.join("operators", "caching.py")):
            continue
        seen.add(key)
        n += src.count("track_cache(")
        for hname, hrel in helpers_of(f):
            mod = hrel.replace(os.sep, ".").removesuffix(".py")
            try:
                todo.append(getattr(importlib.import_module(mod), hname))
            except (ImportError, AttributeError):
                continue
    return n


# Reuse >= 1 per query lets a plan with BOTH its own
# persist and a helper-level persist drop exactly one of the two
# without failing. For every query with >= 2 reachable track_cache
# call sites, pin the InMemoryTableScan count MEASURED on the
# certified tree (sf0.001, shuffle_partitions=8 — the suite config);
# dropping any one persist removes at least one cache read and lands
# below the floor. Floors below the call-site count are deliberate:
# those queries' extra persists feed construction-time fixpoints
# (q_bfs_levels, q_pagerank, q_taint_tracing...) so only one cache
# read legitimately survives into the returned plan. ReusedExchange
# is excluded from the pinned number (exchange reuse is
# config-sensitive); the base >= 1 assertion still accepts it.
# Regenerate after an intentional persist-structure change:
#   run the query, collect(), count "InMemoryTableScan" in
#   _final_plan(df), update the entry in the same commit.
_MULTI_PERSIST_FLOOR = {
    "q_adamic_adar": 2,
    "q_ann_ivf": 8,
    "q_ann_ivf_sampled": 8,
    # subs is not persisted (only constant-size slices read it) and
    # the encode/training argmin runs in blocked cogroup kernels, so
    # the final plan reads the persisted q and trained-cent frames 4
    # times (measured on the suite config).
    "q_ann_pq": 4,
    "q_assortativity": 1,
    "q_bfs_levels": 1,
    "q_bpe_merge": 2,
    "q_cascade_delete": 3,
    # clustering_coefficients persists und, and node_triangles persists
    # tri built from it; the final plan reads tri's cache only.
    "q_clustering_coeff": 1,
    "q_cooccurrence": 2,
    "q_corpus_funnel": 1,
    "q_date_spread": 2,
    "q_dedup_minhash": 2,
    "q_edge_weights": 2,
    "q_graph_jaccard": 2,
    "q_graph_triangles": 2,
    "q_growth_accounting": 2,
    "q_hits": 2,
    # q_hyperplane_est is not listed: its kernel's single persisted
    # signature frame is read by both spine sides, so the query is
    # single-persist and rides the base >= 1 assertion.
    "q_minhash_est": 2,
    "q_money_loops": 2,
    "q_pagerank": 1,
    "q_peer_outlier": 2,
    "q_ppr": 2,
    "q_quantile_grid": 2,
    "q_quantile_interp": 2,
    "q_random_walks": 2,
    # the three ntile passes rank narrow PROJECTIONS of
    # one persisted base and join back (they no longer chain, so the
    # nested per-pass range frames left the top-level plan); the final
    # plan reads the persisted base + the last join's rank frame — the
    # other rank frames are read inside AQE-materialized stages.
    "q_rfm": 2,
    "q_rolling_dau": 2,
    "q_sampling_weights": 2,
    "q_sequence_gaps": 2,
    "q_sparse_cosine": 2,
    "q_taint_tracing": 1,
    # reads q_sampling_weights' plan, so its floor is that query's
    "q_weighted_draw": 2,
}


def test_multi_persist_queries_have_pinned_floors():
    """Every persist-backed query with >= 2 reachable track_cache call
    sites must carry an explicit floor — a future multi-persist query
    cannot silently ride the >= 1 base assertion."""
    multi = {
        name
        for name in _PERSIST_BACKED
        if _track_cache_call_sites(inspect.unwrap(REGISTRY[name].fn)) >= 2
    }
    untriaged = multi - set(_MULTI_PERSIST_FLOOR)
    assert untriaged == set(), (
        f"multi-persist queries without a pinned reuse floor: "
        f"{sorted(untriaged)} — measure the final-plan "
        "InMemoryTableScan count and add an entry to "
        "_MULTI_PERSIST_FLOOR"
    )
    # and the pin list must not rot: every entry still is multi-persist
    stale = set(_MULTI_PERSIST_FLOOR) - multi
    assert stale == set(), f"pinned floors for non-multi-persist queries: {sorted(stale)}"


# The persist-backed set as computed when it was pinned. Deleting a
# query's only track_cache site drops its row from the computed
# parametrization instead of failing it, so the set itself is pinned:
# a query that gains or loses its last tracked persist must be added
# here or removed from here by hand.
_PERSIST_BACKED_PINNED = frozenset({
    "q_adamic_adar", "q_ann_ivf", "q_ann_ivf_sampled", "q_ann_pq",
    "q_assortativity", "q_attribution_shapley", "q_auc_delong",
    "q_backtest_snaive", "q_bfs_levels", "q_bigram_perplexity",
    "q_bigram_pmi", "q_bm25", "q_bpe_merge", "q_cascade_delete",
    "q_class_rates", "q_clustering_coeff", "q_concurrency",
    "q_cooccurrence", "q_corpus_funnel", "q_date_spread",
    "q_decontaminate", "q_dedup_minhash", "q_dense_spine",
    "q_eb_shrinkage", "q_edge_weights", "q_fuzzy_match",
    "q_graph_jaccard", "q_graph_triangles", "q_growth_accounting",
    "q_hits", "q_hyperplane_est", "q_item_cf", "q_join_common_neighbor",
    "q_ks_2sample", "q_ks_score", "q_label_propagation", "q_lift_gains",
    "q_linear_interp", "q_lorenz_gini", "q_mann_whitney", "q_metric_ap",
    "q_metric_auc", "q_minhash_est", "q_money_loops",
    "q_multi_grain_rollup", "q_mutual_info", "q_pagerank",
    "q_peer_outlier", "q_percent_rank", "q_ppr", "q_qte",
    "q_quantile_grid", "q_quantile_interp", "q_random_walks",
    "q_reciprocal_flows", "q_retention_cohorts", "q_rfm",
    "q_rolling_dau", "q_sampling_weights", "q_sequence_gaps",
    "q_shingle_containment", "q_shingle_jaccard", "q_simhash_pairs",
    "q_skyline", "q_sparse_cosine", "q_taint_tracing", "q_tfidf",
    "q_theilsen", "q_threshold_sweep", "q_tpch_q11", "q_tpch_q15",
    "q_user_deciles", "q_watermark_lateness", "q_weighted_draw",
    "q_zorder_layout",
})


def test_persist_backed_set_is_nonempty_and_mechanical():
    # an empty or shrunken-by-accident set would silently disable the
    # whole lint; helper-level persists (prefix_rank, pq_topk,
    # pagerank_integer, _common_neighbors_bitmask) count for their
    # consumers
    computed = set(_PERSIST_BACKED)
    assert computed == _PERSIST_BACKED_PINNED, (
        f"lost: {sorted(_PERSIST_BACKED_PINNED - computed)}, "
        f"new: {sorted(computed - _PERSIST_BACKED_PINNED)}"
    )


# Queries whose sf0.001 result is EMPTY: AQE's EmptyRelation
# propagation elides the whole final plan (cache reads included), so
# the reuse assertion is vacuous at the suite sf — lint them at the
# oracle sf (sf0.01), where the result is non-empty and the plan is
# real. (q_fuzzy_match returns 0 histogram rows at sf0.001: no two
# parts share a (brand, size) block there.)
_LINT_AT_ORACLE_SF = {"q_fuzzy_match"}


@pytest.mark.parametrize("name", _PERSIST_BACKED)
def test_shared_frame_reused(spark, sf_dir, name):
    if name in _LINT_AT_ORACLE_SF:
        from tests.conftest import SF_DIR_ORACLE

        sf_dir = SF_DIR_ORACLE
    df = REGISTRY[name].fn(spark, sf_dir)
    try:
        df.collect()
        plan = _final_plan(df)
        imts = plan.count("InMemoryTableScan")
        reused = imts + plan.count("ReusedExchange")
        assert reused >= 1, (
            f"{name}: final executed plan shows neither an "
            "InMemoryTableScan nor a ReusedExchange — the shared frame "
            "is being recomputed per reference (was a .persist() "
            "dropped?)"
        )
        floor = _MULTI_PERSIST_FLOOR.get(name, 0)
        assert imts >= floor, (
            f"{name}: final plan shows {imts} InMemoryTableScan reads, "
            f"pinned floor is {floor} — one of this query's multiple "
            "persists was dropped or stopped being read (see "
            "_MULTI_PERSIST_FLOOR)"
        )
    finally:
        release_caches()


def test_winsorize_windows_run_once(spark, sf_dir):
    """The clip side reads the raw projection, so the two rank
    windows run exactly once (bounds only). A regression back to
    clipping from the ranked frame doubles the Window nodes."""
    df = REGISTRY["q_winsorize"].fn(spark, sf_dir)
    try:
        df.collect()
        plan = _final_plan(df)
        assert len(re.findall(r"\bWindow\b", plan)) <= 2
    finally:
        release_caches()


def test_edge_novelty_no_join_back(spark, sf_dir):
    """first_week is a window min over the edge key — the old
    groupBy + join-back shape must not return."""
    df = REGISTRY["q_edge_novelty"].fn(spark, sf_dir)
    try:
        df.collect()
        plan = _final_plan(df)
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        release_caches()
