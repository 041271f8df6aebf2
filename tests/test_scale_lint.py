"""Scale lints over EVERY registered query, pinned as tests:

1. **Zero Spark jobs at plan construction** — calling any
   ``queries()[name](spark, sf_dir)`` must only BUILD a plan.
   Plan-time statistics come from driver-side pyarrow probes held by
   the table catalog (queries/graph.py); the common-neighbor operator
   has no probe of its own and plans the inverted join without them.
   Driver-side (non-Spark) prep like the pyarrow fixture builders is
   allowed — the lint counts Spark jobs only.

2. **No unpartitioned row-level windows** — a
   ``Window.orderBy(...)`` without ``partitionBy`` funnels every row
   through ONE task (the "No Partition Defined for Window operation"
   WindowExec). The only allowed unpartitioned window is the
   bounded-by-construction one: prefix offsets over per-range-partition
   totals (≤ RANK_PARTITIONS rows, order col ``_pid``).

3. **No presentation sort** — results are multisets (the oracle and
   the driver compare them order-insensitively), so a plan may end in
   a global ``Sort`` only under a ``Limit``, where the order selects
   the top-k rows. A bare terminal sort plans a range-partitioned
   exchange whose sampling job re-runs the query's last stage.
"""

from __future__ import annotations

import pytest

from frauddetection_spark.plans.registry import load_all

REGISTRY = load_all()

# Unpartitioned windows whose input is bounded by construction, keyed
# by the name of their first order column. Keep in sync with
# operators/rank.py (offsets over ≤ RANK_PARTITIONS per-partition
# totals).
BOUNDED_ORDER_COLS = {"_pid"}


def _unpartitioned_windows(df) -> list[str]:
    """First-order-column names of Window nodes with an empty
    partitionSpec anywhere in the analyzed logical plan."""
    out: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "Window":
            part = node.partitionSpec()
            if part.isEmpty():
                order = node.orderSpec()
                first = (
                    order.apply(0).child().toString() if order.size() else "?"
                )
                out.append(first.split("#")[0])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


def _presentation_sort(df) -> bool:
    """True when the optimized plan, walked from the root through unary
    nodes, reaches a global Sort with no Limit above it."""
    node, limited = df._jdf.queryExecution().optimizedPlan(), False
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "Sort":
            return getattr(node, "global")() and not limited
        limited = limited or "Limit" in cls
        if node.children().size() != 1:
            return False
        node = node.children().apply(0)


def _live_scan_count(df) -> int:
    """Live (re-executed) file scans in the physical plan: walk WITHOUT
    descending into InMemoryTableScan (a cached subtree's build plan
    prints its scans but never re-executes) or ReusedExchange/
    ReusedSubquery (executed once, replayed from shuffle files /
    the first result — descending would double-count)."""
    live = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if "InMemoryTableScan" in cls:
            continue
        if "ReusedExchange" in cls or "ReusedSubquery" in cls:
            continue
        if "FileSourceScan" in cls or "BatchScan" in cls:
            live += 1
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
        # Scans hidden in scalar/IN subquery expressions are live cost
        # too: QueryPlan.subqueries yields each plan
        # referenced from this node's expressions.
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
    return live


@pytest.fixture(scope="module")
def plan_inspections(spark, sf_dir):
    """ONE construction-and-inspection pass over the whole catalog,
    shared by every plan lint in this module (suite wall-time: the
    window/cartesian/live-scan params and the
    zero-jobs lint each re-built all ~300 plans — ~60s of duplicated
    GIL-bound Py4J chatter per pass; a thread pool was measured NOT to
    help). Each plan is inspected IMMEDIATELY after its own
    construction — the registry guard releases tracked caches when a
    DIFFERENT query constructs, so deferring inspection to the
    parametrized tests would read plans whose InMemoryRelations were
    already unpersisted (observed: q_attribution_shapley counted 12
    live scans instead of its true ≤10 when inspected after the full
    catalog pass). Storing the four verdicts (window order-cols,
    cartesian presence, live-scan count, presentation sort) keeps the
    per-query attribution in the params while paying construction once.

    Also returns the set of Spark job ids launched while constructing
    the NON-exempt queries — snapshotted twice TOTAL, not per query,
    because each ``getJobIdsForGroup(None)`` call transfers the
    session's full accumulated job-id array (tens of thousands of ids
    in-suite; ~580 such transfers dominated the old standalone
    zero-jobs lint's 238s in-suite wall). Exempt constructors
    (ITERATIVE_FIXPOINT convergence loops, ML_FIT training) run
    OUTSIDE the bracket; plan inspection itself plans but never runs
    jobs."""
    tracker = spark.sparkContext.statusTracker()
    exempt = ITERATIVE_FIXPOINT | ML_FIT

    def inspect(name):
        df = REGISTRY[name].fn(spark, sf_dir)
        assert df is not None
        return {
            "unpartitioned_windows": _unpartitioned_windows(df),
            "cartesian": "CartesianProduct"
            in df._jdf.queryExecution().executedPlan().toString(),
            "live_scans": _live_scan_count(df),
            "root_sort": _presentation_sort(df),
        }

    inspections = {}
    before = set(tracker.getJobIdsForGroup(None) or [])
    for name in sorted(REGISTRY):
        if name not in exempt:
            inspections[name] = inspect(name)
    construction_jobs = set(tracker.getJobIdsForGroup(None) or []) - before
    for name in sorted(exempt & set(REGISTRY)):
        inspections[name] = inspect(name)
    return inspections, construction_jobs


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unpartitioned_windows(name, plan_inspections):
    found = plan_inspections[0][name]
    bad = [
        c
        for c in found["unpartitioned_windows"]
        if c not in BOUNDED_ORDER_COLS
    ]
    assert bad == [], (
        f"{name}: unpartitioned (single-reducer) window over order "
        f"col(s) {bad} — use operators/rank.py::prefix_rank or add the "
        "bounded case to BOUNDED_ORDER_COLS with a justification"
    )
    # Piggyback on the same plan construction: no query may plan a
    # CartesianProduct — the non-broadcast nested-loop fallback whose
    # cost is |L|·|R| tasks at any scale. BroadcastNestedLoopJoin is
    # fine (it exists only when one side fits the broadcast threshold
    # — the catalog's 1-row totals / tiny literal frames); the
    # Cartesian fallback means BOTH sides were data-sized, which is
    # never an acceptable 100-TB shape. Verified 0 occurrences across
    # all 309 queries when this lint landed.
    assert not found["cartesian"], (
        f"{name}: CartesianProduct in the physical plan — add an equi "
        "key, broadcast a bounded side, or bucket the pair space"
    )
    # Piggyback #3: LIVE file-scan budget — replayed-subtree
    # detector (_live_scan_count above). A DataFrame referenced twice
    # without a persist replays its whole derivation per reference
    # (q_bfs_levels once planned 20 live scans; at
    # 100 TB each replay is another full fact-table scan). Every query
    # in the catalog plans ≤ 9 live scans after the sweep (worst:
    # TPC-H Q2 and the 6-aggregate q_ref_integrity, both legitimately
    # multi-table), so 10 flags any future replay regression without
    # false positives.
    assert found["live_scans"] <= 10, (
        f"{name}: {found['live_scans']} live file scans in one plan — "
        "a multi-referenced subtree is replaying; persist it "
        "(track_cache) or restructure so each base relation is "
        "scanned a bounded number of times"
    )


def test_no_presentation_sort(plan_inspections):
    """No query ends in a sort that only orders its output: a caller
    that wants ordered rows sorts the returned frame or its pandas
    result. A sort under a limit is a top-k and stays."""
    sorted_out = sorted(
        name for name, found in plan_inspections[0].items() if found["root_sort"]
    )
    assert sorted_out == [], (
        f"{len(sorted_out)} queries end in a global Sort with no Limit "
        f"above it: {sorted_out}"
    )


# Queries whose CONSTRUCTION legitimately runs Spark jobs: iterative
# fixpoints whose round count is data-dependent (min-label propagation
# runs joins until a changed-row count hits zero — the convergence
# check IS the algorithm, not a stats probe). Everything else must be
# a pure plan builder.
ITERATIVE_FIXPOINT = {
    "q_connected_components",
    "q_dedup_groups",
    "q_entity_resolution",
    # constant-size (grid-geometry-bounded) edge collect + union-find
    "q_cluster_griddensity",
    # constant-size (state-space-bounded) transition-matrix collect +
    # driver-side exact-integer chain iteration
    "q_attribution_markov",
    # cosine-pair mining + connected-components fixpoint
    "q_dedup_semantic",
}

# MLlib estimator queries: ``Estimator.fit`` is TRAINING — an action by
# nature (the model is data). Not a stats probe; exempt, like M3/M4's
# explicit training loops.
ML_FIT = {"q_ann_lsh_ml", "q_dedup_minhash_ml", "q_model_score",
          "q_viz_projection"}


def test_every_persist_is_tracked_or_local():
    """Cache-lifetime lint: every ``.persist(`` call
    site in frauddetection_spark/ must either be wrapped in
    ``track_cache(`` (released by operators.caching.release_caches()
    between bench/driver
    queries) or be followed by a local ``.unpersist()`` in the same
    function. Untracked persists accumulated across a 19-query
    benchmark run and inflated later queries 1.5-3x.

    Conversely, every ``track_cache(`` argument must itself be a
    ``.persist(...)`` call: a tracked frame that was never persisted
    caches nothing, and a query whose reuse the cache exists for then
    silently recomputes the shared subtree."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "frauddetection_spark",
    )

    offenders: list[str] = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                src = fh.read()
            tree = ast.parse(src, filename=path)
            # map every node to its parent for ancestor walks
            parents: dict[ast.AST, ast.AST] = {}
            for node in ast.walk(tree):
                for child in ast.iter_child_nodes(node):
                    parents[child] = node
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "track_cache"
                    and not (
                        len(node.args) == 1
                        and isinstance(node.args[0], ast.Call)
                        and isinstance(node.args[0].func, ast.Attribute)
                        and node.args[0].func.attr == "persist"
                    )
                ):
                    offenders.append(
                        f"{path}:{node.lineno} track_cache without persist"
                    )
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "persist"
                ):
                    continue
                # tracked: some ancestor is a track_cache(...) call
                anc, tracked = node, False
                while anc in parents:
                    anc = parents[anc]
                    if (
                        isinstance(anc, ast.Call)
                        and isinstance(anc.func, ast.Name)
                        and anc.func.id == "track_cache"
                    ):
                        tracked = True
                        break
                if tracked:
                    continue
                # locally managed: enclosing function also unpersists
                fn = node
                while fn in parents and not isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    fn = parents[fn]
                local_unpersist = isinstance(
                    fn, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and any(
                    isinstance(n, ast.Attribute) and n.attr == "unpersist"
                    for n in ast.walk(fn)
                )
                if local_unpersist:
                    continue
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == [], (
        "untracked persist() call sites (wrap in operators.caching."
        "track_cache or unpersist in the same function), or track_cache "
        "calls whose argument is not a .persist(...) call:\n"
        + "\n".join(offenders)
    )


def test_operator_defaults_are_set():
    """Every defaulted parameter of a function under
    ``frauddetection_spark/`` must be passed — by keyword or by
    position — at one or more call sites. A default that no caller
    overrides is a constant in disguise: it multiplies the
    configurations tests must cover while only one is ever run (and
    its never-taken branches go untested). Make it a module constant
    instead. Call sites are matched by callee name; a ``*args`` /
    ``**kwargs`` call sets every parameter.

    For operators/ and queries/ the callers that count are the
    package, ``__spark_entry__.py`` and ``check_catalog.py``. The other
    modules (IO, streaming, ML, multimodal, session) are user API with
    no caller in the package, so for them callers in ``tests/`` and
    ``perfbench/`` count as well."""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def sources(top):
        for dirpath, _dirs, files in os.walk(os.path.join(root, top)):
            yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))

    def parse(paths):
        trees = {}
        for path in paths:
            with open(path) as fh:
                trees[os.path.relpath(path, root)] = ast.parse(fh.read())
        return trees

    def passed_by(trees):
        """callee name -> (keywords passed, most positional args passed)"""
        passed: dict[str, tuple[set, float]] = {}
        for tree in trees:
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is None:
                    continue
                kws, npos = passed.get(name, (set(), 0))
                splat = any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                )
                passed[name] = (
                    kws | {k.arg for k in node.keywords},
                    max(npos, float("inf") if splat else len(node.args)),
                )
        return passed

    package = parse(
        [os.path.join(root, "__spark_entry__.py"),
         os.path.join(root, "check_catalog.py"),
         *sources("frauddetection_spark")]
    )
    outside = parse([*sources("tests"), *sources("perfbench")])
    by_package = passed_by(package.values())
    by_anyone = passed_by([*package.values(), *outside.values()])
    library = tuple(
        os.path.join("frauddetection_spark", d) for d in ("operators", "queries")
    )

    unset = []
    for rel, tree in package.items():
        if not rel.startswith("frauddetection_spark" + os.sep):
            continue
        passed = by_package if rel.startswith(library) else by_anyone
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            kws, npos = passed.get(fn.name, (set(), 0))
            params = fn.args.posonlyargs + fn.args.args
            first = len(params) - len(fn.args.defaults)
            defaulted = [
                (p.arg, i) for i, p in enumerate(params) if i >= first
            ] + [
                (p.arg, float("inf"))
                for p, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            ]
            unset += [
                f"{rel}:{fn.lineno} {fn.name}({arg})"
                for arg, pos in defaulted
                if arg not in kws and npos <= pos
            ]
    assert unset == [], (
        "defaulted parameters no caller sets — make each a module "
        "constant:\n" + "\n".join(unset)
    )


def test_engine_never_imports_duckdb():
    """DuckDB is the oracle: only ``oracle.py`` may import it. An
    engine that builds its fixtures or plan-time statistics with the
    oracle's engine checks itself with the tool it is checked by."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "frauddetection_spark",
    )
    sites = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == os.path.join(pkg, "oracle.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                names = (
                    [a.name for a in node.names] if isinstance(node, ast.Import)
                    else [node.module or ""] if isinstance(node, ast.ImportFrom)
                    else []
                )
                if any(n.split(".")[0] == "duckdb" for n in names):
                    sites.append(f"{os.path.relpath(path, pkg)}:{node.lineno}")
    assert sites == [], "engine modules import duckdb:\n" + "\n".join(sites)


def test_every_module_name_is_referenced():
    """Every module-level function, class and assigned name under
    ``frauddetection_spark/`` (dunders aside) must occur, as a whole
    word, outside its own definition somewhere in the package,
    ``tests/``, ``perfbench/``, ``__spark_entry__.py`` or
    ``check_catalog.py``. A name nothing reads is dead code, and a
    constant nothing reads suggests a setting that changes nothing."""
    import ast
    import os
    import re
    from collections import Counter

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(root, "__spark_entry__.py"),
             os.path.join(root, "check_catalog.py")]
    for top in ("frauddetection_spark", "tests", "perfbench"):
        for dirpath, _dirs, files in os.walk(os.path.join(root, top)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    sources = {}
    for path in paths:
        with open(path) as fh:
            sources[os.path.relpath(path, root)] = fh.read()
    words = Counter(w for src in sources.values() for w in re.findall(r"\w+", src))

    unread = []
    for rel, src in sources.items():
        if not rel.startswith("frauddetection_spark" + os.sep):
            continue
        lines = src.splitlines()
        for node in ast.parse(src, filename=rel).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                continue
            own = Counter(re.findall(
                r"\w+", "\n".join(lines[node.lineno - 1:node.end_lineno])
            ))
            unread += [
                f"{rel}:{node.lineno} {name}" for name in names
                if not (name.startswith("__") and name.endswith("__"))
                and words[name] <= own[name]
            ]
    assert unread == [], "module names nothing references:\n" + "\n".join(unread)


def test_every_import_is_used():
    """Every name a module under ``frauddetection_spark/`` imports
    (``from __future__`` aside) must occur, as a whole word, somewhere
    in that module outside the import statement. The module-name lint
    above checks definitions; an import nothing reads is the same dead
    code, and it still costs its import time."""
    import ast
    import os
    import re
    from collections import Counter

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    unused = []
    for dirpath, _dirs, files in os.walk(os.path.join(root, "frauddetection_spark")):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as fh:
                src = fh.read()
            lines = src.splitlines()
            words = Counter(re.findall(r"\w+", src))
            for node in ast.walk(ast.parse(src, filename=path)):
                if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                    continue
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                own = Counter(re.findall(
                    r"\w+", "\n".join(lines[node.lineno - 1:node.end_lineno])
                ))
                unused += [
                    f"{os.path.relpath(path, root)}:{node.lineno} {name}"
                    for name in (
                        a.asname or a.name.split(".")[0] for a in node.names
                    )
                    if words[name] <= own[name]
                ]
    assert unused == [], "imports nothing in the module reads:\n" + "\n".join(unused)


def test_zero_jobs_at_construction(spark, sf_dir, plan_inspections):
    """Constructing any non-exempt query must launch ZERO Spark jobs —
    constructors are pure plan builders (stats probes belong in the
    driver-side table catalog, actions in the caller; the
    common-neighbor operator runs no probe: a caller passes catalog
    stats or gets the inverted join). The construction pass and its
    two job-id snapshots live in the shared ``plan_inspections`` fixture (see its docstring for
    the cost story); only a failure pays for the serial per-query
    re-run that names the offending constructor."""
    _, new = plan_inspections
    if not new:
        return
    # A job fired somewhere in the batch: re-run serially to name it.
    # The re-run repeats the SAME work the fixture bracketed —
    # construct AND inspect (physical planning included) — so a job
    # launched by either step attributes to its query.
    tracker = spark.sparkContext.statusTracker()
    names = [n for n in REGISTRY if n not in ITERATIVE_FIXPOINT | ML_FIT]
    before = set(tracker.getJobIdsForGroup(None) or [])
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        _unpartitioned_windows(df)
        df._jdf.queryExecution().executedPlan().toString()
        _live_scan_count(df)
        after = set(tracker.getJobIdsForGroup(None) or [])
        assert not (after - before), (
            f"constructing {name} launched Spark job(s) "
            f"{sorted(after - before)} — query constructors must be "
            "pure plan builders (move stats probes to the driver-side "
            "catalog, defer actions to the caller)"
        )
        before = after
    raise AssertionError(
        f"batch construction launched Spark job(s) {sorted(new)} but "
        "the serial re-run could not attribute them — most likely a "
        "ONE-SHOT job absorbed by session state on first construction "
        "(e.g. InMemoryFileIndex parallel listing, cached afterwards); "
        "bisect by running the fixture pass on a fresh session with a "
        "subset of names"
    )
