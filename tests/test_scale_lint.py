"""Scale lints over EVERY registered query, pinned as tests:

1. **Zero Spark jobs at plan construction** — calling any
   ``queries()[name](spark, sf_dir)`` must only BUILD a plan.
   Plan-time statistics come from driver-side pyarrow probes held by
   the table catalog (operators/graph.py::contact_stats); the
   common-neighbor operator has no probe of its own and plans the
   inverted join without them.
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
from tests.conftest import (
    ITERATIVE_FIXPOINT,
    ML_FIT,
    _live_scan_count,
    _unpartitioned_windows,
)

REGISTRY = load_all()

# Unpartitioned windows whose input is bounded by construction, keyed
# by the name of their first order column. Keep in sync with
# operators/rank.py (offsets over ≤ RANK_PARTITIONS per-partition
# totals).
BOUNDED_ORDER_COLS = {"_pid"}


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


def _caller_universes():
    """(package trees, callee name -> list of calls counted for it):
    the callers that count for each function under
    ``frauddetection_spark/`` — the package, ``__spark_entry__.py`` and
    ``check_catalog.py`` for operators/ and queries/, plus ``tests/``
    and ``perfbench/`` for the other modules (IO, streaming, ML,
    multimodal, session: user API with no caller in the package). A
    call is (keywords passed, positional args passed), matched by
    callee name; a ``*args`` / ``**kwargs`` call passes every
    parameter."""
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

    def calls_by_name(trees):
        calls: dict[str, list[tuple[set, float]]] = {}
        for tree in trees:
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is None:
                    continue
                splat = any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                )
                calls.setdefault(name, []).append(
                    (
                        {k.arg for k in node.keywords},
                        float("inf") if splat else len(node.args),
                    )
                )
        return calls

    package = parse(
        [os.path.join(root, "__spark_entry__.py"),
         os.path.join(root, "check_catalog.py"),
         *sources("frauddetection_spark")]
    )
    outside = parse([*sources("tests"), *sources("perfbench")])
    by_package = calls_by_name(package.values())
    by_anyone = calls_by_name([*package.values(), *outside.values()])
    library = tuple(
        os.path.join("frauddetection_spark", d) for d in ("operators", "queries")
    )
    counted = {
        rel: by_package if rel.startswith(library) else by_anyone
        for rel in package
        if rel.startswith("frauddetection_spark" + os.sep)
    }
    return package, counted


def _defaulted_params(fn):
    """(name, position, default node) of each defaulted parameter of
    the function node ``fn``; keyword-only ones sit at position inf."""
    params = fn.args.posonlyargs + fn.args.args
    first = len(params) - len(fn.args.defaults)
    return [
        (p.arg, i, fn.args.defaults[i - first])
        for i, p in enumerate(params)
        if i >= first
    ] + [
        (p.arg, float("inf"), d)
        for p, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]


def _functions(package, counted):
    """(relative path, function node, its counted calls) for every
    function under ``frauddetection_spark/``."""
    import ast

    for rel, calls in counted.items():
        for fn in ast.walk(package[rel]):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, fn, calls.get(fn.name, [])


def test_operator_defaults_are_set():
    """Every defaulted parameter of a function under
    ``frauddetection_spark/`` must be passed — by keyword or by
    position — at one or more call sites. A default that no caller
    overrides is a constant in disguise: it multiplies the
    configurations tests must cover while only one is ever run (and
    its never-taken branches go untested). Make it a module constant
    instead. The callers that count are those of
    :func:`_caller_universes`."""
    unset = [
        f"{rel}:{fn.lineno} {fn.name}({arg})"
        for rel, fn, calls in _functions(*_caller_universes())
        for arg, pos, _default in _defaulted_params(fn)
        if not any(arg in kws or npos > pos for kws, npos in calls)
    ]
    assert unset == [], (
        "defaulted parameters no caller sets — make each a module "
        "constant:\n" + "\n".join(unset)
    )


def test_no_dead_none_default():
    """No ``None``-defaulted parameter under ``frauddetection_spark/``
    may be passed by every counted caller (those of
    :func:`_caller_universes`): its ``None`` branch is code no caller
    reaches. Make the parameter required and delete the branch."""
    import ast

    dead = [
        f"{rel}:{fn.lineno} {fn.name}({arg})"
        for rel, fn, calls in _functions(*_caller_universes())
        for arg, pos, default in _defaulted_params(fn)
        if isinstance(default, ast.Constant)
        and default.value is None
        and calls
        and all(arg in kws or npos > pos for kws, npos in calls)
    ]
    assert dead == [], (
        "None defaults that every caller overrides — make each "
        "parameter required:\n" + "\n".join(dead)
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
    code, and it still costs its import time. A function-local import
    may not import again what its module imports at the top."""
    import ast
    import os
    import re
    from collections import Counter

    def bindings(node):
        if isinstance(node, ast.Import):
            return {(a.asname or a.name.split(".")[0],
                     a.name if a.asname else a.name.split(".")[0])
                    for a in node.names}
        return {(a.asname or a.name, f"{node.module}.{a.name}") for a in node.names}

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    unused = []
    for dirpath, _dirs, files in os.walk(os.path.join(root, "frauddetection_spark")):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                src = fh.read()
            lines = src.splitlines()
            words = Counter(re.findall(r"\w+", src))
            tree = ast.parse(src, filename=path)
            top = {b for node in tree.body
                   if isinstance(node, (ast.Import, ast.ImportFrom))
                   for b in bindings(node)}
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                    continue
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                own = Counter(re.findall(
                    r"\w+", "\n".join(lines[node.lineno - 1:node.end_lineno])
                ))
                unused += [
                    f"{rel}:{node.lineno} {name}"
                    for name in (
                        a.asname or a.name.split(".")[0] for a in node.names
                    )
                    if words[name] <= own[name]
                ]
                if node not in tree.body:
                    unused += [f"{rel}:{node.lineno} {name} (imported at the top)"
                               for name, _src in bindings(node) & top]
    assert unused == [], "imports nothing in the module reads:\n" + "\n".join(unused)


# Queries whose subject is JSON extraction or a string contact; they
# spell out their own props.k extraction.
JSON_SURFACE = {
    "q_behavioral_features",
    "q_json_extract",
    "q_json_flatten",
    "q_try_semantics",
    "q_variant_extract",
}


def test_contact_rule_is_spelled_once():
    """The call graph's contact rule (``props.k`` as a bigint) is spelled
    once per engine, in operators/graph.py: ``contact()`` and its twin
    ``SQL_CONTACT``. Outside it, only the JSON-surface queries (their
    decorator and body) may call ``get_json_object("props", "$.k")`` or
    ``json_extract_string(props, '$.k')``."""
    import ast
    import os
    import re

    spelling = re.compile(
        r"get_json_object\(\s*[\"']props[\"']\s*,\s*[\"']\$\.k[\"']"
        r"|json_extract_string\(\s*props\s*,\s*'\$\.k'"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "frauddetection_spark")
    sites = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == os.path.join(
                pkg, "operators", "graph.py"
            ):
                continue
            with open(path) as fh:
                src = fh.read()
            allowed = set()
            for node in ast.parse(src, filename=path).body:
                if isinstance(node, ast.FunctionDef) and node.name in JSON_SURFACE:
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    allowed |= set(range(first, node.end_lineno + 1))
            sites += [
                f"{os.path.relpath(path, root)}:{i}"
                for i, line in enumerate(src.splitlines(), 1)
                if spelling.search(line) and i not in allowed
            ]
    assert sites == [], (
        "props.k parsed outside operators/graph.py (use contact() or "
        "SQL_CONTACT):\n" + "\n".join(sites)
    )


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
