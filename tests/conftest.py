from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from frauddetection_spark.oracle import duckdb_connection
from frauddetection_spark.plans.registry import load_all
from frauddetection_spark.session import get_spark

# Oracle tests run at sf0.001 locally for speed; the driver runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="frauddetection-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


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


@pytest.fixture(scope="session")
def plan_inspections(spark, sf_dir):
    """ONE construction-and-inspection pass over the whole catalog,
    shared by every plan lint of the suite (tests/test_scale_lint.py,
    tests/test_registry_lint.py): each separate pass re-builds all ~300
    plans — ~60s of GIL-bound Py4J chatter; a thread pool was measured
    NOT to help). Each plan is inspected IMMEDIATELY after its own
    construction — the registry guard releases tracked caches when a
    DIFFERENT query constructs, so deferring inspection to the
    parametrized tests would read plans whose InMemoryRelations were
    already unpersisted (observed: q_attribution_shapley counted 12
    live scans instead of its true ≤10 when inspected after the full
    catalog pass). Storing the five verdicts (window order-cols,
    cartesian presence, live-scan count, presentation sort, non-atomic
    output columns) keeps the per-query attribution in the params while
    paying construction once.

    Also returns the set of Spark job ids launched while constructing
    the NON-exempt queries — snapshotted twice TOTAL, not per query,
    because each ``getJobIdsForGroup(None)`` call transfers the
    session's full accumulated job-id array (tens of thousands of ids
    in-suite; ~580 such transfers dominated the old standalone
    zero-jobs lint's 238s in-suite wall). Exempt constructors
    (ITERATIVE_FIXPOINT convergence loops, ML_FIT training) run
    OUTSIDE the bracket; plan inspection itself plans but never runs
    jobs."""
    registry = load_all()
    tracker = spark.sparkContext.statusTracker()
    exempt = ITERATIVE_FIXPOINT | ML_FIT

    def inspect(name):
        df = registry[name].fn(spark, sf_dir)
        assert df is not None
        return {
            "unpartitioned_windows": _unpartitioned_windows(df),
            "cartesian": "CartesianProduct"
            in df._jdf.queryExecution().executedPlan().toString(),
            "live_scans": _live_scan_count(df),
            "root_sort": _presentation_sort(df),
            "non_atomic": [
                f"{f.name}: {f.dataType.simpleString()}"
                for f in df.schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ],
        }

    inspections = {}
    before = set(tracker.getJobIdsForGroup(None) or [])
    for name in sorted(registry):
        if name not in exempt:
            inspections[name] = inspect(name)
    construction_jobs = set(tracker.getJobIdsForGroup(None) or []) - before
    for name in sorted(exempt & set(registry)):
        inspections[name] = inspect(name)
    return inspections, construction_jobs
