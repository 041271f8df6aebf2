"""Queries on edge-shaped copies of the testdata: an empty events table,
events whose ``props`` make the call graph empty, one hub or only
self-loops, and an embeddings table cut to a handful of rows must still
match their DuckDB twins, not return a wrong answer or raise."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from frauddetection_spark.oracle import compare, duckdb_connection
from frauddetection_spark.plans.registry import load_all
from frauddetection_spark.sources.tables import TABLE_NAMES

REGISTRY = load_all()

# the embedding search, dedup and ETL queries
EMBEDDING_QUERIES = [
    "q_ann_ivf",
    "q_ann_ivf_sampled",
    "q_ann_pq",
    "q_ann_query_batch",
    "q_dedup_semantic",
    "q_embed_meanpool",
    "q_embed_neardup",
    "q_embed_quantize",
    "q_knn_cosine",
    "q_nearest_centroid",
]

# the queries built on operators/graph.py's contact rule, edge list and
# undirected forms
CALL_GRAPH_QUERIES = [
    "q_adamic_adar",
    "q_assortativity",
    "q_bfs_levels",
    "q_clustering_coeff",
    "q_connected_components",
    "q_edge_novelty",
    "q_edge_weights",
    "q_fraud_funnel",
    "q_graph_aggregate",
    "q_graph_aggregate_weighted",
    "q_graph_degrees",
    "q_graph_jaccard",
    "q_graph_triangles",
    "q_hits",
    "q_jaccard_lag",
    "q_join_common_neighbor",
    "q_kcore",
    "q_label_propagation",
    "q_money_loops",
    "q_mule_passthrough",
    "q_neighbor_avg_degree",
    "q_pagerank",
    "q_ppr",
    "q_propagate_2round",
    "q_random_walks",
    "q_reciprocal_flows",
    "q_recursive_cte",
    "q_running_distinct",
    "q_sampling_weights",
    "q_share_dispersion",
    "q_taint_tracing",
    "q_union_mirror",
]

# events.props rewrites: no contact at all, one hub every user calls,
# and every user calling only itself
PROPS_SHAPES = {
    "null": lambda e: pa.nulls(e.num_rows, pa.string()),
    "hub": lambda e: pa.array(['{"k": 7}'] * e.num_rows, pa.string()),
    "self": lambda e: pc.binary_join_element_wise(
        '{"k": ', pc.cast(e["user_id"], pa.string()), "}", ""
    ),
}


def _copy_with(sf_dir: str, tmp_path, table: str, reshape) -> str:
    """A data directory linking every table of ``sf_dir`` except
    ``table``, which is written back as ``reshape(table)``."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in TABLE_NAMES:
        if name != table:
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), d / f"{name}.parquet")
    src = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    pq.write_table(reshape(src), d / f"{table}.parquet")
    return str(d)


def _with_props(shape: str):
    """A reshape that rewrites events.props by ``PROPS_SHAPES[shape]``."""

    def reshape(e):
        i = e.schema.get_field_index("props")
        return e.set_column(i, "props", PROPS_SHAPES[shape](e))

    return reshape


def _check(spark, d: str, name: str):
    spec = REGISTRY[name]
    duck = duckdb_connection(d)
    try:
        res = compare(name, spec.fn(spark, d), duck, spec.oracle)
        assert res.ok, f"{name}: {res.detail}"
        return duck.execute(spec.oracle).fetchdf()
    finally:
        duck.close()


def test_csv_malformed_on_empty_events(spark, sf_dir, tmp_path):
    """A global sum over no rows is NULL; the good-row count must be
    a count, 0 on empty input like the twin's count(*)."""
    d = _copy_with(sf_dir, tmp_path, "events", lambda e: e.slice(0, 0))
    got = _check(spark, d, "q_csv_malformed")
    assert (got["n_good"].tolist(), got["n_dropped"].tolist()) == ([0], [0])


def test_jaccard_lag_on_null_props(spark, sf_dir, tmp_path):
    """With every contact null, each week's set is empty: n_contacts
    is 0 and jaccard (an empty union) is NULL in both engines."""
    d = _copy_with(sf_dir, tmp_path, "events", _with_props("null"))
    got = _check(spark, d, "q_jaccard_lag")
    assert len(got) > 0
    assert (got["n_contacts"] == 0).all() and got["jaccard"].isna().all()


@pytest.mark.parametrize("rows", [0, 5])
@pytest.mark.parametrize("name", EMBEDDING_QUERIES)
def test_embedding_queries_on_few_rows(spark, sf_dir, tmp_path, name, rows):
    """With 0 or 5 vectors most of the blocks of the cogrouped vector
    kernels (32 corpus blocks, KNN_BLOCKS² block pairs) are empty, and
    the IVF and PQ codebooks have fewer vectors than centroids: each
    embedding query must still match its twin."""
    d = _copy_with(sf_dir, tmp_path, "embeddings", lambda e: e.slice(0, rows))
    _check(spark, d, name)


@pytest.mark.parametrize("shape", sorted(PROPS_SHAPES))
@pytest.mark.parametrize("name", CALL_GRAPH_QUERIES)
def test_call_graph_queries_on_props_shapes(spark, sf_dir, tmp_path, name, shape):
    """An empty call graph, a single hub and a graph of self-loops only:
    each call-graph query must still match its twin."""
    d = _copy_with(sf_dir, tmp_path, "events", _with_props(shape))
    _check(spark, d, name)
