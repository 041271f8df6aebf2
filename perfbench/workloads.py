"""The benchmark's workloads: which queries one pass runs, at which scale
factor, and how each result is delivered."""

from __future__ import annotations

from dataclasses import dataclass

# The reference's fraud ETL plus the wide TPC-H joins. q_item_cf,
# q_knn_cosine and q_rfm stay out so that no single query is the whole
# pass: q_rfm alone took a quarter of a pass at sf0.01.
ETL_QUERIES = (
    "q_behavioral_features", "q_multiscale_features", "q_graph_aggregate",
    "q_join_common_neighbor", "q_pagerank", "q_kcore",
    "q_window_agg_transform", "q_tpch_q8", "q_tpch_q9", "q_tpch_q18",
    "q_join_inner", "q_groupby_agg",
)

# Interactive traffic: 16 draws with Zipf(1.1) popularity over the 309
# catalog queries, drawn once and frozen here so that a change to the
# catalog does not change the traffic. The exponent and the size are
# arbitrary, not fitted to a query log: the size is what fits one pass
# into the time budget of a run. Each run seed only orders the mix.
CATALOG_MIX = (
    "q_incremental_agg", "q_changepoint", "q_knn_cosine", "q_incremental_agg",
    "q_python_udtf", "q_zscore", "q_moving_avg", "q_repetition_ratio",
    "q_incremental_agg", "q_ref_integrity", "q_calendar_ops", "q_edge_weights",
    "q_pandas_udf_grouped_agg", "q_python_udtf", "q_incremental_agg",
    "q_incremental_agg",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    # "parquet": write into a landing directory; "pandas": toPandas()
    delivery: str
    # release the tracked caches before every sample, so that no sample
    # reuses an earlier sample's persisted intermediates
    cold: bool
    # the queries of one pass, before the per-pass seeded shuffle
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("etl_sf0.01", 0.01, "parquet", True, ETL_QUERIES),
        Workload("catalog_sf0.01", 0.01, "pandas", False, CATALOG_MIX),
    )
}

# The warm-up query of every set-up: cheap, touches the scan, shuffle and
# toPandas paths once so the first timed query does not pay class loading.
WARMUP_QUERY = "q_groupby_agg"
