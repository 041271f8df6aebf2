"""Unit tests of the benchmark's pure helpers (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pyarrow as pa
import pytest

import datagen
import stats
from spark_metrics import parse_metric
from stats import Span
from workloads import CATALOG_MIX, ETL_QUERIES, WARMUP_QUERY


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 75) == 4.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert not stats.tail_supported(99, 90)
    assert stats.tail_supported(100, 90)
    assert stats.tail_supported(40, 75)
    assert not stats.tail_supported(39, 75)
    assert not stats.tail_supported(19, 50)


def test_workload_queries_are_in_the_catalog():
    from frauddetection_spark.plans.registry import load_all

    catalog = load_all()
    assert set(CATALOG_MIX) | set(ETL_QUERIES) | {WARMUP_QUERY} <= set(catalog)
    assert len(set(ETL_QUERIES)) == len(ETL_QUERIES)


def test_repeat_share_counts_same_name_neighbours():
    assert stats.repeat_share(["a", "a", "b", "a", "c", "c"]) == pytest.approx(2 / 6)
    assert stats.repeat_share(["a", "b"]) == 0.0


def test_pass_order_is_a_seeded_permutation():
    a = stats.pass_order(13, seed=3, pass_index=0)
    assert sorted(a) == list(range(13))
    assert a == stats.pass_order(13, seed=3, pass_index=0)
    assert a != stats.pass_order(13, seed=3, pass_index=1)
    assert a != stats.pass_order(13, seed=4, pass_index=0)


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(1, 1, None, "query", 0.0, 10.0),
        Span(1, 2, 1, "plan.build", 1.0, 4.0),
        Span(1, 3, 2, "tables.load_table", 2.0, 3.0),
        Span(1, 4, 1, "exec.action", 3.5, 9.0),  # overlaps plan.build
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 8.0)  # union [1, 9]
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(5.5)
    by_name = stats.self_time_by_name(spans + [Span(5, 5, None, "query", 20.0, 21.0)])
    assert by_name["query"] == pytest.approx(3.0)
    # nested, non-overlapping spans: self times add up to the root's duration
    nested = [spans[0], spans[1], spans[2], Span(1, 4, 1, "exec.action", 4.0, 9.0)]
    assert sum(stats.self_times(nested).values()) == pytest.approx(10.0)


def test_parse_metric_reads_spark_rendering():
    assert parse_metric("12 ms") == pytest.approx(0.012)
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 3 ms, 9 ms (stage 3.0: task 7))") == pytest.approx(2.5)
    assert parse_metric("1.5 m") == pytest.approx(90.0)
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048.0
    assert parse_metric("1,024 B") == 1024.0


def test_generated_tables_are_a_function_of_the_seed():
    a = datagen.generate(0.001, seed=5)
    b = datagen.generate(0.001, seed=5)
    c = datagen.generate(0.001, seed=6)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    docs = a["documents"].to_pydict()
    assert all(n == len(t) for n, t in zip(docs["n_chars"], docs["text"]))
