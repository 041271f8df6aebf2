"""Table facts follow the files: a table rewritten in place under a
long-lived session must not be answered from the old file's facts — the
common-neighbor stats, the IVF corpus size, or a persisted scan."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from frauddetection_spark.oracle import compare, duckdb_connection
from frauddetection_spark.plans.registry import load_all

REGISTRY = load_all()

# q_graph_triangles persists its canonical edge set and triangle frame;
# its answer depends on props.k
NAMES = ("q_join_common_neighbor", "q_ann_ivf", "q_graph_triangles")


def _shift_contacts(path: str, by: int) -> None:
    tbl = pq.read_table(path)
    props = [
        json.dumps({**d, "k": d["k"] + by}) if "k" in d else p
        for p, d in ((p, json.loads(p)) for p in tbl["props"].to_pylist())
    ]
    i = tbl.schema.get_field_index("props")
    pq.write_table(tbl.set_column(i, "props", pa.array(props)), path)


def test_queries_follow_in_place_rewrites(spark, sf_dir, tmp_path):
    d = str(tmp_path / "sf")
    # copyfile: the copies are writable even when the testdata is not
    shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)
    for name in NAMES:
        REGISTRY[name].fn(spark, d).collect()

    _shift_contacts(os.path.join(d, "events.parquet"), 1000)
    # sf0.1's 2,000 vectors move the IVF centroid count K from 32 to 64
    sf01 = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.1")
    shutil.copyfile(
        os.path.join(sf01, "embeddings.parquet"),
        os.path.join(d, "embeddings.parquet"),
    )

    # the persist-backed query first: a same-name repeat keeps its
    # registry caches, so only the catalog's release can drop them
    duck = duckdb_connection(d)
    try:
        for name in reversed(NAMES):
            spec = REGISTRY[name]
            res = compare(name, spec.fn(spark, d), duck, spec.oracle)
            assert res.ok, f"{name}: {res.detail}"
    finally:
        duck.close()



def test_contact_probe_matches_spark_domain(spark, tmp_path):
    """The driver-side common-neighbor probe sees exactly the contacts
    Spark's edges_from_events sees: an integer or integer-string ``k``
    is a contact; a missing ``k``, a null ``k``, a null ``props`` and
    unparseable JSON are not. (Non-integral and boolean ``k`` are left
    out: Spark's ANSI cast raises on them.)"""
    from collections import Counter

    from frauddetection_spark.operators.graph import (
        ContactStats,
        contact_stats,
        edges_from_events,
    )

    props = ['{"k": 5}', '{"k": "7"}', '{"k": -3}', "{}", '{"k": null}',
             None, "not json", '{"k": 5}', '{"k": 5}']
    users = [1, 2, 3, 1, 2, 3, 1, 2, 1]
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"user_id": pa.array(users, pa.int64()),
                  "props": pa.array(props, pa.string())}),
        path,
    )
    edges = edges_from_events(spark.read.parquet(path)).collect()
    deg = Counter(r.dst for r in edges)
    want = ContactStats(
        len(deg),
        len({r.src for r in edges}),
        sum(d * d for d in deg.values()),
        sorted(deg),
    )
    assert want == ContactStats(3, 3, 6, [-3, 5, 7])
    assert contact_stats(path) == want
