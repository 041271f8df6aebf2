"""Seeded generator for the engine's ten input tables.

The benchmark cannot read any fixed test data: it builds its inputs from
``--seed`` alone, into a directory inside the checkout. The tables carry
the schemas ``frauddetection_spark.sources.tables.SCHEMAS`` pins and the
same shapes as the engine's reference test data at the same scale factor:

- a TPC-H-like star (region, nation, customer, supplier, part, orders,
  lineitem) with uniform keys, 1995-2001 order and ship dates and ~4
  lines per order;
- ``events``: a CDR-like stream over 2024-01-01 .. 2024-01-31, sorted by
  ``ts``, ~67 events per user, exponential ``value`` (mean 50) and a
  ``{"k": contact}`` payload over 100 contacts;
- ``documents``: 10-99 words from a 30-word vocabulary, 5% near
  duplicates (another document's text plus `` dup``);
- ``embeddings``: unit-norm float32 vectors of dimension 64 with labels
  0..9.

Same seed and scale give the same bytes (``fingerprint`` hashes them).

    python3 perfbench/datagen.py --seed 1 --sf 0.01 --out <dir>
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")
_CONTACTS = 100
_EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_DAY_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_EVENTS_START_US = np.datetime64("2024-01-01", "us").astype(np.int64)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _dates(rng: np.random.Generator, n: int, lo_day: int, span_days: int):
    days = _DAY_1995 + lo_day + rng.integers(0, span_days, n)
    return pa.array(days * _US_PER_DAY, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _ids(n: int):
    return pa.array(np.arange(n, dtype=np.int64))


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf``, drawn from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": _ids(n["customer"]),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": _ids(n["supplier"]),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN], dtype=object)
    keys = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names[rng.integers(0, len(names), n["part"])], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, _PTYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": _ids(n["orders"]),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n["orders"], 0, 2405),
        "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m)),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100),
        "l_returnflag": _pick(rng, ("A", "N", "R"), m),
        "l_linestatus": _pick(rng, ("F", "O"), m),
        "l_shipdate": _dates(rng, m, 1, 2499),
    })
    e = n["events"]
    users = max(1, n["customer"] // 10)
    ts = np.sort(_EVENTS_START_US + rng.integers(0, 30 * _US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": _ids(e),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, e)),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, e), 2))),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, _CONTACTS, e)]),
    })
    d = n["documents"]
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, d)]
    for i in rng.choice(d, size=d // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, d - 1)) % d] + " dup"
    out["documents"] = pa.table({
        "doc_id": _ids(d),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, d),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = n["embeddings"]
    vec = rng.standard_normal((v, _EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": _ids(v),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), _EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` and return the
    fingerprint of the written bytes."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return fingerprint(out_dir)


def fingerprint(data_dir: str) -> str:
    """SHA-256 over every table file, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(write(a.out, a.sf, a.seed))
