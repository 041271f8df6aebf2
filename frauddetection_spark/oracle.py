"""Local DuckDB-oracle comparison harness.

Mirrors the driver's t2 check: for each declared query, run the Spark
DataFrame and the DuckDB twin on the same parquet tables and compare
row count + schema + an order-insensitive value hash. Used by
tests/test_oracle.py so a query is only *declared* once it's green here
(SURVEY.md §2 rule).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from frauddetection_spark.sources.tables import TABLE_NAMES


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str = ""


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return "\0null"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0nan"
        # queries round to 6dp already; this guards representation drift
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    # numpy containers/scalars: ndarray str() renders with whitespace
    # ("[ 45  8]") and differs between Arrow-enabled Spark toPandas and
    # DuckDB fetchdf — canonicalize through tolist()/item() instead.
    # (np.int64 etc. also route here; their python equivalents print
    # identically either way, so this is shape-normalizing only.)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        w = v.tolist()
        if isinstance(w, (list, tuple)):
            return "[" + ",".join(_canon_cell(x) for x in w) + "]"
        return _canon_cell(w)
    return str(v)


def _canon_frame(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    rows = [
        "|".join(_canon_cell(row[c]) for c in cols)
        for row in pdf.to_dict("records")
    ]
    rows.sort()
    return rows


def driver_canon_frame(pdf: pd.DataFrame) -> list[str]:
    """Vendored replica of the DRIVER's canonicalizer code path.

    The driver canonicalizes with pandas ``sort_values`` over the
    RAW columns before hashing — a path that raises ``TypeError:
    unhashable type`` on list/ndarray cells (as ``q_inverted_index``
    once did: the crash sits inside
    ``lexsort_indexer → Categorical → factorize``). The repo's
    own ``_canon_frame`` stringifies containers first and is therefore
    MORE permissive — local green did not predict driver green. This
    replica restores the ordering: ``compare()`` runs BOTH legs, so any
    output shape the driver's comparator cannot digest fails locally
    first. Cell rendering after the sort reuses ``_canon_cell`` (both
    engines' frames pass through the same renderer, so the leg differs
    from ``_canon_frame`` only in WHERE the sort happens — pandas
    ``sort_values`` on raw values, the driver's exact stress point).
    """
    cols = sorted(pdf.columns)
    out = pdf[cols]
    # mergesort = stable, and sort_values is the driver's crash site
    # for non-hashable cells — do NOT pre-stringify.
    out = out.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return [
        "|".join(_canon_cell(v) for v in row)
        for row in out.itertuples(index=False, name=None)
    ]


def driver_leg_mismatch_kind(da: list[str], db: list[str]) -> str:
    """Classify a driver-leg mismatch before anyone adjudicates it:
    the driver leg sorts RAW float columns while
    ``_canon_cell`` renders at 6dp, so sub-tolerance float drift on
    near-tied rows can order the two frames differently even though
    every rendered row matches. That is an ORDER-ONLY tie — a
    different (and much less alarming) failure class than an actual
    value diff, and the failure message must not misattribute it."""
    if sorted(da) == sorted(db):
        return (
            "order-only (raw-sort tie: same rows, different driver-leg "
            "sort order)"
        )
    return "value diff"


def compare(name: str, spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> CompareResult:
    sp = spark_df.toPandas()
    # cache hygiene: a full-catalog comparison session runs 100+
    # queries back-to-back; tracked per-query persists (shingle/IVF/
    # rank frontiers) must not accumulate across them
    from frauddetection_spark.operators.caching import release_caches

    release_caches()
    du = con.execute(sql).fetchdf()
    if sorted(sp.columns) != sorted(du.columns):
        return CompareResult(name, False, f"columns differ: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}")
    if len(sp) != len(du):
        return CompareResult(name, False, f"row count differs: spark={len(sp)} duckdb={len(du)}")
    a, b = _canon_frame(sp), _canon_frame(du)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return CompareResult(name, False, f"values differ; first diffs: {diffs}")
    # Second leg: the vendored DRIVER canonicalizer (the local
    # harness must be at least as strict as the driver's). A
    # TypeError here means the driver's pandas sort_values would crash
    # on this output shape even though values match.
    try:
        da, db = driver_canon_frame(sp), driver_canon_frame(du)
    except TypeError as exc:
        return CompareResult(
            name, False, f"driver canonicalizer would crash on this output: {exc}"
        )
    if da != db:
        diffs = [(x, y) for x, y in zip(da, db) if x != y][:3]
        return CompareResult(
            name,
            False,
            f"driver-leg canonicalization differs "
            f"[{driver_leg_mismatch_kind(da, db)}]; first diffs: {diffs}",
        )
    return CompareResult(name, True, f"{len(sp)} rows match (both comparator legs)")
