"""Hypothesis property tests: cross-implementation parity of the
engine's deterministic primitives (the hash family and fixed-point
policy must agree between a pure-Python reference, the Spark
expression, and — transitively, via the oracle suite — DuckDB).
Each example batch runs ONE Spark job (hypothesis drives the data,
not the job count).
"""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from frauddetection_spark.operators.sampling import (
    HASH_A1,
    HASH_A2,
    HASH_HALF,
    HASH_MOD,
    SPLIT_SEED,
    TRAIN_PCT,
    portable_split,
)
from frauddetection_spark.operators.textsim import P31, rolling_hash_sql

TEXT = st.text(alphabet=string.printable.strip(), min_size=0, max_size=60)


def _py_rolling_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % P31
    return h


def _py_split(key: int) -> str:
    lo = key % HASH_HALF
    hi = (key // HASH_HALF) % HASH_HALF
    h = (lo * HASH_A1 + hi * HASH_A2 + SPLIT_SEED) % HASH_MOD
    return "train" if h < (HASH_MOD * TRAIN_PCT) // 100 else "test"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(TEXT, min_size=1, max_size=50))
def test_rolling_hash_matches_python(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["s"])
    got = [r.h for r in df.select(F.expr(rolling_hash_sql("s")).alias("h")).collect()]
    assert got == [_py_rolling_hash(t) for t in texts]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=50
    )
)
def test_portable_split_matches_python(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = [
        r.s for r in df.select(portable_split(F.col("k")).alias("s")).collect()
    ]
    assert got == [_py_split(k) for k in keys]


def test_portable_split_ratio(spark):
    # over a large sequential key range the hash split must land near
    # the 80/20 target (multiplier is odd → full-period mod 2^32)
    df = spark.range(0, 200_000).select(
        portable_split(F.col("id")).alias("s")
    )
    frac = (
        df.agg(F.avg((F.col("s") == "train").cast("double"))).first()[0]
    )
    assert 0.78 <= frac <= 0.82


def _py_morton(x: int, y: int) -> int:
    m = 0
    for b in range(8):
        m |= ((x >> b) & 1) << (2 * b)
        m |= ((y >> b) & 1) << (2 * b + 1)
    return m


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_morton_interleave_matches_python(spark, pts):
    """The z-order SQL expression must agree with the bit-twiddling
    reference on arbitrary (x, y) — and be a bijection on the 16-bit
    domain (distinct inputs → distinct codes)."""
    from frauddetection_spark.queries.relational import _morton_sql

    df = spark.createDataFrame(pts, ["x", "y"])
    got = [
        r.m
        for r in df.select(F.expr(_morton_sql("div")).alias("m")).collect()
    ]
    want = [_py_morton(x, y) for x, y in pts]
    assert got == want
    assert len({_py_morton(x, y) for x, y in set(pts)}) == len(set(pts))


# --- oracle comparator canonicalization (the ndarray rendering fix) ---------


@given(
    # homogeneous lists only: engine array columns are typed (a bigint
    # array or a double array), and np.array([0, 0.0]) would upcast a
    # mixed list wholesale — a numpy artifact no real column hits
    st.one_of(
        st.lists(
            st.integers(min_value=-(2**40), max_value=2**40),
            min_size=0,
            max_size=8,
        ),
        st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            min_size=1,
            max_size=8,
        ),
    )
)
@settings(max_examples=50, deadline=None)
def test_canon_cell_numpy_matches_python(xs):
    # DuckDB fetchdf returns numpy arrays, Arrow toPandas may return
    # either — both must canonicalize identically to the python list
    import numpy as np

    from frauddetection_spark.oracle import _canon_cell

    assert _canon_cell(np.array(xs)) == _canon_cell(xs)
    if xs:
        assert _canon_cell(np.int64(7)) == _canon_cell(7)
        assert _canon_cell(np.float64(1.25)) == _canon_cell(1.25)


# --- prefix_rank vs the single-partition window oracle ----------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_rank_matches_window_oracle(spark, rows):
    # the two-phase range-partitioned form must equal the classic
    # unpartitioned running sum/rank on any input, including ties
    # (made total by a unique idx key)
    from pyspark.sql import Window

    from frauddetection_spark.operators.rank import prefix_rank

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "idx long, k long, v long"
    )
    got = {
        r["idx"]: (r["rn"], r["s"])
        for r in prefix_rank(
            df, [F.col("k"), F.col("idx")], sums={"s": F.col("v")}
        ).collect()
    }
    w = Window.orderBy("k", "idx").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["idx"]: (r["rn"], r["s"])
        for r in df.withColumn("rn", F.row_number().over(Window.orderBy("k", "idx")))
        .withColumn("s", F.sum("v").over(w))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Markov removal-effect driver tail: parity vs an independent
# reimplementation of the oracle SQL's ptab formulation
# ---------------------------------------------------------------------------

_MK_STATES = ["START", "view", "click", "signup"]
_MK_TARGETS = ["view", "click", "signup", "CONV", "NULL"]
_MK_SCEN = {"full": None, "rm_view": "view",
            "rm_click": "click", "rm_signup": "signup"}


def _ref_markov(mat, scenarios, mass0, steps):
    """Independent reference mirroring the oracle SQL shape: build the
    per-scenario ptab (redirected rows + absorbing self-loops, each row
    carrying its row-total r like the SQL window), then iterate the
    mass vector with the same floor((mass*c) div r) haircut — the
    structure of an earlier Spark-side tail, kept here as the
    cross-check."""
    ptab = []  # (scenario, s, t, c)
    for sc, removed in scenarios.items():
        folded = {}
        for s, t, c in mat:
            if s == removed:  # IS DISTINCT FROM: None never equals
                continue
            t = "NULL" if t == removed else t
            folded[(s, t)] = folded.get((s, t), 0) + c
        folded[("CONV", "CONV")] = folded.get(("CONV", "CONV"), 0) + 1
        folded[("NULL", "NULL")] = folded.get(("NULL", "NULL"), 0) + 1
        ptab.extend((sc, s, t, c) for (s, t), c in folded.items())
    r = {}
    for sc, s, _t, c in ptab:
        r[(sc, s)] = r.get((sc, s), 0) + c
    out = {}
    for sc in scenarios:
        mass = {"START": mass0}
        for _ in range(steps):
            nxt = {}
            for (sc2, s, t, c) in ptab:
                if sc2 == sc and s in mass:
                    nxt[t] = nxt.get(t, 0) + (mass[s] * c) // r[(sc, s)]
            mass = nxt
        out[sc] = (mass.get("CONV", 0), mass.get("NULL", 0))
    return out


@given(
    st.lists(
        st.tuples(
            st.sampled_from(_MK_STATES),
            st.sampled_from(_MK_TARGETS),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=200, deadline=None)
def test_markov_removal_matches_reference(mat):
    from frauddetection_spark.queries.behavior import (
        _MK_L,
        _MK_MASS,
        markov_removal_effects,
    )

    got = markov_removal_effects(mat, _MK_SCEN)
    want = _ref_markov(mat, _MK_SCEN, _MK_MASS, _MK_L)
    assert got == want
    for sc, (conv, null) in got.items():
        # floors only lose mass, never create it
        assert 0 <= conv and 0 <= null and conv + null <= _MK_MASS
        # removing a channel can only divert mass away from CONV
        assert conv <= got["full"][0] or sc == "full"
