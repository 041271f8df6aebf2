"""Sampling operators (SURVEY.md §2.6 R1–R3): deterministic hash
splits, degree/class-weighted node sampling distributions, edge-class
sampling distributions.

Policy vs the reference: the reference splits with sklearn RNG
(`data_process.py:62-63`) and draws with `np.random.choice`
(`new_train_1.py:156`) — irreproducible across runs/engines. This
engine's splits are *hash-based*: membership is a pure function of the
key and seed, so a 1000-executor cluster assigns every row the same
way with zero coordination, resuming jobs re-derive the same split,
and the oracle can verify it.

Determinism of the probability queries: weights are built as exact
int64 (fixed-point sqrt / reciprocal-share factors), summed exactly,
and divided once at the end — so normalized distributions are
bit-identical across engines (same trick as operators/vectors.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Multiplicative hash over 31-bit key halves with sub-2^30 multipliers:
# every intermediate stays < 2^62, so the arithmetic is exact int64 for
# the FULL int64 key range (a single Knuth multiply overflows — and
# under ANSI mode crashes — for keys ≥ ~3.5e9; found by the hypothesis
# parity test). Production splits use xxhash64(key, seed) (better
# avalanche, any type); this form is the oracle-portable twin.
HASH_A1 = 999_999_937  # < 2^30, prime
HASH_A2 = 998_244_353  # < 2^30, prime
HASH_HALF = 1 << 31
HASH_MOD = 1 << 32


def portable_hash_u32(key: Column, seed: int) -> Column:
    """The engine's cross-engine hash primitive: uniform-ish uint32 in
    [0, 2³²) as a pure exact-int64 function of (key, seed). All the
    split/sample/seeding helpers below are thin wrappers over this.

    The high half is an arithmetic right shift (k >> 31) — exact
    floor division by 2³¹ for the FULL signed int64 range in Spark,
    DuckDB, and Python alike. A float floor-div here silently corrupts
    keys ≥ 2⁵³ (double precision), which a code review caught."""
    k = key.cast("bigint")
    lo = F.pmod(k, F.lit(HASH_HALF))
    hi = F.pmod(F.shiftright(k, 31), F.lit(HASH_HALF))
    return F.pmod(lo * HASH_A1 + hi * HASH_A2 + seed, F.lit(HASH_MOD))


def sql_portable_hash_u32(key: str, seed: int) -> str:
    """DuckDB twin of :func:`portable_hash_u32` (DuckDB's ``>>`` on
    BIGINT is the same arithmetic floor shift; ``%`` needs the
    double-pmod dance because DuckDB's ``%`` is signed remainder)."""
    k = f"CAST({key} AS BIGINT)"
    lo = f"(({k} % {HASH_HALF}) + {HASH_HALF}) % {HASH_HALF}"
    hi = f"((({k} >> 31) % {HASH_HALF}) + {HASH_HALF}) % {HASH_HALF}"
    return f"((({lo}) * {HASH_A1} + ({hi}) * {HASH_A2} + {seed}) % {HASH_MOD})"


# The train/test split: TRAIN_PCT% train, hashed with SPLIT_SEED.
TRAIN_PCT = 80
SPLIT_SEED = 12_345
_TRAIN_THRESH = (HASH_MOD * TRAIN_PCT) // 100


def portable_split(key: Column) -> Column:
    """'train'/'test' by multiplicative hash — reproducible anywhere."""
    h = portable_hash_u32(key, SPLIT_SEED)
    return F.when(h < _TRAIN_THRESH, F.lit("train")).otherwise(F.lit("test"))


def sql_portable_split(key: str) -> str:
    """DuckDB twin of :func:`portable_split`."""
    return (
        f"CASE WHEN {sql_portable_hash_u32(key, SPLIT_SEED)} < {_TRAIN_THRESH}"
        f" THEN 'train' ELSE 'test' END"
    )


def portable_uniform_keep(key: Column, keep_pct: int = 10, seed: int = 777) -> Column:
    """Boolean: keep ~keep_pct% of rows as a pure function of the key —
    the R4 uniform subsample. Same exact-int64 multiplicative hash as
    :func:`portable_split`, so membership is reproducible on any engine
    and any cluster size (no RNG state, no coordination)."""
    return portable_hash_u32(key, seed) < (HASH_MOD * keep_pct) // 100


def sql_portable_uniform_keep(key: str, keep_pct: int = 10, seed: int = 777) -> str:
    """DuckDB twin of :func:`portable_uniform_keep`."""
    thresh = (HASH_MOD * keep_pct) // 100
    return f"{sql_portable_hash_u32(key, seed)} < {thresh}"


XXHASH_SEED = 42


def xxhash_split(key: Column) -> Column:
    """Production split: xxhash64 — not oracle-portable (DuckDB has no
    xxhash64), declared rows-only."""
    return F.when(
        F.pmod(F.xxhash64(key, F.lit(XXHASH_SEED)), 100) < TRAIN_PCT,
        F.lit("train"),
    ).otherwise(F.lit("test"))


FIXED = 1_000_000  # fixed-point scale for weight factors
N_SALTS = 8  # salted_sum_count's reducers per hot key


def normalized_probability(df: DataFrame, raw_col: str) -> DataFrame:
    """prob = raw / Σraw with an exact int64 numerator and denominator;
    the single division is the only float op (bit-identical across
    engines). `raw_col` must be int64.

    The scalar total is attached via broadcast cross-join of a 1-row
    aggregate — NOT a global window (which would funnel every row
    through one partition at scale). ``df`` is read twice (the total
    and the probability projection), so it is persisted here — without
    it the caller's whole upstream plan replays for the 1-row
    aggregate."""
    from frauddetection_spark.operators.caching import track_cache

    df = track_cache(df.persist())
    total = df.agg(F.sum(raw_col).alias("_total"))
    return df.crossJoin(F.broadcast(total)).withColumn(
        "prob", F.col(raw_col).cast("double") / F.col("_total")
    ).drop("_total")


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    cents_col: str,
    salt_col: Column,
):
    """Skew-safe two-phase aggregation: groupBy(keys ⊕ salt) partial
    sums, then groupBy(keys) recombine. A hot key's rows land on
    N_SALTS reducers instead of one — the manual form of AQE's skew
    split, usable when a single group exceeds one executor's memory
    (e.g. one user with 10⁹ events at 100 TB).

    Only algebraic aggregates recombine (sum/count/min/max); the
    caller supplies an exact-int cents column per the determinism
    policy. Returns (keys..., cents_sum, n)."""
    salted = df.withColumn("_salt", F.pmod(salt_col, F.lit(N_SALTS)))
    partial = salted.groupBy(*keys, "_salt").agg(
        F.sum(cents_col).alias("_s"), F.count("*").alias("_c")
    )
    return partial.groupBy(*keys).agg(
        F.sum("_s").alias("cents_sum"), F.sum("_c").alias("n")
    )
