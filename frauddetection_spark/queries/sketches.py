"""Probabilistic sketch operators: Count-Min frequency estimation and
Bloom-filter membership — the two classic mergeable sketches the engine
family still lacked (HLL cardinality rides q_approx_count_distinct /
q_hll_rollup, KLL quantiles ride q_median_approx, MinHash rides
q_minhash_est).

Both sketches here are DETERMINISTIC (fixed public hash constants, the
repo's Lehmer-style integer family) so the DuckDB twin can rebuild the
bit-identical sketch and the driver's hash comparator checks the whole
estimate surface, not just row counts — the same discipline as
q_split_xxhash / q_random_walks. Engine-private-seed variants of both
exist in Spark (DataFrameStatFunctions.bloomFilter, countMinSketch) but
are driver-side builders with unobservable seeds; these queries keep
the build DISTRIBUTED (a partial-aggregated groupBy onto a
constant-size cell/word domain — the sketch property that makes them
the right tool at 100 TB: the shuffle is the sketch size, never the
data size).

Reference parity: the reference counts exact per-caller frequencies
in pandas (data_process.py value_counts); these are the sublinear
versions a 100-TB pipeline swaps in when exact per-key state stops
fitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import t

# ---------------------------------------------------------------------------
# Shared deterministic hash family: h(key; a, b) = ((key*a + b) % 8191) % m
# 8191 = 2^13 - 1 (Mersenne prime). key ≤ ~1e6, a ≤ 1.6e7 → key*a ≤
# 1.6e13, far inside int64 in both engines.
# ---------------------------------------------------------------------------

_CM_W = 64         # Count-Min width (counters per row)
_CM_AB = ((1299721, 7), (2750161, 101), (104729, 997), (15485863, 10007))

_BF_M = 65536      # Bloom bits (2048 32-bit words) — sized so k·n/m stays
#                    ≈0.3 at sf0.1's ~6.6k member keys → ~1.7% FP; at a
#                    real 100-TB member set you'd scale m the same way
#                    (the sketch is still broadcast-size at millions of
#                    bits)
_BF_AB = ((1500007, 11), (7368787, 419), (12582917, 7919))
_BF_ACCTBAL_MIN = 5000  # member rule: high-balance customers


def _sql_hash(key: str, a: int, b: int, m: int) -> str:
    return f"(({key} * {a} + {b}) % 8191) % {m}"


def _col_hash(key, a: int, b: int, m: int):
    return ((key * F.lit(a) + F.lit(b)) % 8191) % m


@register(
    "q_countmin",
    oracle=f"""
    WITH params(i, a, b) AS (VALUES
        (0, {_CM_AB[0][0]}, {_CM_AB[0][1]}),
        (1, {_CM_AB[1][0]}, {_CM_AB[1][1]}),
        (2, {_CM_AB[2][0]}, {_CM_AB[2][1]}),
        (3, {_CM_AB[3][0]}, {_CM_AB[3][1]})),
    sketch AS (
        SELECT p.i AS row_i,
               {_sql_hash('e.user_id', 'p.a', 'p.b', _CM_W)} AS col_i,
               CAST(count(*) AS BIGINT) AS cell
        FROM events e CROSS JOIN params p
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
        FROM events GROUP BY 1
    ),
    est AS (
        SELECT tr.user_id, tr.true_n, min(s.cell) AS est_n
        FROM truth tr
        CROSS JOIN params p
        JOIN sketch s
          ON s.row_i = p.i
         AND s.col_i = {_sql_hash('tr.user_id', 'p.a', 'p.b', _CM_W)}
        GROUP BY 1, 2
    )
    SELECT user_id, true_n, est_n, est_n - true_n AS overest
    FROM est ORDER BY user_id
    """,
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates: per-user event counts
    read back from a 4×64 counter grid built in ONE partial-aggregated
    groupBy, with the exact counts alongside to expose the sketch's
    one-sided error (est ≥ true always; the driver hash pins every
    estimate, and tests pin the one-sidedness as a property).

    Why this matters at 100 TB: the sketch build shuffles AT MOST
    d·w = 256 cells no matter how many events stream through — map
    tasks pre-aggregate the full grid locally (partial aggregation
    over a 256-value key domain), so the reduce stage is constant-size
    where an exact per-key count shuffles |keys| rows. The estimate
    probe joins the 256-row sketch BROADCAST — no second shuffle of
    the truth side. Deterministic public hash family → the DuckDB twin
    rebuilds the identical grid (engine-private
    stat.countMinSketch seeds can't be oracle-checked)."""
    e = t(spark, sf_dir, "events").select("user_id")
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_i"),
                _col_hash(F.col("user_id"), a, b, _CM_W).alias("col_i"),
            )
            for i, (a, b) in enumerate(_CM_AB)
        ]
    )
    sketch = (
        e.select(F.explode(cells).alias("c"))
        .select("c.row_i", "c.col_i")
        .groupBy("row_i", "col_i")
        .agg(F.count("*").alias("cell"))
    )
    truth = e.groupBy("user_id").agg(F.count("*").alias("true_n"))
    probes = truth.select(
        "user_id",
        "true_n",
        F.explode(cells).alias("c"),
    ).select("user_id", "true_n", "c.row_i", "c.col_i")
    return (
        probes.join(F.broadcast(sketch), ["row_i", "col_i"])
        .groupBy("user_id", "true_n")
        .agg(F.min("cell").alias("est_n"))
        .select(
            "user_id",
            "true_n",
            "est_n",
            (F.col("est_n") - F.col("true_n")).alias("overest"),
        )
    )


@register(
    "q_bloom_membership",
    oracle=f"""
    WITH params(i, a, b) AS (VALUES
        (0, {_BF_AB[0][0]}, {_BF_AB[0][1]}),
        (1, {_BF_AB[1][0]}, {_BF_AB[1][1]}),
        (2, {_BF_AB[2][0]}, {_BF_AB[2][1]})),
    members AS (
        SELECT c_custkey AS k FROM customer WHERE c_acctbal >= {_BF_ACCTBAL_MIN}
    ),
    filter_words AS (
        SELECT {_sql_hash('m.k', 'p.a', 'p.b', _BF_M)} // 32 AS word_i,
               bit_or(CAST(1 AS BIGINT) << ({_sql_hash('m.k', 'p.a', 'p.b', _BF_M)} % 32)) AS word
        FROM members m CROSS JOIN params p
        GROUP BY 1
    ),
    probes AS (
        SELECT DISTINCT o_custkey AS k FROM orders
    ),
    checks AS (
        -- coalesce BEFORE bool_and: a probe hash can land on a word no
        -- member ever set (LEFT JOIN misses -> NULL), and bool_and
        -- IGNORES nulls in both engines, silently upgrading a definite
        -- no to a maybe. Caught at sf0.001 where the filter is sparse.
        SELECT pr.k,
               bool_and(coalesce(
                 (w.word & (CAST(1 AS BIGINT) << ({_sql_hash('pr.k', 'p.a', 'p.b', _BF_M)} % 32)))
                  = (CAST(1 AS BIGINT) << ({_sql_hash('pr.k', 'p.a', 'p.b', _BF_M)} % 32)),
                 FALSE
               )) AS maybe
        FROM probes pr
        CROSS JOIN params p
        LEFT JOIN filter_words w
          ON w.word_i = {_sql_hash('pr.k', 'p.a', 'p.b', _BF_M)} // 32
        GROUP BY 1
    ),
    classed AS (
        SELECT ch.k,
               CASE WHEN m.k IS NOT NULL THEN 'true_member'
                    WHEN ch.maybe THEN 'false_positive'
                    ELSE 'true_negative' END AS cls,
               ch.maybe
        FROM checks ch LEFT JOIN members m ON m.k = ch.k
    )
    SELECT cls, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS key_checksum,
           CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership screen: a 65536-bit filter over
    high-balance customer keys, built as 2048 32-bit words (int64-stored; bit 31 max keeps both
    engines off the signed-shift-overflow edge at 1<<63) by ONE
    bit_or groupBy, probed by every ordering customer key; output is
    the confusion census (true members / false positives / true
    negatives) with key checksums, so both the zero-false-negative
    guarantee and the exact FP set are driver-hash-pinned.

    The 100-TB story is join pruning: the filter build shuffles ≤1024
    words regardless of member count (bit_or partial-aggregates
    map-side exactly like sum), the probe side joins the words
    BROADCAST, and a definite-no answer discards a probe row before
    any expensive join — this is precisely the runtime-filter
    (Bloom-pruned SMJ) Spark's AQE injects, reconstructed as an
    explicit, oracle-checkable operator with public hash constants
    (engine bloomFilter seeds are private; a filter whose bits the
    oracle can't rebuild can't be hash-checked). A member key is
    NEVER classed negative — pinned as a property test."""
    members = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= _BF_ACCTBAL_MIN)
        .select(F.col("c_custkey").alias("k"))
    )
    bit = lambda key, a, b: _col_hash(key, a, b, _BF_M)  # noqa: E731

    set_words = []
    for a, b in _BF_AB:
        h = bit(F.col("k"), a, b)
        set_words.append(
            F.struct((h / 32).cast("bigint").alias("word_i"), (h % 32).alias("bit_i"))
        )
    words = (
        members.select(F.explode(F.array(*set_words)).alias("w"))
        .select("w.word_i", "w.bit_i")
        .groupBy("word_i")
        .agg(
            F.bit_or(F.expr("shiftleft(cast(1 as bigint), bit_i)")).alias("word")
        )
    )
    probes = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    probe_bits = []
    for i, (a, b) in enumerate(_BF_AB):
        h = bit(F.col("k"), a, b)
        probe_bits.append(
            F.struct(
                (h / 32).cast("bigint").alias("word_i"),
                (h % 32).alias("bit_i"),
            )
        )
    checks = (
        probes.select("k", F.explode(F.array(*probe_bits)).alias("w"))
        .select("k", "w.word_i", "w.bit_i")
        .join(F.broadcast(words), "word_i", "left")
        .select(
            "k",
            F.expr(
                "(word & shiftleft(cast(1 as bigint), bit_i))"
                " = shiftleft(cast(1 as bigint), bit_i)"
            ).alias("bit_set"),
        )
        .groupBy("k")
        .agg(F.bool_and(F.coalesce(F.col("bit_set"), F.lit(False))).alias("maybe"))
    )
    classed = checks.join(
        F.broadcast(members.withColumn("is_m", F.lit(1))), "k", "left"
    ).select(
        "k",
        "maybe",
        F.when(F.col("is_m").isNotNull(), "true_member")
        .when(F.col("maybe"), "false_positive")
        .otherwise("true_negative")
        .alias("cls"),
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("key_checksum"),
            F.sum(F.when(F.col("maybe"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_maybe"),
        )
    )
