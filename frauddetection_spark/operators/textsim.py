"""Text-similarity operators: shingling, deterministic MinHash + LSH
banding, SimHash (SURVEY.md §2.8 E1/E2 + north-star dedup family).

Design constraints:
- Everything is exact int64 arithmetic end-to-end, so every stage is
  bit-reproducible in the DuckDB oracle — unlike ``ml.feature
  .MinHashLSH`` whose hash seeds are engine-private (that MLlib path is
  exercised separately as a rows-only query).
- No Python UDFs: hashing is a codegen'd fold over char sequences;
  min-hashing is explode + groupBy-min; banding is a weighted sum.
- Scale: the candidate-pair stage is the whole point of LSH — the join
  is on (band, key), never all-pairs. Hub buckets (a degenerate key
  shared by many docs) still explode quadratically, exactly like J4's
  hub contacts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Rolling hash h = h*31 + codepoint (mod p31): the engine's canonical
# cross-engine string hash (production: xxhash64).
P31 = 1_000_000_007

# MinHash universe prime and permutation count.
P_MH = 2_147_483_647  # 2^31 - 1
N_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows


def _lcg_params() -> list[tuple[int, int, int]]:
    """Deterministic (i, a, b) hash-permutation params via a fixed LCG
    (seeded constants — identical literals are embedded in oracle SQL)."""
    out, x = [], 88172645463325252
    for i in range(N_HASHES):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (P_MH - 2)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % P_MH
        out.append((i, a, b))
    return out


HASH_PARAMS = _lcg_params()


def rolling_hash_sql(col: str) -> str:
    """Spark-SQL fold: polynomial rolling hash over a string column's
    codepoints. Exact int64 at every step."""
    return (
        f"aggregate(transform(sequence(1, length({col})),"
        f" i -> ascii(substr({col}, i, 1))),"
        f" 0L, (acc, x) -> (acc * 31 + x) % {P31})"
    )


def rolling_hash_duckdb(col: str) -> str:
    """DuckDB twin of :func:`rolling_hash_sql` (list_reduce fold)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(range(1, length({col}) + 1),"
        f" i -> CAST(unicode({col}[i]) AS BIGINT))),"
        f" (acc, x) -> (acc * 31 + x) % {P31})"
    )


def token_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): per-position token hashes via a broadcast
    dictionary of DISTINCT token hashes.

    The char-fold rolling hash runs once per distinct token (a small
    vocabulary), never per occurrence — at corpus scale this turns
    ~10⁹ char folds into ~10⁵ plus a broadcast hash join."""
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "token")
    )
    th = (
        tok.select("token")
        .distinct()
        .withColumn("h", F.expr(rolling_hash_sql("token")))
    )
    return tok.join(F.broadcast(th), "token").select("doc_id", "pos", "h")


def word_shingles(docs: DataFrame) -> DataFrame:
    """Distinct hashed word 3-shingles per document:
    (doc_id, shingle: bigint).

    shingle = ((h₁·31 + h₂)·31 + h₃) mod p over consecutive token
    hashes (window leads, one shuffle on doc_id). Shingles are int64
    keys from the start — every downstream join/shuffle moves 8-byte
    ints instead of ~20-char strings. Hash collisions (p ≈ 2³⁰,
    birthday ≈ 3 pairs per 2.5M shingles) are deterministic and
    identical in the oracle twin."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = token_hashes(docs).select(
        "doc_id",
        (
            (
                (F.col("h") * 31 + F.lead("h", 1).over(w)) * 31
                + F.lead("h", 2).over(w)
            )
            % P31
        ).alias("shingle"),
    )
    return sh.filter(F.col("shingle").isNotNull()).distinct()


_SQL_TOKEN_HASHES = rf"""
        SELECT doc_id, generate_subscripts(toks, 1) AS pos,
               unnest(toks) AS token
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
              FROM documents)
"""

SQL_WORD_SHINGLES = rf"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               ((h * 31 + lead(h, 1) OVER w) * 31 + lead(h, 2) OVER w)
                   % {P31} AS shingle
        FROM (
            SELECT tok.doc_id, tok.pos, th.h
            FROM ({_SQL_TOKEN_HASHES}) tok
            JOIN (
                SELECT token, {{token_hash}} AS h
                FROM (SELECT DISTINCT token FROM ({_SQL_TOKEN_HASHES}))
            ) th USING (token)
        )
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE shingle IS NOT NULL
"""
SQL_WORD_SHINGLES = SQL_WORD_SHINGLES.replace(
    "{token_hash}", rolling_hash_duckdb("token")
)


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """MinHash over (doc_id, shingle:int64): sig_i = min over shingles
    of (a_i·shingle + b_i) mod p, i ∈ [0, N_HASHES). Returns the WIDE
    form (doc_id, sigs: array<bigint>[N_HASHES]).

    All 16 permutation minima are aggregate columns of ONE groupBy on
    doc_id — the shuffle moves |docs| rows of 16 int64s. The previous
    shape (explode ×16 → groupBy (doc_id, i)) shuffled 16× the rows
    and needed a SECOND shuffle to band them; at corpus scale the
    explode was the dominant stage of the whole dedup pipeline.
    Per-shingle CPU is identical (16 mod-muls either way, folded into
    map-side partial mins)."""
    mins = [
        F.min((F.lit(a) * F.col("shingle") + F.lit(b)) % P_MH).alias(f"s{i}")
        for i, a, b in HASH_PARAMS
    ]
    return (
        shingles.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[f"s{i}" for i in range(N_HASHES)]).alias("sigs"),
        )
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Band keys from wide signatures: key_b = Σ_r sigs[b·r + r]·31^r
    (order-sensitive exact-int combine, max < 2^48 — no overflow).
    Returns (doc_id, band, key).

    Pure map-side (explode of BANDS per-row structs) — banding adds
    ZERO shuffles on top of the signature aggregation."""
    entries = []
    for b in range(N_HASHES // BAND_ROWS):
        key: Column | None = None
        for r in range(BAND_ROWS):
            term = F.col("sigs")[b * BAND_ROWS + r] * (31**r)
            key = term if key is None else key + term
        entries.append(
            F.struct(F.lit(b).cast("int").alias("band"), key.alias("key"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.key")


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs sharing ≥1 band bucket: (doc_a, doc_b).

    The self-join is on (band, key) — never all-pairs.

    The band table is persisted here: both self-join sides reference
    it, and Spark plans them as independent subtrees — unpersisted, the
    upstream MinHash aggregation (the dominant stage of the dedup
    pipeline, see minhash_signatures) runs once PER SIDE (measured: the
    executed plan shows zero ReusedExchange across the aggregate
    boundary).
    The frame is |docs|·BANDS rows of three int64s — index-sized,
    never corpus-sized."""
    from frauddetection_spark.operators.caching import track_cache

    bands = track_cache(bands.persist())
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def exact_jaccard(
    pairs: DataFrame, shingles: DataFrame
) -> DataFrame:
    """Verify candidate pairs with exact shingle Jaccard:
    (doc_a, doc_b) → (doc_a, doc_b, n_common, jaccard).

    Joins the pair list back to the inverted index and counts common
    shingles; |A|,|B| come from per-doc sizes. All-int until the final
    division."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        pairs.join(
            shingles.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            shingles.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# --- SimHash -----------------------------------------------------------------

# 30 informative bits: token hashes are mod P31 < 2^30, so bits 30+
# of h are always zero — a wider signature would carry dead bits
# (the oracle twin shares the constant).
SIMHASH_BITS = 30


def simhash(docs: DataFrame) -> DataFrame:
    """Per-doc 30-bit SimHash over whitespace tokens weighted by count.

    token → rolling hash (via the shared token_hashes dictionary) →
    per-bit ±count contributions (parallel sum-aggregates — stays
    columnar, one shuffle on doc_id) → sign → packed bigint.
    Returns (doc_id, simhash)."""
    toks = (
        token_hashes(docs)
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("cnt"))
    )
    contrib = toks.select(
        "doc_id",
        *[
            F.when(F.expr(f"(h >> {b}) & 1") == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
            .alias(f"c{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    agg = contrib.groupBy("doc_id").agg(
        *[F.sum(f"c{b}").alias(f"s{b}") for b in range(SIMHASH_BITS)]
    )
    packed = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.cast("bigint").alias("simhash"))
