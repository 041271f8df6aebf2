"""Dedup + similarity-search queries (SURVEY.md §2.8 E1/E2/E3):
exact hash dedup, exact shingle-Jaccard, deterministic MinHash+LSH,
SimHash signatures, brute-force quantized-cosine kNN, embedding
near-dup pairs, and an MLlib-LSH ANN variant (rows-only).

Oracle twins are generated from the same constants as the Spark
implementations (operators/textsim.py, operators/vectors.py) so both
engines run the *same* integer algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frauddetection_spark.operators.textsim import (
    BAND_ROWS,
    HASH_PARAMS,
    N_HASHES,
    P_MH,
    SIMHASH_BITS,
    SQL_WORD_SHINGLES,
    exact_jaccard,
    lsh_bands,
    lsh_candidates,
    minhash_signatures,
    rolling_hash_duckdb,
    simhash,
    word_shingles,
)
from frauddetection_spark.operators.vectors import (
    KNN_K,
    QUERY_CAP,
    QUERY_MOD,
    SQL_COS,
    SQL_QUANTIZED,
    cosine_pairs,
    ivf_topk,
    knn_topk_bruteforce,
    neardup_pairs_bruteforce,
    quantize,
    sql_ivf,
    sql_pq,
)
from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import r6, t
from frauddetection_spark.sources.catalog import footer

JACCARD_MIN = 0.2
NEARDUP_COS = 0.4


# ---------------------------------------------------------------------------
# E1 — exact dedup by content hash
# ---------------------------------------------------------------------------


@register(
    "q_dedup_hash",
    oracle="""
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1 ORDER BY keeper_doc_id
    """,
)
def q_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by sha256(content), keep min(doc_id) —
    the canonical first pass of a pretraining dedup pipeline. One
    shuffle on the hash; at 100 TB, hash first so the shuffle moves
    64-hex keys instead of document bodies."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# E2 — exact shingle Jaccard (full inverted index)
# ---------------------------------------------------------------------------

@register(
    "q_shingle_jaccard",
    oracle=f"""
    WITH sh AS ({SQL_WORD_SHINGLES}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT m.doc_a, m.doc_b, m.n_common,
           CAST(m.n_common AS DOUBLE)
               / (sa.n + sb.n - m.n_common) AS jaccard
    FROM common m
    JOIN sz sa ON m.doc_a = sa.doc_id
    JOIN sz sb ON m.doc_b = sb.doc_id
    WHERE CAST(m.n_common AS DOUBLE) / (sa.n + sb.n - m.n_common)
          >= {JACCARD_MIN}
    ORDER BY doc_a, doc_b
    """,
)
def q_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-shingle Jaccard ≥ 0.2 via the
    inverted-index self-join (same decorrelation as J4's buildLSN —
    never all-pairs). Exact-int count arithmetic; one final division.
    The shingle relation feeds the self-join twice plus the size
    table — persist the shared frontier once (tracked: released by
    operators.caching.release_caches() between queries)."""
    sh = track_cache(word_shingles(t(spark, sf_dir, "documents")).persist())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )
    return (
        jac.filter(F.col("jaccard") >= JACCARD_MIN)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# E2 — deterministic MinHash + LSH banding (the scale path)
# ---------------------------------------------------------------------------

_SQL_MINHASH_PARAMS = ",\n        ".join(
    f"({i}, {a}, {b})" for i, a, b in HASH_PARAMS
)


def sql_minhash_pair_ctes() -> str:
    """CTE chain ``sh … dup`` ending in ``dup(doc_a, doc_b, n_common,
    jaccard)`` — the MinHash-LSH near-dup pairs with exact-Jaccard
    rerank ≥ JACCARD_MIN. Shared by q_dedup_minhash's oracle and the
    dup-group-resolution oracle (queries/llm_pipeline.py)."""
    return f"""sh AS ({SQL_WORD_SHINGLES}),
    params(i, a, b) AS (VALUES
        {_SQL_MINHASH_PARAMS}
    ),
    sigs AS (
        SELECT doc_id, p.i,
               min((p.a * sh.shingle + p.b) % {P_MH}) AS sig
        FROM sh CROSS JOIN params p GROUP BY 1, 2
    ),
    bands AS (
        SELECT doc_id, i // {BAND_ROWS} AS band,
               CAST(sum(sig * CAST(pow(31, i % {BAND_ROWS}) AS BIGINT))
                    AS BIGINT) AS key
        FROM sigs GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT m.doc_a, m.doc_b, m.n_common,
               CAST(m.n_common AS DOUBLE)
                   / (sa.n + sb.n - m.n_common) AS jaccard
        FROM common m
        JOIN sz sa ON m.doc_a = sa.doc_id
        JOIN sz sb ON m.doc_b = sb.doc_id
        WHERE CAST(m.n_common AS DOUBLE) / (sa.n + sb.n - m.n_common)
              >= {JACCARD_MIN}
    )"""


@register(
    "q_dedup_minhash",
    oracle=f"""
    WITH {sql_minhash_pair_ctes()}
    SELECT doc_a, doc_b, n_common, jaccard
    FROM dup ORDER BY doc_a, doc_b
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup the way it runs at 100 TB: MinHash signatures
    (16 permutations) → 4×4 LSH banding → bucket-join candidates →
    exact-Jaccard rerank ≥ 0.2. Unlike ml.feature.MinHashLSH, the hash
    family is explicit integer arithmetic, so the whole pipeline is
    reproducible in the oracle. Candidate generation is linear in
    corpus size (bucket join), not O(n²).

    The shingle relation feeds BOTH the signature path and the
    exact-Jaccard rerank; Spark plans them as separate subtrees (no
    ReusedExchange across the aggregate boundary), so persist it once
    — at 100 TB this is the classic cache-the-shared-frontier choice
    (MEMORY_AND_DISK, int64 pairs, far smaller than the raw text)."""
    docs = t(spark, sf_dir, "documents")
    sh = track_cache(word_shingles(docs).persist())
    cands = lsh_candidates(lsh_bands(minhash_signatures(sh)))
    return (
        exact_jaccard(cands, sh)
        .filter(F.col("jaccard") >= JACCARD_MIN)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# north-star — SimHash signatures
# ---------------------------------------------------------------------------

_SQL_SIMHASH_BITS = ",\n               ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_SQL_SIMHASH_PACK = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)


@register(
    "q_simhash",
    oracle=rf"""
    WITH tk AS (
        SELECT doc_id, token, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
              FROM documents)
        GROUP BY 1, 2
    ),
    th AS (SELECT doc_id, cnt, {rolling_hash_duckdb('token')} AS h FROM tk),
    bits AS (
        SELECT doc_id,
               {_SQL_SIMHASH_BITS}
        FROM th GROUP BY 1
    )
    SELECT doc_id, CAST({_SQL_SIMHASH_PACK} AS BIGINT) AS simhash
    FROM bits ORDER BY doc_id
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (count-weighted token hashes →
    per-bit majority vote → packed int). Near-dup candidates then come
    from hamming distance on a single bigint — the cheapest-possible
    shuffle key for fuzzy dedup at scale."""
    return simhash(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# E3 — brute-force quantized-cosine kNN
# ---------------------------------------------------------------------------


@register(
    "q_knn_cosine",
    oracle=f"""
    WITH q AS ({SQL_QUANTIZED}),
    cos AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
               {SQL_COS} AS cos
        FROM q a JOIN q b ON a.vec_id != b.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos DESC, neighbor
        ) AS rank FROM cos
    )
    SELECT vec_id, rank, neighbor, cos
    FROM ranked WHERE rank <= {KNN_K}
    ORDER BY vec_id, rank
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbors per embedding, brute force — the exact
    baseline every ANN variant is measured against. Fixed-point int64
    dot products (operators/vectors.py) make ranking identical across
    engines. O(n²·d): correct up to ~10⁵ vectors; beyond that use the
    LSH-bucketed variant (q_ann_lsh_ml) with this as the in-bucket
    rerank."""
    knn = knn_topk_bruteforce(t(spark, sf_dir, "embeddings"))
    return knn.select("vec_id", "rank", "neighbor", "cos")


# ---------------------------------------------------------------------------
# north-star — embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------


@register(
    "q_embed_neardup",
    oracle=f"""
    WITH q AS ({SQL_QUANTIZED}),
    cos AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {SQL_COS} AS cos
        FROM q a JOIN q b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos
    FROM cos WHERE cos >= {NEARDUP_COS}
    ORDER BY id_a, id_b
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.4 over unordered
    pairs. Same quantized machinery as q_knn_cosine."""
    pairs = neardup_pairs_bruteforce(t(spark, sf_dir, "embeddings"), NEARDUP_COS)
    return pairs.select("id_a", "id_b", "cos")


# ---------------------------------------------------------------------------
# E3 scale path — MLlib random-projection LSH (rows-only)
# ---------------------------------------------------------------------------


@register(
    "q_ann_lsh_ml",
    oracle=None,  # MLlib LSH hash seeds are engine-private → rows-only
)
def q_ann_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate pairs via MLlib BucketedRandomProjectionLSH
    (random-hyperplane buckets, euclidean). The 100-TB pattern:
    `approxSimilarityJoin` prunes the pair space to same-bucket
    collisions, then exact cosine reranks — here the rerank reuses the
    quantized dot product so downstream semantics match the oracle
    queries."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = t(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    # vectors are unit-norm → euclid² = 2−2·cos, so 1.1 ≈ cos ≥ 0.4:
    # the ANN twin of q_embed_neardup's threshold.
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=3,
        seed=42,
    )
    model = lsh.fit(emb)
    joined = model.approxSimilarityJoin(emb, emb, 1.1, distCol="euclid")
    pairs = joined.select(
        F.col("datasetA.vec_id").alias("id_a"),
        F.col("datasetB.vec_id").alias("id_b"),
        F.col("euclid"),
    ).filter(F.col("id_a") < F.col("id_b"))
    # exact quantized-cosine rerank on the candidate set
    q = quantize(t(spark, sf_dir, "embeddings"))
    rerank = cosine_pairs(q, q).join(pairs, ["id_a", "id_b"])
    return rerank.select(
        "id_a", "id_b", r6("cos").alias("cos"), r6("euclid").alias("euclid")
    )


@register("q_dedup_minhash_ml", oracle=None)
def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via the MLlib path (SURVEY E2's alternate
    route: HashingTF over shingle tokens → MinHashLSH →
    approxSimilarityJoin on Jaccard distance ≤ 0.8). Engine-private
    hash seeds → rows-only; the deterministic twin (q_dedup_minhash)
    pins the semantics. Exercises the sparse-vector MLlib surface."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = word_shingles(t(spark, sf_dir, "documents"))
    docs = sh.groupBy("doc_id").agg(
        F.collect_list(F.col("shingle").cast("string")).alias("toks")
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 18)
    feat = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.8, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            r6(1 - F.col("jaccard_dist")).alias("jaccard_approx"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


# ---------------------------------------------------------------------------
# E3 scale path — deterministic IVF (learned codebook + multi-probe)
# ---------------------------------------------------------------------------


def _embeddings_count(sf_dir: str) -> int:
    """Corpus size from the catalog's footer read: the IVF K pick and
    the kernels' block count must not launch Spark jobs at
    plan-construction time (tests/test_scale_lint.py)."""
    import os

    return footer(os.path.join(sf_dir, "embeddings.parquet")).num_rows


# Centroid count is ADAPTIVE: ivf_topk picks K = adaptive_centroids(n)
# ~ √n from the catalog's row count above — a FIXED K made the probed
# candidate space ~n²·nprobe/K, a hidden quadratic (tenfold data,
# hundredfold pair work). At the oracle-gate scale factors
# (sf0.001/0.01) embeddings has n=500, so K=32, not the floor of 16;
# the twin computes the same K from its CASE ladder, so the hashes
# match. NPROBE and IVF_ITERS live with the operator
# (operators/vectors.py), which both twins read.


@register("q_ann_ivf", oracle=sql_ivf())
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN, fully deterministic AND learned: a Lloyd-
    iterated codebook (seeded with the K lowest vec_ids, 2 exact-int
    refinement rounds) replaces the earlier fixed centroids, and search
    probes each vector's 8 nearest centroids (nprobe=8) instead of 1 —
    the two levers that lifted rank-1 recall from ~22% to ~0.81. K is
    adaptive (~√n, see adaptive_centroids), so the candidate space is
    ~n^1.5·nprobe instead of n² — the structural move that makes ANN
    scale; recall vs q_knn_cosine is pinned in
    tests/test_properties.py. Exact quantized arithmetic end-to-end ⇒
    oracle-checkable despite being approximate (operators/vectors.py::
    ivf_topk and sql_ivf are the same algorithm in both engines)."""
    return ivf_topk(t(spark, sf_dir, "embeddings"), _embeddings_count(sf_dir))


# Sampled-seeding IVF: the 100-TB codebook-training shape. Lloyd runs
# on a ~35% hash sample; seeds are a deterministic hash scatter
# (k-means‖'s spread without its RNG); the full table is touched only
# by the final assignment+search pass.
@register("q_ann_ivf_sampled", oracle=sql_ivf(seeding="sampled"))
def q_ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF kNN with SAMPLED codebook training — the shape that holds at
    100 TB, where `q_ann_ivf`'s full-table Lloyd pass is the bottleneck:
    here every Lloyd iteration reads only a ~35% hash sample (any pct
    works; 35 keeps sf0.01's 600-vector sample statistically meaningful)
    and the full corpus is scanned exactly once, by the final
    assignment + probe + rerank stage. The centroid count is adaptive
    (~√n) like q_ann_ivf's — fixed-K buckets grow linearly and the
    bucket rerank goes quadratic. Seeds are the sample's
    K smallest portable-hash values — id-order-independent
    spread, the deterministic stand-in for k-means‖ oversampling —
    making the whole path, sampling included, oracle-checkable.
    Recall vs the exact kNN is pinned in tests/test_properties.py."""
    return ivf_topk(
        t(spark, sf_dir, "embeddings"),
        _embeddings_count(sf_dir),
        seeding="sampled",
    )


# ---------------------------------------------------------------------------
# E2+ — MinHash estimator quality: estimated vs exact Jaccard per candidate
# ---------------------------------------------------------------------------


_MINHASH_EST_ORACLE = f"""
    WITH {sql_minhash_pair_ctes()},
    est AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
        GROUP BY 1, 2
    ),
    ex AS (
        SELECT m.doc_a, m.doc_b, m.n_common,
               CAST(m.n_common AS DOUBLE)
                   / (sa.n + sb.n - m.n_common) AS exact_jaccard
        FROM common m
        JOIN sz sa ON m.doc_a = sa.doc_id
        JOIN sz sb ON m.doc_b = sb.doc_id
    )
    SELECT e.doc_a, e.doc_b, e.n_match,
           CAST(e.n_match AS DOUBLE) / {N_HASHES} AS est_jaccard,
           x.n_common, x.exact_jaccard
    FROM est e JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    ORDER BY e.doc_a, e.doc_b
    """


@register("q_minhash_est", oracle=_MINHASH_EST_ORACLE)
def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator diagnostics: for every LSH candidate pair,
    the signature-agreement Jaccard ESTIMATE (matching components /
    16) side by side with the exact shingle Jaccard — the query an
    engineer runs before trusting a banding config at corpus scale
    (est−exact spread ⇒ permutation count; candidate recall ⇒ band
    geometry). Signature agreement is computed JVM-side
    (zip_with + filter + size over the two 16-int arrays); the exact
    rerank reuses the shared shingle frontier. Both engines run the
    identical integer hash family, so even the ESTIMATE hash-matches."""
    docs = t(spark, sf_dir, "documents")
    sh = track_cache(word_shingles(docs).persist())
    sigs = minhash_signatures(sh)
    cands = lsh_candidates(lsh_bands(sigs))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sigs").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sigs").alias("sig_b"))
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda v: v,
                )
            )
            .cast("bigint")
            .alias("n_match"),
        )
    )
    ex = exact_jaccard(cands, sh).select(
        "doc_a", "doc_b", "n_common", F.col("jaccard").alias("exact_jaccard")
    )
    return (
        est.join(ex, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            (F.col("n_match").cast("double") / N_HASHES).alias("est_jaccard"),
            "n_common",
            "exact_jaccard",
        )
    )


# ---------------------------------------------------------------------------
# E3+ — asymmetric query-batch kNN (broadcast the small probe set)
# ---------------------------------------------------------------------------

@register(
    "q_ann_query_batch",
    oracle=f"""
    WITH q AS ({SQL_QUANTIZED}),
    cos AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
               {SQL_COS} AS cos
        FROM q a JOIN q b
          ON a.vec_id % {QUERY_MOD} = 0
         AND a.vec_id < {QUERY_MOD * QUERY_CAP}
         AND b.vec_id != a.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor
        ) AS rank FROM cos
    )
    SELECT query_id, rank, neighbor, cos
    FROM ranked WHERE rank <= {KNN_K}
    ORDER BY query_id, rank
    """,
)
def q_ann_query_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric similarity search: a FIXED probe batch (the first
    {QUERY_CAP} multiples of {QUERY_MOD}) against the full corpus —
    the serving shape, distinct from the self-join of q_knn_cosine.
    Runs the cogrouped numpy int64 matmul kernel
    (operators/vectors.py::query_batch_topk): the corpus stays
    in its natural hash block, the probe set is replicated onto every
    block, each pair meets in exactly one kernel call, and tiles emit
    only their local top-k. The numpy kernel replaces Catalyst
    zip_with/aggregate dot products, which never enter whole-stage
    codegen (the IVF-rerank lesson), with the identical int64-dot +
    one-IEEE-division arithmetic the DuckDB twin runs — still
    hash-equal. Scale: QUERY_CAP·n dots — linear per decade by
    construction (the old probes-as-5%-of-corpus rule was a quadratic
    hiding inside the serving query; a growing probe WORKLOAD is sharded
    into fixed batches by the caller, it never rides one query). At
    100 TB the same plan holds until the per-batch corpus scan
    itself is the bottleneck, at which point the IVF bucket route
    (q_ann_ivf) takes over."""
    from frauddetection_spark.operators.vectors import query_batch_topk

    emb = t(spark, sf_dir, "embeddings")
    q_all = quantize(emb).select("vec_id", "qv", "n2")
    probes = q_all.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * QUERY_CAP)
    )
    return query_batch_topk(q_all, probes, _embeddings_count(sf_dir))


# ---------------------------------------------------------------------------
# E3++ — product-quantization ANN (compressed-domain search)
# ---------------------------------------------------------------------------


@register("q_ann_pq", oracle=sql_pq())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN for the q_ann_query_batch probe set —
    the MEMORY-compressed scale path: the corpus index is 8 codebook
    codes per vector (vs 64 dims), ~64× smaller, which is what lets a
    10⁹-vector index stay resident at 100 TB. Per-subspace codebooks
    are Lloyd-trained on exact-int L2; search is asymmetric-distance
    (each query's m×ksub LUT joined to the codes — corpus vectors are
    never touched until the final exact rerank of the top-64 ADC
    candidates). Deterministic end-to-end, so even the approximate
    ADC scores hash-match the DuckDB twin (operators/vectors.py::
    pq_topk / sql_pq). Recall vs the exact batch kNN is pinned in
    tests/test_fraud.py."""
    from frauddetection_spark.operators.vectors import pq_topk

    return pq_topk(t(spark, sf_dir, "embeddings"), _embeddings_count(sf_dir))


# ---------------------------------------------------------------------------
# sparse TF-vector cosine similarity join (inverted index, df-pruned)
# ---------------------------------------------------------------------------

_SC_DF_MAX = 20     # drop shingles present in > this many docs (stopword cut)
_SC_MIN_SHARED = 2  # candidate pairs must share >= this many shingles
_SC_MIN_COS = 0.15  # emitted similarity threshold


@register(
    "q_sparse_cosine",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM t, unnest(generate_series(1, len(w) - 2)) AS g(i)
    ),
    tf AS (SELECT doc_id, shingle, count(*) AS tf FROM sh GROUP BY 1, 2),
    df AS (SELECT shingle, count(*) AS df FROM tf GROUP BY 1),
    kept AS (
        SELECT tf.* FROM tf JOIN df USING (shingle)
        WHERE df.df <= {_SC_DF_MAX}
    ),
    norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM kept GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.tf * b.tf) AS BIGINT) AS dot,
               count(*) AS n_shared
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= {_SC_MIN_SHARED}
    )
    SELECT doc_a, doc_b, n_shared, dot,
           dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) AS cosine
    FROM pairs
    JOIN norms na ON pairs.doc_a = na.doc_id
    JOIN norms nb ON pairs.doc_b = nb.doc_id
    WHERE dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) >= {_SC_MIN_COS}
    ORDER BY doc_a, doc_b
    """,
)
def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse cosine similarity over word-3-shingle TF
    vectors — the WEIGHTED sibling of q_shingle_jaccard's set overlap
    (repeated shingles count, so boilerplate-heavy near-dups score
    higher than incidental overlaps). Classic inverted-index similarity
    join: candidates come only from shared-shingle postings (never
    doc × doc), and shingles appearing in > {_SC_DF_MAX} docs are
    dropped first — the document-frequency prune that bounds posting
    lists, which is THE scale lever at 100 TB (common shingles
    contribute little to cosine but dominate Σdf² join cost). Dot
    products and norms are exact ints; one final double
    division/sqrt written identically in both twins."""
    docs = t(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.split("text", r"\s+").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2), "
                    "i -> concat(element_at(w, i), ' ', "
                    "element_at(w, i + 1), ' ', element_at(w, i + 2)))"
                )
            ).alias("shingle"),
        )
    )
    # tf feeds BOTH the df counts and the kept join — persist it or
    # the shingle explode + TF shuffle replays
    tf = track_cache(
        sh.groupBy("doc_id", "shingle").agg(F.count("*").alias("tf")).persist()
    )
    df = tf.groupBy("shingle").agg(F.count("*").alias("df"))
    # Every join below is between DATA-SCALED relations (postings,
    # pair aggregates, per-doc norms): pin them to shuffle joins. AQE
    # can broadcast-convert the posting self-join at sf10 —
    # repeated shingle strings compress the shuffled side
    # under the 64 MB threshold while decompressing to 3.7 GiB in the
    # broadcast build, which is equally wrong on a 1000-executor
    # cluster (a posting relation grows with the corpus; only truly
    # bounded dims may broadcast).
    kept = track_cache(
        tf.join(
            df.filter(F.col("df") <= _SC_DF_MAX).hint("merge"), "shingle"
        )
        .select("doc_id", "shingle", "tf")
        .persist()
    )
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    pairs = (
        kept.alias("a")
        .join(kept.alias("b").hint("merge"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.tf") * F.col("b.tf")).cast("bigint").alias("dot"),
            F.count("*").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= _SC_MIN_SHARED)
    )
    cos = F.col("dot") / F.sqrt(
        F.col("na_n2").cast("double") * F.col("nb_n2")
    )
    return (
        pairs.join(
            norms.select(
                F.col("doc_id").alias("doc_a"), F.col("n2").alias("na_n2")
            ).hint("merge"),
            "doc_a",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb_n2")
            ).hint("merge"),
            "doc_b",
        )
        .filter(cos >= _SC_MIN_COS)
        .select("doc_a", "doc_b", "n_shared", "dot", cos.alias("cosine"))
    )


# ---------------------------------------------------------------------------
# SimHash hamming-ball pairs (bit-band LSH join)
# ---------------------------------------------------------------------------

_SH_BANDS = 4                       # bands over the 32-bit signature
_SH_BAND_BITS = SIMHASH_BITS // _SH_BANDS
_SH_MAX_HAMMING = 3                 # accept pairs within this distance


@register(
    "q_simhash_pairs",
    oracle=rf"""
    WITH tk AS (
        SELECT doc_id, token, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
              FROM documents)
        GROUP BY 1, 2
    ),
    th AS (SELECT doc_id, cnt, {rolling_hash_duckdb('token')} AS h FROM tk),
    bits AS (
        SELECT doc_id,
               {_SQL_SIMHASH_BITS}
        FROM th GROUP BY 1
    ),
    sig AS (
        SELECT doc_id, CAST({_SQL_SIMHASH_PACK} AS BIGINT) AS simhash
        FROM bits
    ),
    bands AS (
        SELECT doc_id, simhash, b.b AS band,
               (simhash >> (b.b * {_SH_BAND_BITS}))
                   & {(1 << _SH_BAND_BITS) - 1} AS band_val
        FROM sig CROSS JOIN
             (SELECT unnest(generate_series(0, {_SH_BANDS - 1})) AS b) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_SH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via bit-band LSH — the Google-crawl
    dedup design (Manku et al.): split each signature into {B} bands,
    bucket-join on any exact band match (a pair within hamming ≤ {H}
    of a {W}-bit signature must agree on ≥1 band by pigeonhole — no
    recall loss), then verify the exact hamming distance with one
    bit_count(xor) per candidate. Candidate volume is Σ per-bucket²
    over band buckets — linear for non-degenerate signatures, never
    all-pairs; the verify is integer-exact in both engines. Completes
    the near-dup family: MinHash bands ≈ Jaccard, SimHash bands ≈
    cosine-of-counts, both sharing the band-bucket-join scale shape."""
    # sig feeds BOTH sides of the band bucket join — persist the tiny
    # (doc_id, simhash) table or the whole 32-column signature build
    # (token hashes → per-bit contributions → pack) replays twice
    sig = track_cache(simhash(t(spark, sf_dir, "documents")).persist())
    bands_idx = spark.range(_SH_BANDS).select(F.col("id").alias("band"))
    mask = (1 << _SH_BAND_BITS) - 1
    bands = sig.crossJoin(F.broadcast(bands_idx)).select(
        "doc_id",
        "simhash",
        "band",
        F.expr(
            f"(simhash >> (band * {_SH_BAND_BITS})) & {mask}"
        ).alias("band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("ha"),
        "band",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("hb"),
        "band",
        "band_val",
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    hamming = F.expr("bit_count(ha ^ hb)")
    return (
        cand.filter(hamming <= _SH_MAX_HAMMING)
        .select(
            "doc_a",
            "doc_b",
            hamming.cast("bigint").alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# E2+ — asymmetric shingle containment (doc-inside-doc detection)
# ---------------------------------------------------------------------------

CONTAIN_MIN_PCT = 40  # integer percent threshold on the smaller side


@register(
    "q_shingle_containment",
    oracle=f"""
    WITH sh AS ({SQL_WORD_SHINGLES}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT m.doc_a, m.doc_b, m.n_common, sa.n AS na, sb.n AS nb,
           CAST(m.n_common AS DOUBLE) / sa.n AS contain_a_in_b,
           CAST(m.n_common AS DOUBLE) / sb.n AS contain_b_in_a
    FROM common m
    JOIN sz sa ON m.doc_a = sa.doc_id
    JOIN sz sb ON m.doc_b = sb.doc_id
    WHERE 100 * m.n_common >= {CONTAIN_MIN_PCT} * least(sa.n, sb.n)
    ORDER BY doc_a, doc_b
    """,
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| in both
    directions for candidate pairs — the doc-inside-doc signal Jaccard
    structurally misses (a 50-shingle quote fully embedded in a
    2000-shingle article has Jaccard 0.025 but containment 1.0; corpus
    dedup that only thresholds Jaccard ships the duplicated quote,
    which is how boilerplate and license blocks survive into training
    sets — Broder's original resemblance/containment pair, both
    needed). Same linear inverted-index candidate generation as
    q_shingle_jaccard (never all-pairs); the admission test
    cross-multiplies to the exact integer 100·|∩| ≥ 40·min(|A|,|B|) so
    no float threshold boundary picks the row set, and the two
    containment ratios are single exact-int divisions emitted
    identically in both twins."""
    sh = track_cache(word_shingles(t(spark, sf_dir, "documents")).persist())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .filter(
            100 * F.col("n_common")
            >= CONTAIN_MIN_PCT * F.least(F.col("na"), F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "na",
            "nb",
            (F.col("n_common").cast("double") / F.col("na")).alias(
                "contain_a_in_b"
            ),
            (F.col("n_common").cast("double") / F.col("nb")).alias(
                "contain_b_in_a"
            ),
        )
    )


# ---------------------------------------------------------------------------
# E3+ — random-hyperplane (SimHash-for-vectors) cosine sketch
# ---------------------------------------------------------------------------

# cos(π·h/64) for hamming distances h = 0..64, 1e-9-quantized — the
# Charikar estimator as an integer constant table shared by both twins
# (zero query-time transcendentals)
_HP_COS_E9 = (1000000000, 998795456, 995184727, 989176510, 980785280, 970031253, 956940336, 941544065, 923879533, 903989293, 881921264, 857728610, 831469612, 803207531, 773010453, 740951125, 707106781, 671558955, 634393284, 595699304, 555570233, 514102744, 471396737, 427555093, 382683432, 336889853, 290284677, 242980180, 195090322, 146730474, 98017140, 49067674, 0, -49067674, -98017140, -146730474, -195090322, -242980180, -290284677, -336889853, -382683432, -427555093, -471396737, -514102744, -555570233, -595699304, -634393284, -671558955, -707106781, -740951125, -773010453, -803207531, -831469612, -857728610, -881921264, -903989293, -923879533, -941544065, -956940336, -970031253, -980785280, -989176510, -995184727, -998795456, -1000000000)
_HP_PLANES = 64
# Plane signs come from md5 nibble parity — NOT the Lehmer family used
# elsewhere: parity of a linear-congruential product is itself nearly
# linear in k, and the resulting ±1 matrix was rank-50 with duplicate
# planes (plane-plane correlation 1.0), collapsing the estimator to
# MAE≈0.5 where theory promises ≈0.15. md5's avalanche gives a
# full-rank, near-orthogonal plane set at identical SQL cost; both
# engines lowercase-hex md5 identically.
_SQL_HP_COS_CASE = "CASE hamming WHEN 0 THEN 1000000000 WHEN 1 THEN 998795456 WHEN 2 THEN 995184727 WHEN 3 THEN 989176510 WHEN 4 THEN 980785280 WHEN 5 THEN 970031253 WHEN 6 THEN 956940336 WHEN 7 THEN 941544065 WHEN 8 THEN 923879533 WHEN 9 THEN 903989293 WHEN 10 THEN 881921264 WHEN 11 THEN 857728610 WHEN 12 THEN 831469612 WHEN 13 THEN 803207531 WHEN 14 THEN 773010453 WHEN 15 THEN 740951125 WHEN 16 THEN 707106781 WHEN 17 THEN 671558955 WHEN 18 THEN 634393284 WHEN 19 THEN 595699304 WHEN 20 THEN 555570233 WHEN 21 THEN 514102744 WHEN 22 THEN 471396737 WHEN 23 THEN 427555093 WHEN 24 THEN 382683432 WHEN 25 THEN 336889853 WHEN 26 THEN 290284677 WHEN 27 THEN 242980180 WHEN 28 THEN 195090322 WHEN 29 THEN 146730474 WHEN 30 THEN 98017140 WHEN 31 THEN 49067674 WHEN 32 THEN 0 WHEN 33 THEN -49067674 WHEN 34 THEN -98017140 WHEN 35 THEN -146730474 WHEN 36 THEN -195090322 WHEN 37 THEN -242980180 WHEN 38 THEN -290284677 WHEN 39 THEN -336889853 WHEN 40 THEN -382683432 WHEN 41 THEN -427555093 WHEN 42 THEN -471396737 WHEN 43 THEN -514102744 WHEN 44 THEN -555570233 WHEN 45 THEN -595699304 WHEN 46 THEN -634393284 WHEN 47 THEN -671558955 WHEN 48 THEN -707106781 WHEN 49 THEN -740951125 WHEN 50 THEN -773010453 WHEN 51 THEN -803207531 WHEN 52 THEN -831469612 WHEN 53 THEN -857728610 WHEN 54 THEN -881921264 WHEN 55 THEN -903989293 WHEN 56 THEN -923879533 WHEN 57 THEN -941544065 WHEN 58 THEN -956940336 WHEN 59 THEN -970031253 WHEN 60 THEN -980785280 WHEN 61 THEN -989176510 WHEN 62 THEN -995184727 WHEN 63 THEN -998795456 WHEN 64 THEN -1000000000 END"


@register(
    "q_hyperplane_est",
    oracle=f"""
    WITH comp AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings
    ),
    proj AS (
        SELECT c.vec_id, p.j,
               CAST(sum(c.q * (CASE ascii(substr(md5(CAST(
                                     c.i * {_HP_PLANES} + p.j AS VARCHAR)),
                                     1, 1)) % 2
                               WHEN 0 THEN 1 ELSE -1 END)) AS BIGINT) AS s
        FROM comp c CROSS JOIN (SELECT unnest(range({_HP_PLANES})) AS j) p
        GROUP BY 1, 2
    ),
    sig AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN j < 32 AND s >= 0
                             THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS w0,
               CAST(sum(CASE WHEN j >= 32 AND s >= 0
                             THEN (CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER))
                             ELSE 0 END) AS BIGINT) AS w1
        FROM proj GROUP BY 1
    ),
    norms AS (
        SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS nrm
        FROM comp GROUP BY 1
    ),
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(sum(a.q * b.q) AS BIGINT) AS dot
        FROM comp a JOIN comp b
          ON b.vec_id = a.vec_id + 1 AND b.i = a.i
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d.vec_a, d.vec_b,
               bit_count(xor(sa.w0, sb.w0)) + bit_count(xor(sa.w1, sb.w1))
                   AS hamming,
               d.dot, na.nrm AS nrm_a, nb.nrm AS nrm_b
        FROM dots d
        JOIN sig sa ON sa.vec_id = d.vec_a
        JOIN sig sb ON sb.vec_id = d.vec_b
        JOIN norms na ON na.vec_id = d.vec_a
        JOIN norms nb ON nb.vec_id = d.vec_b
    )
    SELECT vec_a, vec_b, CAST(hamming AS BIGINT) AS hamming,
           CAST({_SQL_HP_COS_CASE} AS BIGINT) AS est_cos_e9,
           CAST(dot AS DOUBLE)
               / sqrt(CAST(nrm_a AS DOUBLE) * CAST(nrm_b AS DOUBLE))
               AS cos_exact
    FROM pairs ORDER BY vec_a
    """,
)
def q_hyperplane_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane cosine sketch (Charikar's SimHash for dense
    vectors): each embedding compresses to a 64-bit sign signature
    (two 32-bit words — bit 31 max, same signed-shift discipline as
    q_bloom_membership), and any pair's cosine is then estimated as
    cos(π·hamming/64) — popcount-of-xor per pair, O(1) instead of
    O(d). Validated sketch-vs-exact on the consecutive-id pair spine:
    output carries the hamming distance, the constant-table estimate,
    and the exact quantized-integer cosine side by side (the
    q_minhash_est pattern — the error structure is in the hash, so
    the comparator checks the estimator itself, not just plumbing).

    Determinism: plane signs are ±1 by Lehmer parity of (i·64+j) —
    real Gaussian hyperplanes can't be oracle-rebuilt; for sign
    sketches, ±1 (Rademacher) planes are the standard
    derandomization. Components quantize to 1e-6 ints BEFORE any
    cross-row arithmetic, projections/norms/dots are exact int64
    sums, the cos(π·h/64) table is 65 precomputed 1e-9 integers
    inlined into both twins, and the one sqrt is IEEE-exact. Scale:
    signature build is ONE map-only Arrow kernel pass — a d×64 int64
    matmul per vector batch (previously an explode(d)×planes
    join generating |vecs|·d·64 rows plus three shuffling
    aggregates); at serving time the signature table replaces the
    full-vector table in any pairwise stage — 8 bytes vs 4·d, and
    hamming screens pairs before the exact rerank touches vectors
    (the LSH banding of q_simhash_pairs applies unchanged)."""
    emb = t(spark, sf_dir, "embeddings")
    # Kernel rewrite (guide §2.3/§4.2; the IVF-scoring precedent):
    # the old plan exploded every embedding into |vecs|·d
    # component rows, fanned them ×64 through a broadcast-joined sign
    # grid (|vecs|·d·64 generated rows — 819M at sf10, ~4e12 at 10⁹
    # vectors), rebuilt signatures and norms with two more shuffling
    # aggregates, and computed the spine dots through an exploded
    # (vec_a, i) join. One map-only Arrow kernel now computes the
    # projection as a d×64 int64 matmul per vector batch and emits
    # (vec_id, w0, w1, nrm, qv) in a single pass — no component
    # explosion, no sign-grid join, no signature/norm shuffles; the
    # pair spine is ONE self-join on consecutive ids with the
    # zip_with int-dot (the cosine_pairs idiom). Exactness:
    # quantization stays the SAME Spark-side round(x·1e6) expression
    # (computed before the kernel, so no float-rounding reimplement);
    # plane signs come from hashlib.md5 over the identical (i·64+j)
    # decimal strings — byte-equal to the twin's md5 — and
    # projections/norms are order-free int64 sums, so the unchanged
    # DuckDB twin still hash-matches (checked at sf0.001/0.01/0.1).
    import pandas as pd

    qv1m = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    quant = emb.select("vec_id", qv1m.alias("qv")).filter(
        F.col("qv").isNotNull() & (F.size("qv") > 0)
    )

    def _hp_sig(batches):
        import hashlib

        import numpy as np

        S = None
        for pdf in batches:
            if pdf.empty:
                continue
            # Guards: the old posexplode+SUM plan silently
            # treated null elements as 0 and tolerated ragged widths
            # row-by-row; a bare np.stack().astype(int64) would either
            # crash opaquely (ragged/None) or — worse — coerce NaN to
            # garbage int64 silently. Fast path is unchanged for
            # regular data (np.stack of int64 rows); irregular rows
            # get null→0 (the SUM-skip semantics) and ragged widths
            # raise naming the offending vec_ids.
            try:
                Q = np.stack([np.asarray(v) for v in pdf["qv"].to_list()])
            except ValueError as e:
                bad = pdf["vec_id"].to_numpy()[:8].tolist()
                raise ValueError(
                    "hyperplane sketch: ragged embedding widths in "
                    f"batch containing vec_ids {bad}: {e}"
                ) from e
            if Q.dtype != np.int64:
                Q = np.nan_to_num(
                    Q.astype(np.float64), nan=0.0
                ).astype(np.int64)
            if S is not None and Q.shape[1] != S.shape[0]:
                bad = pdf["vec_id"].to_numpy()[:8].tolist()
                raise ValueError(
                    f"hyperplane sketch: embedding width {Q.shape[1]} "
                    f"!= sign-grid width {S.shape[0]} in batch "
                    f"containing vec_ids {bad}"
                )
            if S is None:
                d = Q.shape[1]
                S = np.empty((d, _HP_PLANES), dtype=np.int64)
                for i in range(d):
                    for j in range(_HP_PLANES):
                        h = hashlib.md5(
                            str(i * _HP_PLANES + j).encode()
                        ).hexdigest()
                        S[i, j] = 1 if ord(h[0]) % 2 == 0 else -1
            P = Q @ S  # |batch|×64 exact int64 projections
            bits = (P >= 0).astype(np.int64)
            pow32 = np.int64(1) << np.arange(32, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "w0": bits[:, :32] @ pow32,
                    "w1": bits[:, 32:] @ pow32,
                    "nrm": (Q * Q).sum(axis=1),
                    "qv": pdf["qv"],
                }
            )

    # referenced by both spine sides — one persist replaces the old
    # three (comp / sig / norms)
    hp = track_cache(
        quant.mapInPandas(
            _hp_sig,
            schema=(
                "vec_id bigint, w0 bigint, w1 bigint, nrm bigint,"
                " qv array<bigint>"
            ),
        ).persist()
    )
    # build the CASE chain from the shared constant table
    expr = F.when(F.col("hamming") == 0, _HP_COS_E9[0])
    for h in range(1, _HP_PLANES + 1):
        expr = expr.when(F.col("hamming") == h, _HP_COS_E9[h])
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    a = hp.select(
        F.col("vec_id").alias("vec_a"),
        F.col("w0").alias("w0a"),
        F.col("w1").alias("w1a"),
        F.col("nrm").alias("nrm_a"),
        F.col("qv").alias("qa"),
    )
    b = hp.select(
        (F.col("vec_id") - 1).alias("vec_a"),
        F.col("vec_id").alias("vec_b"),
        F.col("w0").alias("w0b"),
        F.col("w1").alias("w1b"),
        F.col("nrm").alias("nrm_b"),
        F.col("qv").alias("qb"),
    )
    pairs = a.join(b, "vec_a").select(
        "vec_a",
        "vec_b",
        (
            F.bit_count(F.col("w0a").bitwiseXOR(F.col("w0b")))
            + F.bit_count(F.col("w1a").bitwiseXOR(F.col("w1b")))
        )
        .cast("bigint")
        .alias("hamming"),
        dot.alias("dot"),
        "nrm_a",
        "nrm_b",
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        "hamming",
        expr.cast("bigint").alias("est_cos_e9"),
        (
            F.col("dot").cast("double")
            / F.sqrt(
                F.col("nrm_a").cast("double") * F.col("nrm_b").cast("double")
            )
        ).alias("cos_exact"),
    )


# ---------------------------------------------------------------------------
# E2+ — embedding-cosine (semantic) near-dup groups
# ---------------------------------------------------------------------------

SEMDUP_TAU_PCT2 = 1225  # τ² · 1e4 for τ = 0.35


def _semdup_pairs_kernel(pdf):
    """Per-label exact pair mining: int64 quantized Gram matrix with a
    float prescreen and EXACT integer admission (10⁴·dot² ≥ 1225·na·nb,
    dot > 0) decided in arbitrary-precision Python ints for the
    borderline band — numpy int64 would overflow at dot² ≈ 4e27."""
    import numpy as np
    import pandas as pd

    V = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    ids = pdf["vec_id"].to_numpy()
    Q = np.round(V * 1_000_000).astype(np.int64)
    G = Q @ Q.T  # exact: |dot| ≤ 64·1e12 ≪ 2⁶³
    n2 = np.diag(G).astype(np.float64)
    with np.errstate(invalid="ignore"):
        cos = G / np.sqrt(np.outer(n2, n2))
    iu = np.triu_indices(len(ids), k=1)
    cand = [
        (i, j)
        for i, j in zip(*iu)
        if cos[i, j] >= 0.349  # prescreen with margin below τ=0.35
    ]
    out = []
    for i, j in cand:
        dot = int(G[i, j])
        if dot > 0 and 10_000 * dot * dot >= SEMDUP_TAU_PCT2 * int(G[i, i]) * int(
            G[j, j]
        ):
            a, b = sorted((int(ids[i]), int(ids[j])))
            out.append((a, b))
    return pd.DataFrame(out, columns=["src", "dst"]) if out else pd.DataFrame(
        {"src": pd.Series(dtype="int64"), "dst": pd.Series(dtype="int64")}
    )


@register(
    "q_dedup_semantic",
    oracle=f"""
    WITH RECURSIVE comp_q AS (
        SELECT vec_id, label,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2
        FROM comp_q GROUP BY 1
    ),
    dots AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(sum(a.q * b.q) AS BIGINT) AS dot
        FROM comp_q a
        JOIN comp_q b ON a.label = b.label AND a.i = b.i
                     AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT d.va, d.vb
        FROM dots d
        JOIN norms na ON na.vec_id = d.va
        JOIN norms nb ON nb.vec_id = d.vb
        WHERE d.dot > 0
          AND 10000 * CAST(d.dot AS HUGEINT) * d.dot
              >= {SEMDUP_TAU_PCT2} * CAST(na.n2 AS HUGEINT) * nb.n2
    ),
    und AS (
        SELECT va AS src, vb AS dst FROM dup
        UNION
        SELECT vb, va FROM dup
    ),
    nodes AS (SELECT DISTINCT src AS node FROM und),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, und.dst
        FROM reach JOIN und ON und.src = reach.r
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    g AS (
        SELECT e.vec_id, coalesce(c.component, e.vec_id) AS group_id
        FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
    )
    SELECT group_id, CAST(count(*) AS BIGINT) AS n_vecs,
           string_agg(vec_id, ',' ORDER BY vec_id) AS members
    FROM g GROUP BY group_id ORDER BY group_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine (semantic) near-dup groups — the dedup family
    member that catches paraphrases and translations sharing no
    n-grams (exact hash → MinHash/Jaccard → SimHash → THIS is the
    escalation ladder of a pretraining dedup stack; this rung needs
    the embedding table the others don't). Candidate blocking is the
    label/metadata block (the production analogues: shard by source,
    near-duplicate only within language, or IVF/hyperplane buckets —
    q_ann_ivf / q_hyperplane_est supply those), pairs admit on the
    EXACT integer predicate 10⁴·dot² ≥ τ²10⁴·‖a‖²‖b‖² with dot > 0
    (HUGEINT/decimal — dot² tops int64; a float cosine threshold
    flips borderline pairs between engines), transitive closure
    collapses clusters (connected_components), and min(vec_id) is
    canonical. The Spark pair miner is the cogrouped numpy kernel
    with a float prescreen and exact Python-int admission for the
    borderline band — per-block O(b²·d) in one Arrow batch, never a
    64-dim-exploded shuffle. Iterative CC ⇒ executes at construction
    (scale-lint exemption class); oracle is the recursive-CTE
    closure."""
    from pyspark.sql.types import LongType, StructField, StructType

    from frauddetection_spark.operators.graph import connected_components

    emb = t(spark, sf_dir, "embeddings")
    pairs = emb.select("vec_id", "embedding", "label").groupBy("label").applyInPandas(
        lambda pdf: _semdup_pairs_kernel(pdf),
        StructType(
            [
                StructField("src", LongType()),
                StructField("dst", LongType()),
            ]
        ),
    )
    comp = connected_components(pairs)
    groups = emb.select("vec_id").join(
        comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id", F.coalesce("component", "vec_id").alias("group_id")
    )
    return (
        groups.groupBy("group_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.array_join(
                F.sort_array(F.collect_list("vec_id")), ","
            ).alias("members"),
        )
    )
