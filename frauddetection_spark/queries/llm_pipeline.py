"""Training-data pipeline queries beyond the survey's E-rows: document
chunking, deterministic sequence packing, TF-IDF term weighting, and
near-dup GROUP resolution (pairs → components → canonical keeper).

These are the operations a 100 TB pretraining-data pipeline runs after
quality filtering and dedup candidate generation (queries/text.py,
queries/similarity.py): split long documents into model-window chunks,
pack short ones into fixed-token sequences, weight terms for retrieval
or filtering, and collapse duplicate clusters to one keeper each. All
four are pure DataFrame ops (no Python in the hot path) and — except
the iterative component step — oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frauddetection_spark.plans.registry import register
from frauddetection_spark.queries._util import r6, t

CHUNK_CHARS = 400
PACK_TARGET_TOKENS = 256
PACK_BUCKETS = 8
TFIDF_TOP = 3


# ---------------------------------------------------------------------------
# chunking: one row per fixed-size model-window slice
# ---------------------------------------------------------------------------


@register(
    "q_doc_chunks",
    oracle=f"""
    WITH spans AS (
        SELECT doc_id, length(text) AS n,
               unnest(range((length(text) + {CHUNK_CHARS} - 1)
                            // {CHUNK_CHARS})) AS chunk_id,
               text
        FROM documents
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           length(substr(text, CAST(chunk_id * {CHUNK_CHARS} + 1 AS INTEGER),
                         {CHUNK_CHARS})) AS chunk_len,
           sha256(substr(text, CAST(chunk_id * {CHUNK_CHARS} + 1 AS INTEGER),
                         {CHUNK_CHARS})) AS chunk_hash
    FROM spans ORDER BY doc_id, chunk_id
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size character chunking: each document becomes
    ceil(len/400) rows of ≤400 chars — the map-only explode that feeds
    context-window-bounded training. Chunks are compared by sha256 so
    the oracle hash covers content without shipping bodies. At 100 TB
    this is scan → explode → project: zero shuffles."""
    docs = t(spark, sf_dir, "documents")
    n_chunks = F.floor(
        (F.length("text") + CHUNK_CHARS - 1) / CHUNK_CHARS
    ).cast("bigint")
    chunk = F.expr(
        f"substring(text, CAST(chunk_id * {CHUNK_CHARS} + 1 AS INT),"
        f" {CHUNK_CHARS})"
    )
    return (
        docs.select(
            "doc_id",
            "text",
            # empty-text guard: Spark's sequence(0, -1) reverses to
            # [0, -1] instead of returning empty like DuckDB's range(0)
            F.explode(
                F.when(
                    n_chunks > 0, F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
                ).otherwise(F.array())
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.length(chunk).alias("chunk_len"),
            F.sha2(chunk, 256).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing: contiguous-fill bins of ~target tokens
# ---------------------------------------------------------------------------


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, doc_id % {PACK_BUCKETS} AS bucket,
               len(string_split_regex(text, '\\s+')) AS n_tokens
        FROM documents
    ),
    filled AS (
        SELECT doc_id, bucket, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tokens AS start_tok
        FROM sized
    ),
    binned AS (
        SELECT doc_id, bucket, n_tokens,
               start_tok // {PACK_TARGET_TOKENS} AS seq_id
        FROM filled
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(seq_id AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM binned GROUP BY bucket, seq_id ORDER BY bucket, seq_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: documents are hash-bucketed
    (doc_id % 8), ordered by id within each bucket, and assigned to the
    bin their running-token-offset falls in (contiguous fill, 256-token
    target) — the shuffle-once, coordination-free form of training
    sequence packing. Greedy first-fit packs tighter but is inherently
    sequential; contiguous fill parallelizes per bucket, so at 100 TB
    each bucket's window runs independently (NO global window — the
    bucket key bounds every partition's state)."""
    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        # % (sign-preserving, like DuckDB's %), NOT pmod: the twins must
        # agree even if ids ever go negative
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.withColumn(
        "seq_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / PACK_TARGET_TOKENS
        ),
    )
    return (
        binned.groupBy(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("seq_id").cast("bigint").alias("seq_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF: top terms per document
# ---------------------------------------------------------------------------


@register(
    "q_tfidf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, rank, token, round(score, 6) AS score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token) AS rank
        FROM scored
    ) WHERE rank <= {TFIDF_TOP}
    ORDER BY doc_id, rank
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1)))
    — the classic term-weighting pass for retrieval-based filtering and
    topic tagging. The corpus size N attaches via broadcast 1-row
    aggregate (never a driver .count()); df aggregates the TF relation
    (one row per (doc, token)) with a plain count — no second tokenize
    scan, no count-distinct exchange — and, being |vocab|-sized,
    broadcasts into the join; the ranking is one shuffle on doc_id.
    At 100 TB, persist/checkpoint the TF relation so the df branch
    reuses it instead of re-exploding the corpus. r6 rounding absorbs
    ln() libm 1-ulp drift per the transcendental policy."""
    from frauddetection_spark.operators.caching import track_cache

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    )
    # tf feeds BOTH the scored rows and the df branch: persist (tracked)
    # so the tokenize+groupBy runs once — without it Spark re-explodes
    # the corpus for each subtree (no ReusedExchange across the
    # aggregate boundary), doubling the heaviest stage
    tf = track_cache(
        tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf")).persist()
    )
    # df derived from tf (already one row per (doc, token)): a plain
    # count, NOT a second tokenize scan + count-distinct over tok
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "rank", "token", r6("score").alias("score"))
    )


# ---------------------------------------------------------------------------
# dup-group resolution: near-dup pairs → components → canonical keeper
# ---------------------------------------------------------------------------


def _dedup_groups_oracle() -> str:
    from frauddetection_spark.queries.similarity import sql_minhash_pair_ctes

    return f"""
    WITH RECURSIVE {sql_minhash_pair_ctes()},
    und AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup
        UNION
        SELECT doc_b, doc_a FROM dup
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
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT group_id, count(*) AS n_docs,
           string_agg(doc_id, ',' ORDER BY doc_id) AS members
    FROM g GROUP BY group_id ORDER BY group_id
    """


@register("q_dedup_groups", oracle=_dedup_groups_oracle())
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE dedup endgame: MinHash-LSH near-dup pairs (≥0.2 Jaccard,
    q_dedup_minhash's exact pipeline) become undirected edges, connected
    components collapse transitive duplicate clusters, and each group
    keeps min(doc_id) as canonical — what a pretraining pipeline
    actually emits (one keeper per cluster, not raw pairs). Documents
    with no near-dup form singleton groups. Iterative component step ⇒
    this query (like q_connected_components) executes at construction;
    the oracle is a recursive-CTE transitive closure."""
    from frauddetection_spark.operators.caching import track_cache
    from frauddetection_spark.operators.graph import connected_components
    from frauddetection_spark.operators.textsim import (
        exact_jaccard,
        lsh_bands,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )
    from frauddetection_spark.queries.similarity import JACCARD_MIN

    docs = t(spark, sf_dir, "documents")
    # shared frontier: signature path + rerank both consume sh;
    # tracked so release_caches() can free it in long-lived sessions
    sh = track_cache(word_shingles(docs).persist())
    pairs = (
        exact_jaccard(lsh_candidates(lsh_bands(minhash_signatures(sh))), sh)
        .filter(F.col("jaccard") >= JACCARD_MIN)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(pairs)
    groups = docs.select("doc_id").join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("group_id"),
    )
    return (
        groups.groupBy("group_id")
        .agg(
            F.count("*").alias("n_docs"),
            # string, not array<bigint>: cross-engine array stringification
            # differs; a joined string hashes identically in both twins
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> cast(x AS string)), ',')"
            ).alias("members"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination: n-gram overlap against a held-out set
# ---------------------------------------------------------------------------

BENCH_MOD = 97  # benchmark stand-in: doc_id % 97 == 0
CONTAM_RATE = 0.2


def _decontaminate_oracle() -> str:
    from frauddetection_spark.operators.textsim import SQL_WORD_SHINGLES

    return f"""
    WITH sh AS ({SQL_WORD_SHINGLES}),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ),
    train AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
    per AS (
        SELECT t.doc_id,
               count(*) AS n_shingles,
               count(b.shingle) AS n_overlap
        FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
        GROUP BY 1
    )
    SELECT doc_id, n_shingles, CAST(n_overlap AS BIGINT) AS n_overlap,
           n_overlap * 1.0 / n_shingles AS overlap_rate,
           CAST(n_overlap * 1.0 / n_shingles >= {CONTAM_RATE} AS BIGINT)
               AS contaminated
    FROM per ORDER BY doc_id
    """


@register("q_decontaminate", oracle=_decontaminate_oracle())
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training documents whose word
    3-shingle sets overlap a benchmark set (stand-in: doc_id %
    {BENCH_MOD} == 0) above CONTAM_RATE — the standard n-gram-overlap
    decontamination pass a pretraining pipeline runs before training.
    Shingles are the int64 keys from operators/textsim (8-byte
    shuffles). Scale: the benchmark side is tiny relative to the
    corpus — broadcast it; the train side never shuffles (map-side
    hash-semi-join + per-doc partial aggregation)."""
    from frauddetection_spark.operators.caching import track_cache
    from frauddetection_spark.operators.textsim import word_shingles

    docs = t(spark, sf_dir, "documents")
    # shared frontier: both the benchmark and train branches scan sh
    # (tracked — released via operators.caching.release_caches())
    sh = track_cache(word_shingles(docs).persist())
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    per = (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
    )
    rate = F.col("n_overlap") / F.col("n_shingles")
    return per.select(
        "doc_id",
        "n_shingles",
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        rate.alias("overlap_rate"),
        (rate >= CONTAM_RATE).cast("bigint").alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules: repetition + shape heuristics per document
# ---------------------------------------------------------------------------

MIN_WORDS = 20
MIN_DISTINCT_FRAC = 0.4
MAX_TOP_FRAC = 0.2


@register(
    "q_quality_rules",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    per AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct,
               CAST(max(c) AS BIGINT) AS top_count,
               CAST(sum(c * length(token)) AS BIGINT) AS char_sum
        FROM tf GROUP BY 1
    ),
    bg AS (
        -- list-expression form (NOT unnest+group): a bigram-less doc
        -- must still get a row (n_bigrams = 0), matching the Spark twin
        SELECT doc_id, len(bl) AS n_bigrams,
               len(list_distinct(bl)) AS n_distinct_bigrams
        FROM (
            SELECT doc_id,
                   list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1]) AS bl
            FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                  FROM documents)
        )
    )
    SELECT p.doc_id, p.n_words, p.n_distinct,
           p.n_distinct * 1.0 / p.n_words AS distinct_frac,
           p.top_count * 1.0 / p.n_words AS top_word_frac,
           CASE WHEN b.n_bigrams > 0
                THEN (b.n_bigrams - b.n_distinct_bigrams) * 1.0 / b.n_bigrams
                ELSE 0.0 END AS dup_bigram_frac,
           p.char_sum * 1.0 / p.n_words AS mean_word_len,
           CAST(p.n_words >= {MIN_WORDS}
                AND p.n_distinct * 1.0 / p.n_words >= {MIN_DISTINCT_FRAC}
                AND p.top_count * 1.0 / p.n_words <= {MAX_TOP_FRAC}
                AS BIGINT) AS passes
    FROM per p JOIN bg b ON p.doc_id = b.doc_id
    ORDER BY p.doc_id
    """,
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition and shape heuristics per document:
    distinct-word fraction, top-word fraction, duplicate-bigram
    fraction, mean word length, and a composite pass flag — the
    rule-based quality gate that runs before any model-based filter.
    All ratios are int/int divisions of identical integers in both
    engines (exact doubles, no rounding needed). Scale: one shuffle on
    doc_id; every aggregate is partial-aggregated map-side."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    per = tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_count"),
        F.sum(F.col("c") * F.length("token")).cast("bigint").alias("char_sum"),
    )
    toks = F.split("text", r"\s+")
    # guard size<2: Spark's sequence(1, 0) REVERSES to [1, 0] (it does
    # not return empty like DuckDB's range(1, 1)) — a 1-token document
    # would fabricate bigrams and error on element_at(toks, 0)
    bigrams = F.expr(
        "if(size(toks) < 2, array(),"
        " transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
    )
    bg = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size(bigrams).cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct(bigrams))
            .cast("bigint")
            .alias("n_distinct_bigrams"),
        )
    )
    distinct_frac = F.col("n_distinct") / F.col("n_words")
    top_frac = F.col("top_count") / F.col("n_words")
    return (
        per.join(bg, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            distinct_frac.alias("distinct_frac"),
            top_frac.alias("top_word_frac"),
            # 0.0 for bigram-less (≤1-token) docs: no repetition, and
            # ANSI mode makes x/0 a hard error rather than NULL
            F.when(
                F.col("n_bigrams") > 0,
                (F.col("n_bigrams") - F.col("n_distinct_bigrams"))
                / F.col("n_bigrams"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_bigram_frac"),
            (F.col("char_sum") / F.col("n_words")).alias("mean_word_len"),
            (
                (F.col("n_words") >= MIN_WORDS)
                & (distinct_frac >= MIN_DISTINCT_FRAC)
                & (top_frac <= MAX_TOP_FRAC)
            )
            .cast("bigint")
            .alias("passes"),
        )
    )


# ---------------------------------------------------------------------------
# domain mixing: temperature-weighted source sampling weights
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.7


@register(
    "q_domain_mix",
    oracle=f"""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1
    ),
    w AS (
        SELECT *, pow(n_docs * 1.0 / (SELECT sum(n_docs) FROM per),
                      {MIX_ALPHA}) AS wt
        FROM per
    )
    SELECT source, n_docs, n_chars,
           round(wt / (SELECT sum(wt) FROM w), 6) AS mix_weight
    FROM w ORDER BY source
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (w_s ∝ p_s^0.7, the multilingual
    /domain rebalancing rule): per-source document share raised to
    α < 1 flattens head domains and up-weights the tail — the sampling
    distribution a pretraining data loader consumes. Totals attach as
    broadcast 1-row aggregates (no driver .count()); r6 absorbs pow()
    libm drift per the transcendental policy. Scale: |sources| rows
    after one partial-aggregated shuffle."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    tot = per.agg(F.sum("n_docs").alias("tot_docs"))
    w = per.crossJoin(F.broadcast(tot)).withColumn(
        "wt", F.pow(F.col("n_docs") / F.col("tot_docs"), MIX_ALPHA)
    )
    wsum = w.agg(F.sum("wt").alias("wt_sum"))
    return (
        w.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            "n_docs",
            "n_chars",
            r6(F.col("wt") / F.col("wt_sum")).alias("mix_weight"),
        )
    )


# ---------------------------------------------------------------------------
# embedding quantization: symmetric int8 with reconstruction error
# ---------------------------------------------------------------------------


@register(
    "q_embed_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, x,
               list_aggregate(list_transform(x, e -> abs(e)), 'max') / 127
                   AS scale
        FROM v
    ),
    e AS (
        SELECT vec_id, scale,
               list_transform(x, e -> round(e / scale) * scale - e) AS err
        FROM s WHERE scale > 0
    )
    SELECT vec_id, round(scale, 6) AS scale,
           round(sqrt(list_aggregate(list_transform(err, d -> d * d),
                                     'sum')), 6) AS l2_err,
           round(list_aggregate(list_transform(err, d -> abs(d)), 'max'), 6)
               AS max_abs_err
    FROM e ORDER BY vec_id
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127,
    q = round(x/scale)) with exact reconstruction-error stats — the
    4× embedding-store compression an ANN serving tier applies before
    indexing. Map-only (zero shuffles at any scale); the elementwise
    math stays in codegen'd higher-order functions, no Python. round()
    at scale 0 is exact in both engines; r6 absorbs sqrt() libm drift
    on the error norms. All-zero vectors (scale = 0) are excluded —
    they quantize trivially and would divide by zero."""
    e = t(spark, sf_dir, "embeddings")
    x = F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
    s = e.select(
        "vec_id",
        x.alias("x"),
        (F.array_max(F.expr("transform(embedding, v -> abs(CAST(v AS DOUBLE)))")) / 127).alias(
            "scale"
        ),
    ).filter(F.col("scale") > 0)
    err = F.expr("transform(x, v -> round(v / scale) * scale - v)")
    return (
        s.withColumn("err", err)
        .select(
            "vec_id",
            r6("scale").alias("scale"),
            r6(
                F.sqrt(F.expr("aggregate(err, 0D, (acc, d) -> acc + d * d)"))
            ).alias("l2_err"),
            r6(F.array_max(F.expr("transform(err, d -> abs(d))"))).alias(
                "max_abs_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# M7 counterpart: 2-D visualization projection of the embedding space
# ---------------------------------------------------------------------------


@register("q_viz_projection", oracle=None)
def q_viz_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plot-ready 2-D embedding projection (vec_id, label, px, py) —
    the distributed counterpart of the reference's driver-side t-SNE
    scatter (Code for Amazon and Yelp/new_train_1.py:183-197). t-SNE
    is inherently a single-node iterative layout; the engine policy
    maps the *capability* (project high-dim embeddings to 2-D for
    inspection, colored by label) to MLlib PCA: covariance is
    tree-aggregated (64×64 — constant-size regardless of row count),
    the eigendecomposition is O(d³) on the driver, and the projection
    is a map-only matrix multiply. Sign-fixed so each component's
    largest-|loading| entry is positive (eigenvector sign is the one
    nondeterminism in PCA) ⇒ deterministic output; eigen-solver
    round-off is engine-private ⇒ rows-only check (no SQL oracle)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        array_to_vector(
            F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
        ).alias("features"),
    )
    model = PCA(k=2, inputCol="features", outputCol="proj").fit(e)
    pc = model.pc.toArray()  # d x 2, driver-local
    signs = [
        1.0 if pc[abs(pc[:, j]).argmax(), j] >= 0 else -1.0 for j in range(2)
    ]
    proj = vector_to_array(F.col("proj"))
    return (
        model.transform(e)
        .select(
            "vec_id",
            "label",
            r6(proj[0] * signs[0]).alias("px"),
            r6(proj[1] * signs[1]).alias("py"),
        )
    )


# ---------------------------------------------------------------------------
# feature hashing (hashing trick) — vocab-free text featurization
# ---------------------------------------------------------------------------

FEATURE_DIM = 64


def _feature_hash_oracle() -> str:
    from frauddetection_spark.operators.textsim import (
        _SQL_TOKEN_HASHES,
        rolling_hash_duckdb,
    )

    return f"""
    WITH tok AS ({_SQL_TOKEN_HASHES}),
    th AS (
        SELECT token, {rolling_hash_duckdb('token')} AS h
        FROM (SELECT DISTINCT token FROM tok)
    ),
    hashed AS (
        SELECT tok.doc_id,
               th.h % {FEATURE_DIM} AS bucket,
               CASE WHEN (th.h // {FEATURE_DIM}) % 2 = 0 THEN 1 ELSE -1 END
                   AS sign
        FROM tok JOIN th USING (token)
    )
    SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS w
    FROM hashed
    GROUP BY doc_id, bucket
    HAVING sum(sign) != 0
    ORDER BY doc_id, bucket
    """


@register(
    "q_feature_hash",
    oracle=_feature_hash_oracle(),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al.'s hashing trick — MLlib
    HashingTF semantics, but over the engine's cross-engine rolling
    hash so the oracle is bit-exact): token → bucket h mod D, signed
    ±1 by the next hash bit, summed per (doc, bucket) into a sparse
    D=64 vector. No vocabulary build, no driver state — the map-side
    transform + one groupBy is the whole plan, which is why the
    hashing trick is THE featurizer at 100 TB (a vocab dictionary
    needs a full corpus pass + broadcast; this needs neither).
    Zero-sum buckets drop out (sparse representation).
    """
    from frauddetection_spark.operators.textsim import token_hashes

    docs = t(spark, sf_dir, "documents")
    hashed = token_hashes(docs).select(
        "doc_id",
        (F.col("h") % FEATURE_DIM).alias("bucket"),
        F.when(F.expr(f"(h div {FEATURE_DIM}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("w"))
        .filter(F.col("w") != 0)
    )


# ---------------------------------------------------------------------------
# temperature-weighted source mixing (multilingual-style sampling)
# ---------------------------------------------------------------------------

_TMIX_TARGET = 200          # total documents to draw
_TMIX_QS = 1_000_000        # 1e-6 fixed point for sqrt(n) weights
_TMIX_P = 2_147_483_647     # Lehmer modulus (2^31 - 1)
_TMIX_A = 48_271            # Lehmer multiplier


@register(
    "q_temperature_mix",
    oracle=f"""
    WITH sc AS (
        SELECT source, count(*) AS n FROM documents GROUP BY 1
    ),
    q AS (
        SELECT source, n,
               CAST(round(sqrt(CAST(n AS DOUBLE)) * {_TMIX_QS}) AS BIGINT)
                   AS w_q
        FROM sc
    ),
    tot AS (SELECT CAST(sum(w_q) AS BIGINT) AS sum_q FROM q),
    tgt AS (
        SELECT source, n, ({_TMIX_TARGET} * w_q) // sum_q AS target
        FROM q, tot
    ),
    ranked AS (
        SELECT d.source, d.doc_id,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY (d.doc_id % {_TMIX_P}) * {_TMIX_A} % {_TMIX_P},
                            d.doc_id
               ) AS rn
        FROM documents d
    )
    SELECT r.source, CAST(r.rn AS BIGINT) AS rn, r.doc_id,
           CAST(t.target AS BIGINT) AS target
    FROM ranked r JOIN tgt t USING (source)
    WHERE r.rn <= t.target
    ORDER BY r.source, r.rn
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing: draw a fixed total budget
    of documents with per-source quotas ∝ n_i^α (α=0.5) — the
    multilingual/source-rebalancing sampler from the LLM-pretraining
    playbook (mT5/XLM-R temperature sampling: upweight small sources,
    damp dominant ones; plain proportional sampling is α=1, uniform is
    α=0). Determinism discipline: sqrt(n) is IEEE-correctly-rounded in
    both engines but SUMMING the weights as doubles would be order-
    dependent, so each weight quantizes to 1e-6 fixed point FIRST and
    the normalizer is an exact integer sum; quotas are one integer
    (S·w_i) div Σw, and the per-source draw is the k-smallest-Lehmer
    rank (replayable, the q_class_balance pattern). Scale: quota table
    is |sources| rows (broadcast); the rank is one partitioned window
    — at 100 TB a partial top-k per source replaces the full sort, as
    pinned for q_class_balance."""
    sc = t(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n")
    )
    q = sc.select(
        "source",
        "n",
        F.round(F.sqrt(F.col("n").cast("double")) * _TMIX_QS)
        .cast("bigint")
        .alias("w_q"),
    )
    tot = q.agg(F.sum("w_q").cast("bigint").alias("sum_q"))
    tgt = q.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"({_TMIX_TARGET} * w_q) div sum_q").alias("target"),
    )
    ranked = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                (F.col("doc_id") % _TMIX_P) * _TMIX_A % _TMIX_P, "doc_id"
            )
        )
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(tgt), "source")
        .filter(F.col("rn") <= F.col("target"))
        .select(
            "source",
            F.col("rn").cast("bigint").alias("rn"),
            "doc_id",
            F.col("target").cast("bigint").alias("target"),
        )
    )


# ---------------------------------------------------------------------------
# group-wise embedding mean pooling (centroid table)
# ---------------------------------------------------------------------------

_POOL_Q = 1_000_000  # 1e-6 fixed point per component


@register(
    "q_embed_meanpool",
    oracle=f"""
    WITH comp AS (
        SELECT label,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    q AS (
        SELECT label, pos,
               CAST(round(CAST(val AS DOUBLE) * {_POOL_Q}) AS BIGINT) AS vq
        FROM comp
    )
    SELECT label, CAST(pos AS BIGINT) AS pos, count(*) AS n_vecs,
           CAST(sum(vq) AS BIGINT) AS sum_q,
           CAST(sum(vq) AS DOUBLE) / {_POOL_Q} / count(*) AS mean_val
    FROM q GROUP BY 1, 2 ORDER BY label, pos
    """,
)
def q_embed_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise embedding mean pooling: the per-label centroid table
    — the aggregation behind chunk→document embedding pooling, class
    prototypes for nearest-centroid classification, and the
    cluster-center update step of every IVF/k-means build. Components
    quantize to 1e-6 fixed point BEFORE the cross-row sum (float sums
    across rows are shuffle-order-dependent; int sums are not — the
    float32→double conversion and the one final division are exact),
    then one groupBy(label, dim). Explode fan-out is rows×dims — the
    same linear shape the IVF trainer uses; no collect, no per-group
    arrays materialize unless a consumer asks."""
    comp = t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    )
    q = comp.select(
        "label",
        (F.col("pos0") + 1).alias("pos"),  # 1-based like generate_subscripts
        F.round(F.col("val").cast("double") * _POOL_Q)
        .cast("bigint")
        .alias("vq"),
    )
    return (
        q.groupBy("label", "pos")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("vq").cast("bigint").alias("sum_q"),
        )
        .select(
            "label",
            F.col("pos").cast("bigint").alias("pos"),
            "n_vecs",
            "sum_q",
            (
                F.col("sum_q").cast("double") / F.lit(_POOL_Q) / F.col("n_vecs")
            ).alias("mean_val"),
        )
    )


# ---------------------------------------------------------------------------
# nearest-centroid classification (exact-int distances, broadcast centroids)
# ---------------------------------------------------------------------------


@register(
    "q_nearest_centroid",
    oracle=f"""
    WITH comp AS (
        SELECT vec_id, label,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label, pos,
               CAST(round(CAST(val AS DOUBLE) * {_POOL_Q}) AS BIGINT) AS vq
        FROM comp
    ),
    cent AS (
        SELECT label AS c_label, pos,
               (CAST(sum(vq) AS BIGINT) * 1000
                + 1099511627776 * count(*)) // count(*)
                   - 1099511627776 AS mu_q
        FROM q GROUP BY 1, 2
    ),
    dist AS (
        SELECT q.vec_id, q.label, cent.c_label,
               sum((CAST(q.vq AS HUGEINT) * 1000 - cent.mu_q)
                   * (CAST(q.vq AS HUGEINT) * 1000 - cent.mu_q))
                   AS d2_scaled
        FROM q JOIN cent ON q.pos = cent.pos
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT vec_id, label, c_label,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY d2_scaled, c_label
               ) AS rn
        FROM dist
    )
    SELECT label AS true_label, c_label AS pred_label,
           count(*) AS n_vecs
    FROM best WHERE rn = 1
    GROUP BY 1, 2 ORDER BY true_label, pred_label
    """,
)
def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion table: every vector
    assigned to its closest label centroid (the Rocchio classifier /
    the k-means assignment step) and tallied against its true label.
    Exactness discipline: class counts differ, so n²-scaled distances
    would NOT be rank-comparable across classes — instead each
    centroid component is quantized to an ABSOLUTE 1e-9 grid by
    integer floor division stated positively
    (⌊(s·1000 + SHIFT·n)/n⌋ − SHIFT, SHIFT=2⁴⁰ keeps the numerator
    positive where Spark's truncating `div` and DuckDB's flooring `//`
    agree), making every distance Σ(1000·x_q − μ_q)² an exact integer
    in a COMMON unit — argmin with a label tiebreak is then
    engine-independent, no floats anywhere. Centroids are
    |labels|×dims rows — broadcast; the distance aggregate is one
    dim-keyed join + (vec, class) groupBy in decimal(38,0) (64 squared
    1e-9-unit terms top int64)."""
    comp = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "val")
    )
    q = comp.select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("val").cast("double") * _POOL_Q)
        .cast("bigint")
        .alias("vq"),
    )
    shift = 1 << 40
    cent = (
        q.groupBy(F.col("label").alias("c_label"), "pos")
        .agg(
            F.sum("vq").cast("bigint").alias("sum_q"),
            F.count("*").alias("n"),
        )
        .select(
            "c_label",
            "pos",
            (
                F.expr(f"(sum_q * 1000 + {shift} * n) div n") - shift
            ).alias("mu_q"),
        )
    )
    dec = "decimal(38,0)"
    term = F.col("vq").cast(dec) * 1000 - F.col("mu_q")
    dist = (
        q.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(term * term).alias("d2_scaled"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2_scaled", "c_label")
    best = dist.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        best.groupBy(
            F.col("label").alias("true_label"),
            F.col("c_label").alias("pred_label"),
        )
        .agg(F.count("*").alias("n_vecs"))
    )


# ---------------------------------------------------------------------------
# incremental novelty scoring (first-occurrence shingle attribution)
# ---------------------------------------------------------------------------

@register(
    "q_doc_novelty",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(text, '\\s+')) AS token,
               generate_subscripts(string_split_regex(text, '\\s+'), 1)
                   AS pos
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT a.doc_id,
               a.token || ' ' || b.token || ' ' || c.token AS shingle
        FROM tok a
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ),
    first_seen AS (
        SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS novelty
    FROM sh JOIN first_seen f USING (shingle)
    GROUP BY 1 ORDER BY doc_id
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty score: the fraction of a document's
    {K}-token shingles never seen in any EARLIER document (arrival
    order = doc_id) — the curation signal behind "is this crawl batch
    adding anything" dashboards and novelty-weighted sampling
    (near-dup detectors answer pairwise similarity; novelty answers
    marginal contribution against everything before). The exact
    all-history comparison needs NO per-prefix state: min(doc_id) per
    shingle attributes each shingle to its first document, so one
    shingle-keyed groupBy + one join back replaces a quadratic
    prefix-scan — linear at corpus scale. Counts exact ints; one
    division per doc."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = (
        tok.select(
            "doc_id",
            F.concat_ws(
                " ",
                "token",
                F.lead("token", 1).over(w),
                F.lead("token", 2).over(w),
            ).alias("shingle"),
            F.lead("token", 2).over(w).alias("guard"),
        )
        .filter(F.col("guard").isNotNull())
        .select("doc_id", "shingle")
        .distinct()
    )
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias(
                "novelty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Compressibility quality scoring (rows-only: no zlib in the oracle)
# ---------------------------------------------------------------------------


@register(
    "q_compress_ratio",
    oracle=None,  # DuckDB has no DEFLATE; pinned by property tests +
    #               the driver's rows-only check instead
)
def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressibility quality scoring: compressed/raw byte ratio
    per document plus per-source aggregates — the corpus filter
    family RefinedWeb/MassiveText use at both tails (a ratio near 0
    is boilerplate/repetition soup; near 1 is high-entropy junk —
    base64 blobs, minified code, random strings; natural prose sits
    in a mid band). The kernel is an Arrow-batched scalar pandas_udf
    over stdlib zlib at fixed level (functions/pandas_udfs.py::
    zlib_size — the legitimate Python-boundary case: the JVM has no
    DEFLATE expression, and the UDF is a pure map the optimizer can
    pipeline). Rows-only by necessity (DuckDB has no zlib either);
    the invariants that make it trustworthy are property-pinned:
    repetitive text strictly out-compresses shuffled high-entropy
    text of the same length, and compressed size never exceeds raw +
    DEFLATE's absolute ~11-byte-per-stream overhead (short docs can
    legitimately show ratio > 1 — filter thresholds must be
    length-aware). Scale: map-only over documents + one
    partial-aggregated groupBy."""
    from frauddetection_spark.functions.pandas_udfs import zlib_size

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.octet_length("text").alias("raw_bytes"),
        zlib_size(F.col("text")).alias("zip_bytes"),
    )
    per_doc = d.select(
        "doc_id",
        "source",
        "raw_bytes",
        "zip_bytes",
        (F.col("zip_bytes").cast("double") / F.col("raw_bytes")).alias("ratio"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("raw_bytes").cast("bigint").alias("raw_total"),
            F.sum("zip_bytes").cast("bigint").alias("zip_total"),
            (
                F.sum("zip_bytes").cast("double") / F.sum("raw_bytes")
            ).alias("corpus_ratio"),
            F.min("ratio").alias("min_ratio"),
            F.max("ratio").alias("max_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge step: tokenizer-training pair statistics over the vocab
# ---------------------------------------------------------------------------


@register(
    "q_bpe_merge",
    oracle=r"""
    WITH w AS (
        SELECT unnest(string_split_regex(text, '\s+')) AS word
        FROM documents
    ), vocab AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
        WHERE length(word) >= 2 GROUP BY 1
    ), p1 AS (
        SELECT substring(word, CAST(t.i AS INTEGER), 2) AS pair,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM vocab
        CROSS JOIN LATERAL
            unnest(generate_series(1, length(word) - 1)) AS t(i)
        GROUP BY 1
    ), top1 AS (
        SELECT pair AS mpair FROM p1 ORDER BY cnt DESC, pair LIMIT 1
    ), v2 AS (
        SELECT replace(word, mpair, '@') AS word, freq
        FROM vocab CROSS JOIN top1
    ), p2 AS (
        SELECT substring(word, CAST(t.i AS INTEGER), 2) AS pair,
               CAST(sum(freq) AS BIGINT) AS cnt
        FROM v2
        CROSS JOIN LATERAL
            unnest(generate_series(1, length(word) - 1)) AS t(i)
        WHERE length(word) >= 2
        GROUP BY 1
    ), ranked AS (
        SELECT 1 AS round, pair, cnt,
               row_number() OVER (ORDER BY cnt DESC, pair) AS rank
        FROM p1
        UNION ALL
        SELECT 2, pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair)
        FROM p2
    )
    SELECT round, rank, pair, cnt FROM ranked
    WHERE rank <= 10 ORDER BY round, rank
    """,
)
def q_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training merge step — the pair-statistics kernel
    every byte-pair-encoding trainer iterates: count adjacent
    character pairs, merge the most frequent, recount. Two fixed
    rounds (round 1 raw pairs, round 2 after applying the top merge as
    '@'), top-10 pairs each with (cnt DESC, pair) deterministic rank.
    The scale trick is the classic one real trainers use: pairs are
    counted over the VOCAB weighted by word frequency, not over the
    corpus — the corpus is touched once for the word rollup, and every
    merge round is O(|vocab| × word_len), independent of corpus size
    (at 100 TB the vocab is millions where the corpus is trillions).
    replace() is left-to-right non-overlapping in both engines
    ('aaa' @ 'aa' → '@a', 'banana' @ 'an' → 'b@@a' — verified), which
    IS the BPE merge convention. The top merge joins back as a 1-row
    broadcast; Spark's sequence(1,0) counts DOWN, so sub-2-char words
    are filtered before the position explode in both rounds."""
    from frauddetection_spark.operators.caching import track_cache

    vocab = track_cache(
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .persist()
    )

    def pair_counts(words: DataFrame) -> DataFrame:
        return (
            words.filter(F.length("word") >= 2)
            .select(
                "freq",
                F.explode(
                    F.sequence(F.lit(1), F.length("word") - 1)
                ).alias("i"),
                "word",
            )
            .select(
                F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )

    p1 = track_cache(pair_counts(vocab).persist())
    top1 = p1.orderBy(F.col("cnt").desc(), "pair").limit(1).select(
        F.col("pair").alias("mpair")
    )
    v2 = vocab.crossJoin(F.broadcast(top1)).select(
        F.replace(F.col("word"), F.col("mpair"), F.lit("@")).alias("word"),
        "freq",
    )
    p2 = pair_counts(v2)
    w10 = Window.partitionBy("round").orderBy(F.col("cnt").desc(), "pair")
    both = (
        p1.withColumn("round", F.lit(1).cast("int"))
        .unionByName(p2.withColumn("round", F.lit(2).cast("int")))
        .withColumn("rank", F.row_number().over(w10))
    )
    return (
        both.filter(F.col("rank") <= 10)
        .select(
            "round", F.col("rank").cast("bigint").alias("rank"), "pair", "cnt"
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus funnel: the composed pretraining pipeline
# ---------------------------------------------------------------------------


def _corpus_funnel_oracle() -> str:
    from frauddetection_spark.operators.textsim import SQL_WORD_SHINGLES

    return rf"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    per AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_count
        FROM tf GROUP BY 1
    ),
    flags AS (
        SELECT d.doc_id, d.text,
               (d.lang = 'en') AS lang_ok,
               (p.n_words >= {MIN_WORDS}
                AND p.n_distinct * 1.0 / p.n_words >= {MIN_DISTINCT_FRAC}
                AND p.top_count * 1.0 / p.n_words <= {MAX_TOP_FRAC})
                   AS qual_ok
        FROM documents d JOIN per p USING (doc_id)
    ),
    sq AS (SELECT doc_id, text FROM flags WHERE lang_ok AND qual_ok),
    sk AS (SELECT min(doc_id) AS doc_id FROM sq GROUP BY sha256(text)),
    sh AS ({SQL_WORD_SHINGLES}),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ),
    tr AS (
        SELECT s.doc_id, s.shingle FROM sh s JOIN sk USING (doc_id)
        WHERE s.doc_id % {BENCH_MOD} <> 0
    ),
    ov AS (
        SELECT doc_id, count(*) AS n_sh, count(b.shingle) AS n_ov
        FROM tr LEFT JOIN bench b USING (shingle) GROUP BY 1
    ),
    final AS (
        SELECT k.doc_id FROM sk k LEFT JOIN ov USING (doc_id)
        WHERE k.doc_id % {BENCH_MOD} <> 0
          AND (ov.n_sh IS NULL OR ov.n_ov * 1.0 / ov.n_sh < {CONTAM_RATE})
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
               (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
        UNION ALL SELECT 2, 'lang',
               (SELECT CAST(count(*) AS BIGINT) FROM flags WHERE lang_ok)
        UNION ALL SELECT 3, 'quality',
               (SELECT CAST(count(*) AS BIGINT) FROM sq)
        UNION ALL SELECT 4, 'dedup',
               (SELECT CAST(count(*) AS BIGINT) FROM sk)
        UNION ALL SELECT 5, 'decontam',
               (SELECT CAST(count(*) AS BIGINT) FROM final)
    ) ORDER BY stage
    """


@register("q_corpus_funnel", oracle=_corpus_funnel_oracle())
def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED pretraining-corpus pipeline, end to end, reported
    as a funnel: raw → language filter (en) → Gopher-style quality
    rules → exact-hash dedup (min-doc_id keeper) → benchmark
    decontamination (3-shingle overlap ≥ 20% vs the held-out set),
    one row per stage with the surviving doc count. This is the
    integration query: every stage reuses the exact semantics of its
    standalone operator (q_quality_rules' thresholds, q_dedup_hash's
    keeper rule, q_decontaminate's shingle-overlap rule), so the
    funnel numbers are the composition the standalone queries promise.
    Plan shape: per-doc flags from ONE tf rollup, dedup and
    decontamination computed only on the shrinking survivor set
    (keeper groupBy runs on quality survivors; the shingle overlap
    join runs on keepers only, with the tiny benchmark side the
    broadcast build); the five counts are 1-row aggregates crossJoined
    and exploded — no driver-side loop, and the expensive frontiers
    (flags, keepers) are persisted once and released by the registry's
    cache guard."""
    from frauddetection_spark.operators.caching import track_cache
    from frauddetection_spark.operators.textsim import word_shingles

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    per = (
        docs.select(
            "doc_id", F.explode(F.split("text", r"\s+")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("c").cast("bigint").alias("top_count"),
        )
    )
    flags = track_cache(
        docs.join(per, "doc_id")
        .select(
            "doc_id",
            "text",
            (F.col("lang") == "en").alias("lang_ok"),
            (
                (F.col("n_words") >= MIN_WORDS)
                & (F.col("n_distinct") / F.col("n_words") >= MIN_DISTINCT_FRAC)
                & (F.col("top_count") / F.col("n_words") <= MAX_TOP_FRAC)
            ).alias("qual_ok"),
        )
        .persist()
    )
    sq = flags.filter(F.col("lang_ok") & F.col("qual_ok")).select(
        "doc_id", "text"
    )
    sk = track_cache(
        sq.groupBy(F.sha2("text", 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .persist()
    )
    # Filter BEFORE shingling: both branches' predicates are
    # per-doc, so they commute with the shingle explode — the benchmark
    # side shingles only the ~1/BENCH_MOD held-out slice and the
    # training side only the dedup survivors, instead of replaying the
    # full-corpus explode twice (the single shared `sh` frame planned
    # word_shingles(all docs) once per reference). At 100 TB the
    # shingle explode dominates this stage; shrinking its input IS the
    # optimization, not a persist.
    bench = (
        word_shingles(docs.filter(F.col("doc_id") % BENCH_MOD == 0))
        .select("shingle")
        .distinct()
    )
    tr = word_shingles(
        docs.join(sk, "doc_id", "semi").filter(
            F.col("doc_id") % BENCH_MOD != 0
        )
    )
    ov = (
        tr.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"), F.sum("hit").alias("n_ov"))
    )
    final = (
        sk.join(ov, "doc_id", "left")
        .filter(
            (F.col("doc_id") % BENCH_MOD != 0)
            & (
                F.col("n_sh").isNull()
                | (F.coalesce(F.col("n_ov"), F.lit(0)) / F.col("n_sh")
                   < CONTAM_RATE)
            )
        )
        .select("doc_id")
    )
    c123 = flags.agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("lang_ok"), 1).otherwise(0))
        .cast("bigint").alias("n2"),
        F.sum(F.when(F.col("lang_ok") & F.col("qual_ok"), 1).otherwise(0))
        .cast("bigint").alias("n3"),
    )
    c4 = sk.agg(F.count("*").cast("bigint").alias("n4"))
    c5 = final.agg(F.count("*").cast("bigint").alias("n5"))
    one = c123.crossJoin(F.broadcast(c4)).crossJoin(F.broadcast(c5))
    stages = F.array(
        F.struct(F.lit(1).cast("bigint").alias("stage"),
                 F.lit("raw").alias("stage_name"), F.col("n1").alias("n_docs")),
        F.struct(F.lit(2).cast("bigint").alias("stage"),
                 F.lit("lang").alias("stage_name"), F.col("n2").alias("n_docs")),
        F.struct(F.lit(3).cast("bigint").alias("stage"),
                 F.lit("quality").alias("stage_name"), F.col("n3").alias("n_docs")),
        F.struct(F.lit(4).cast("bigint").alias("stage"),
                 F.lit("dedup").alias("stage_name"), F.col("n4").alias("n_docs")),
        F.struct(F.lit(5).cast("bigint").alias("stage"),
                 F.lit("decontam").alias("stage_name"), F.col("n5").alias("n_docs")),
    )
    return (
        one.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.stage_name", "s.n_docs")
    )
