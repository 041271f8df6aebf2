"""Embedding-vector operators: quantized cosine, brute-force kNN,
threshold near-dup pairs (SURVEY.md §2.8 E3).

Cross-engine determinism: float32 dot products drift between engines
(summation order, FMA), so similarity is computed on a fixed-point
int64 quantization (×10⁴) — integer dot products are exact in any
order; the single final division + sqrt are identical IEEE doubles
everywhere. Quantization is part of the query definition.

Scale: brute force is O(n²·d) — correct baseline and fine under ~10⁵
vectors per partition-pair; beyond that the LSH/IVF path (bucketed
candidates, exact rerank inside buckets) bounds the join. Both share
`cosine_pairs` for the rerank step.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

QUANT = 10_000
KNN_K = 3  # neighbors kept per vector / probe by every search below


def round_half_away_np(arr, scale: int):
    """THE numpy fixed-point kernel for the whole engine: round half
    AWAY FROM ZERO (matching Spark/DuckDB ``round()``), never
    ``np.rint``/``round`` (half-to-even) — a .5-cent value would
    silently diverge between the Python path and the JVM/oracle."""
    import numpy as np

    s = np.asarray(arr, dtype="float64") * scale
    return np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5)).astype("int64")


def quantize(emb: DataFrame) -> DataFrame:
    """Add int64 fixed-point vector `qv` of the `embedding` column and
    its exact squared norm `n2` (map-only; |x|·QUANT ≤ ~10⁸ keeps x²
    sums far inside int64)."""
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * QUANT).cast("bigint"),
    )
    return emb.withColumn("qv", qv).withColumn(
        "n2",
        F.aggregate(
            F.col("qv"), F.lit(0).cast("bigint"), lambda a, x: a + x * x
        ),
    )


def cosine_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """All (a, b) cosine similarities from pre-quantized frames with
    columns (vec_id, qv, n2). Caller bounds the pair space (crossJoin
    for brute force, bucket-join for LSH)."""
    pa = a.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"), F.col("n2").alias("na")
    )
    pb = b.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"), F.col("n2").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        pa.crossJoin(pb)
        .withColumn("dot", dot)
        .select(
            "id_a",
            "id_b",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cos"),
        )
    )


def _cos_tile(qa, na, qb, nb):
    """Quantized-cosine tile of two int64 matrices given their squared
    norms: exact int64 dot, one IEEE double division — the arithmetic
    of the DuckDB twins, so every kernel below stays bit-equal to
    them."""
    import numpy as np

    return (qa @ qb.T) / np.sqrt(
        na[:, None].astype(np.float64) * nb[None, :].astype(np.float64)
    )


def _topk_not_self(aids, bids, cos, k: int):
    """Each row's ``k`` best columns of the tile ``cos`` by (cos DESC,
    id ASC), skipping the column whose id equals the row's own: three
    flat lists (row id, neighbor id, cos)."""
    import numpy as np

    out_id, out_nb, out_cos = [], [], []
    for i, vid in enumerate(aids):
        row = cos[i]
        mask = bids != vid
        order = np.lexsort((bids[mask], -row[mask]))[:k]
        out_id.extend([vid] * len(order))
        out_nb.extend(bids[mask][order].tolist())
        out_cos.extend(row[mask][order].tolist())
    return out_id, out_nb, out_cos


def _ints(col):
    """int64 matrix of a pandas column of equal-length integer arrays."""
    import numpy as np

    return np.stack(col.to_numpy()).astype(np.int64)


# pandas dtype of a zero-row output column, by Spark type name; any
# other type (arrays) is an object column
_EMPTY_DTYPES = {"long": "int64", "integer": "int32", "double": "float64"}

# output schema of the kNN and IVF rerank tile kernels
_NEIGHBOR_TILE = "vec_id long, neighbor long, cos double"


def _apply_tiles(grouped, ddl: str, body) -> DataFrame:
    """The scaffold of every pandas kernel in this module: run
    ``body(left, right)`` on each group pair of the cogrouped
    ``grouped``. The body returns the output columns in the order of
    the ``ddl`` schema, or None when it keeps no row; a group pair with
    an empty side, like a None, yields a zero-row frame typed from the
    schema (Arrow needs the types even when there are no rows). The UDF
    carries the body's name into plans and the Spark UI."""
    schema = DataType.fromDDL(ddl)

    @functools.wraps(body)
    def kern(left, right):
        import pandas as pd

        cols = None if left.empty or right.empty else body(left, right)
        if cols is None:
            return pd.DataFrame(
                {
                    f.name: pd.Series(
                        [], dtype=_EMPTY_DTYPES.get(f.dataType.typeName(), "object")
                    )
                    for f in schema.fields
                }
            )
        return pd.DataFrame(dict(zip(schema.names, cols)))

    return grouped.applyInPandas(kern, schema)


def _top_k(
    tiles: DataFrame, key: str, score: str, k: int, cast: str | None
) -> DataFrame:
    """(key, rank, neighbor, score): the ``k`` best rows per ``key`` by
    (``score`` DESC, neighbor ASC), ``rank`` cast to ``cast`` unless it
    is None — the one merge of the tile top-ks below. Every kernel
    meets a (row, neighbor) pair in exactly one tile, so the merge
    needs no dedup."""
    rank = F.row_number().over(
        Window.partitionBy(key).orderBy(F.col(score).desc(), "neighbor")
    )
    return (
        tiles.withColumn("rank", rank if cast is None else rank.cast(cast))
        .filter(F.col("rank") <= k)
        .select(key, "rank", "neighbor", score)
    )


def rerank(left, right):
    """Tile body: each probe row of ``left`` (vec_id, qv, n2) keeps its
    ``KNN_K`` best candidates of ``right`` (r_vec_id, r_qv, r_n2) by
    exact quantized cosine, its own id excluded (a probe is in the
    corpus too). Zero-norm (all-zero quantized) vectors would produce
    NaN cosines, which np.lexsort on -cos ranks LAST while SQL's ORDER
    BY cos DESC ranks them FIRST — dropping them keeps the tile's
    ordering domain NaN-free so both engines provably agree."""
    left = left[left["n2"].to_numpy() > 0]
    right = right[right["r_n2"].to_numpy() > 0]
    if left.empty or right.empty:
        return None
    cos = _cos_tile(
        _ints(left["qv"]), left["n2"].to_numpy(),
        _ints(right["r_qv"]), right["r_n2"].to_numpy(),
    )
    return _topk_not_self(
        left["vec_id"].to_numpy(), right["r_vec_id"].to_numpy(), cos, KNN_K
    )


# Block count for the block-nested-loop kNN. Pair compute is O(n²·d)
# regardless (exact all-pairs); blocks only control distribution:
# 2·B·n rows are shuffled and each of the B² kernel calls handles an
# (n/B)×(n/B) tile. Raise B so a tile's int64 matrices fit an
# executor's Arrow batch comfortably (tile rows ≈ n/B).
KNN_BLOCKS = 4


def _block_pairs(emb: DataFrame, ddl: str, body) -> DataFrame:
    """Replicate both sides over (left_block, right_block) keys,
    cogroup, and run ``body(left, right)`` per block pair — the
    distributed block nested loop. Every (a, b) vector pair meets in
    EXACTLY ONE kernel call: (block(a), block(b)).

    This is the scale-out replacement for a driver-collect +
    sc.broadcast kernel: nothing touches the driver, the plan is fully
    lazy (zero jobs at construction), and each kernel sees two bounded
    pandas frames. Replication cost is KNN_BLOCKS× each side — the
    standard block-nested-loop trade for exact all-pairs work.
    """
    base = emb.select("vec_id", "embedding")
    blk = F.pmod(F.col("vec_id"), F.lit(KNN_BLOCKS)).cast("int")
    all_blocks = F.sequence(F.lit(0), F.lit(KNN_BLOCKS - 1))
    # left side: rows of block lb, replicated once per right block rb
    left = base.withColumn("lb", blk).withColumn(
        "rb", F.explode(all_blocks)
    )
    # right side: rows of block rb, replicated once per left block lb.
    # Columns are RENAMED (r_vec_id / r_vec): cogrouping a frame with
    # itself hits a Catalyst self-join attribute-dedup quirk where the
    # UDF's right-side inputs stay bound to the LEFT's expression ids
    # and the right child's payload gets column-pruned away (KeyError
    # in the kernel under count()); distinct names force distinct
    # attributes.
    right = (
        emb.select(
            F.col("vec_id").alias("r_vec_id"), F.col("embedding").alias("r_vec")
        )
        .withColumn("rb", F.pmod(F.col("r_vec_id"), F.lit(KNN_BLOCKS)).cast("int"))
        .withColumn("lb", F.explode(all_blocks))
    )
    grouped = left.groupBy("lb", "rb").cogroup(right.groupBy("lb", "rb"))
    return _apply_tiles(grouped, ddl, body)


def _embedding_tile(left, right):
    """(left ids, right ids, cosine tile) of a `_block_pairs` block:
    both sides' raw embeddings quantized here, rounding half away from
    zero like Spark/DuckDB round(), not numpy's half-to-even."""
    import numpy as np

    qa = round_half_away_np(np.stack(left["embedding"].to_numpy()), QUANT)
    qb = round_half_away_np(np.stack(right["r_vec"].to_numpy()), QUANT)
    cos = _cos_tile(qa, (qa * qa).sum(axis=1), qb, (qb * qb).sum(axis=1))
    return left["vec_id"].to_numpy(), right["r_vec_id"].to_numpy(), cos


def knn_topk_bruteforce(emb: DataFrame) -> DataFrame:
    """Exact top-KNN_K cosine neighbors via a distributed numpy int64
    kernel (block nested loop, `_block_pairs`).

    Each kernel call does one BLAS-free exact integer matmul for its
    block tile and keeps only the tile-local top-k, so the n² pair
    space is never materialized as rows; a final per-vector window
    merges the B tile top-ks into the global top-k. Integer dot
    products are order-independent ⇒ results stay bit-identical to the
    SQL/DuckDB formulation.

    Scale: exact all-pairs is O(n²·d) compute by definition — this
    distributes it evenly with no driver participation. For corpus
    sizes where n² itself is the problem, use the bucketed paths
    (q_ann_lsh_ml / q_ann_ivf), which reuse the same quantized
    arithmetic inside buckets.
    """

    def kernel(left, right):
        return _topk_not_self(*_embedding_tile(left, right), KNN_K)

    tiles = _block_pairs(emb, _NEIGHBOR_TILE, kernel)
    return _top_k(tiles, "vec_id", "cos", KNN_K, "int")


def neardup_pairs_bruteforce(emb: DataFrame, threshold: float) -> DataFrame:
    """Unordered pairs with cosine ≥ threshold — same distributed
    block-nested-loop kernel as `knn_topk_bruteforce`; qualifying pairs
    are emitted inside the kernel (id_a < id_b appears in exactly one
    tile), so the n² space is never materialized and no merge window
    is needed."""

    def kernel(left, right):
        import numpy as np

        aids, bids, cos = _embedding_tile(left, right)
        ai, bi = np.nonzero((cos >= threshold) & (aids[:, None] < bids[None, :]))
        return aids[ai], bids[bi], cos[ai, bi]

    return _block_pairs(emb, "id_a long, id_b long, cos double", kernel)


# DuckDB twin of quantize(): (vec_id, qv, n2)
SQL_QUANTIZED = f"""
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv,
           CAST(list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)))
               AS BIGINT) AS n2
    FROM embeddings
"""

# DuckDB pairwise cosine over two quantized relations aliased a/b.
SQL_COS = (
    "CAST(list_sum(list_transform(list_zip(a.qv, b.qv),"
    " x -> x[1] * x[2])) AS DOUBLE)"
    " / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))"
)


# --- IVF: learned codebook + multi-probe search -----------------------------

EMB_DIM = 64  # embeddings table dimension (asserted in quantize callers)

# IVF centroid count bounds for adaptive_centroids and its SQL ladder.
IVF_K_FLOOR = 16
IVF_K_MAX = 1 << 16

# nprobe=8: at the floor K=16 that probes half the buckets at rank-1
# recall 0.81 on the synthetic embeddings (sf0.1). The testdata
# vectors are near-uniform on the sphere — the adversarial case for
# IVF, where recall ≈ probed fraction (drops as K grows past nprobe);
# clustered real-world embeddings sit far above this floor.
NPROBE = 8
IVF_ITERS = 2  # Lloyd refinement rounds of the IVF codebook


def adaptive_centroids(n: int) -> int:
    """Smallest power of two K >= ``IVF_K_FLOOR`` with K² >= n — the √n
    centroid-count rule that keeps IVF buckets at ~√n vectors — CAPPED
    at ``IVF_K_MAX`` (2¹⁶, the same cap as the twin's CASE ladder).
    With FIXED K the probed candidate space is ~n²·nprobe/K, a hidden
    quadratic: every bucket grows with n, so tenfold data means
    hundredfold pair work. With K ~ √n and fixed nprobe the candidate
    space is ~n^1.5·nprobe — the standard IVF scaling. Integer-only on
    purpose: the DuckDB twin computes the SAME K via a CASE ladder
    over count(*) (sql_ivf), and float log2 could disagree in the last
    ulp at power-of-4 boundaries. The cap exists because the ladder is
    finite: an uncapped Python side would pick K=131072
    at n=2³²+1 while the SQL ELSE arm stops at 65536, and the engines
    would diverge — both sides now share one bound; past it, bucket
    size grows linearly again (at n=2³² that is ~65k-vector buckets —
    shard the corpus before that point)."""
    K = IVF_K_FLOOR
    while K * K < n and K < IVF_K_MAX:
        K *= 2
    return K


def _sql_adaptive_centroids() -> str:
    """CASE ladder mirroring :func:`adaptive_centroids` for the twin:
    K = IVF_K_FLOOR while n <= IVF_K_FLOOR², doubling at each
    power-of-4 step."""
    arms = []
    K = IVF_K_FLOOR
    while K < IVF_K_MAX:
        arms.append(f"WHEN cnt <= {K * K} THEN {K}")
        K *= 2
    return ("CASE " + " ".join(arms) + f" ELSE {IVF_K_MAX} END")


# Block count for the cogrouped corpus kernels: the corpus side is
# hash-split so every core gets work even when the parquet scan is a
# single partition (a 30 MB embeddings file at sf10 is ONE 128 MB-rule
# split holding 200k vectors). ASSIGN_BLOCKS is the FLOOR;
# assign_blocks(n) scales the count with the corpus so the per-task
# pandas frame stays bounded (a fixed 32 means ~n/32 rows per task —
# ≈16 GB/task at 10⁹ vectors, a footprint that grows hidden with the
# corpus).
ASSIGN_BLOCKS = 32

# ~rows per kernel task: 64-dim int64 qv ≈ 0.5 KB/row ⇒ ~32 MB/task.
ASSIGN_TARGET_ROWS = 1 << 16


def assign_blocks(n_rows: int) -> int:
    """Deterministic block count for :func:`_block_cogroup`: the
    smallest power of two ≥ ``ASSIGN_BLOCKS`` with ≤
    ``ASSIGN_TARGET_ROWS`` corpus rows per block. Block count does NOT
    affect results (each block meets the full replica of the small
    side), so the DuckDB twins need no mirror — it only bounds per-task
    memory and sets parallelism."""
    B = ASSIGN_BLOCKS
    while B * ASSIGN_TARGET_ROWS < n_rows:
        B *= 2
    return B


def _block_cogroup(
    corpus: DataFrame, small: DataFrame, n_rows: int, ddl: str, body
) -> DataFrame:
    """Run ``body(corpus_block, small)`` (see :func:`_apply_tiles`) with
    ``corpus`` hash-split on its first (id) column into
    :func:`assign_blocks` ``(n_rows)`` blocks, each cogrouped with a
    full replica of the small frame — a codebook or a probe batch. Each
    (corpus row, small row) pair meets in exactly one block, so tile
    top-ks merge with no dedup; the replication costs |small|·B rows.
    No driver collect and no broadcast variable: the plan stays lazy
    (zero jobs at construction, lint-pinned)."""
    B = assign_blocks(n_rows)
    left = corpus.withColumn(
        "b", F.pmod(F.col(corpus.columns[0]), F.lit(B)).cast("int")
    )
    right = small.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
    ).withColumn("b", F.col("b").cast("int"))
    return _apply_tiles(left.groupBy("b").cogroup(right.groupBy("b")), ddl, body)


def _cos_sort_key(qv, n2, r):
    """Shared scoring for the centroid kernels: the cid-ascending-sorted
    codebook plus the (rows × K) ordering-key matrix — exact int64 dot,
    one IEEE double division, NaN mapped to +inf so it ranks FIRST
    under descending order exactly like Spark's double total order and
    the SQL twin's ORDER BY ccos DESC (true ccos is bounded by 1, so
    no collision). One definition, two consumers (`_centroid_topn`,
    `_lloyd_partials`) — the ranking and the training assignment can
    never drift apart."""
    import numpy as np

    cqv = _ints(r["cqv"])
    cn2 = r["cn2"].to_numpy().astype(np.float64)
    cids = r["cid"].to_numpy()
    # pre-sort the codebook by cid ascending: a STABLE argsort (or
    # argmax's first-wins) on the score column then breaks ties by
    # column index = by cid ascending, vectorizing the ordering
    ordc = np.argsort(cids, kind="stable")
    cids, cqv, cn2 = cids[ordc], cqv[ordc], cn2[ordc]
    with np.errstate(invalid="ignore", divide="ignore"):
        cos = (qv @ cqv.T) / np.sqrt(n2.astype(np.float64)[:, None] * cn2[None, :])
    key = np.where(np.isnan(cos), np.inf, cos)
    return cids, key


def _centroid_topn(
    frame: DataFrame, cent: DataFrame, n_top: int, n_rows: int
) -> DataFrame:
    """(vec_id, cid, crank) — each vector's ``n_top`` centroids by
    (ccos DESC, cid ASC), as a cogrouped numpy int64 matmul.

    Catalyst higher-order functions never enter whole-stage codegen,
    so a transform/aggregate scoring expression would run the n·K·d
    assignment as interpreted per-element evals (~6.5e9 in one scan
    task at n=200k/K=512); the per-block matmul runs them in compiled
    numpy, and the block split parallelizes a single-partition scan.
    Semantics match the DuckDB twin's row_number window: exact int64
    dot, one IEEE double division, NaN ranked greatest (Spark's double
    order), ties by cid ascending. The ≤K-row codebook is replicated
    onto each corpus block (:func:`_block_cogroup`); ``n_rows`` sizes
    the block split, never the result.
    """

    def kern(l, r):
        import numpy as np

        cids, key = _cos_sort_key(_ints(l["qv"]), l["n2"].to_numpy(), r)
        n_keep = min(n_top, len(cids))
        idx = np.argsort(-key, axis=1, kind="stable")[:, :n_keep]
        return (
            np.repeat(l["vec_id"].to_numpy(), n_keep),
            cids[idx].ravel(),
            np.tile(np.arange(1, n_keep + 1, dtype=np.int32), len(l)),
        )

    return _block_cogroup(
        frame.select("vec_id", "qv", "n2"),
        cent.select("cid", "cqv", "cn2"),
        n_rows, "vec_id long, cid long, crank int", kern,
    )


def _lloyd_partials(frame: DataFrame, cent: DataFrame, n_rows: int) -> DataFrame:
    """(cid, psum: array<bigint>, pcnt: bigint) — per-block PARTIAL
    sums for one Lloyd update: each cogroup block assigns its vectors
    to their rank-1 centroid (the exact `_centroid_topn` ordering:
    argmax over the shared `_cos_sort_key`, first-wins on ties = lowest
    cid) and emits one row per non-empty centroid with the int64
    elementwise sum and member count of its local assignees.

    This is the map-side-combine form of the centroid-mean update
    (aggregate before you shuffle): joining the n-row assignment back
    onto the n-row train set would shuffle the train set per
    iteration, and posexploding n·d (vector, dim) rows through an
    aggregate is 6.4e10 rows per iteration at 10⁹ 64-dim vectors.
    Partial sums shuffle ≤ B·K rows per iteration instead, independent
    of n. Exactness: int64 addition is associative and commutative, so
    Σ_blocks(partial sums) is bit-equal to the global Σ, the member
    counts are identical, and the one IEEE division + round downstream
    sees identical inputs."""

    def kern(l, r):
        import numpy as np

        qv = _ints(l["qv"])
        cids, key = _cos_sort_key(qv, l["n2"].to_numpy(), r)
        pos = np.argmax(key, axis=1)
        K = len(cids)
        sums = np.zeros((K, qv.shape[1]), dtype=np.int64)
        np.add.at(sums, pos, qv)
        cnts = np.bincount(pos, minlength=K).astype(np.int64)
        keep = cnts > 0
        return cids[keep], [s.tolist() for s in sums[keep]], cnts[keep]

    return _block_cogroup(
        frame.select("vec_id", "qv", "n2"),
        cent.select("cid", "cqv", "cn2"),
        n_rows, "cid long, psum array<long>, pcnt long", kern,
    )


# Sampled IVF seeding trains on a ~35% hash sample (any pct works; 35
# keeps sf0.01's 600-vector sample statistically meaningful) under a
# fixed hash seed.
IVF_SAMPLE_PCT = 35
IVF_SEED = 9001


def ivf_topk(emb: DataFrame, n_rows: int, seeding: str = "low_id") -> DataFrame:
    """IVF approximate kNN with a LEARNED codebook, fully deterministic
    and oracle-expressible. ``n_rows`` is the corpus size: it sets the
    centroid count K = :func:`adaptive_centroids` ``(n_rows)`` (the twin
    computes the same K from count(*)) and the kernels' block split.

    Codebook (``seeding="low_id"``): Lloyd iterations over the FULL
    table, seeded with the K lowest vec_ids. Each iteration
    assigns every vector to its max-cosine centroid (ties → lower cid)
    and re-estimates centroids as the requantized elementwise mean
    ``round(sum/count)`` — int64 sums and one IEEE double division keep
    both engines bit-identical. Clusters that lose all members drop out
    (deterministically, in both twins).

    Codebook (``seeding="sampled"`` — the 100-TB shape): Lloyd trains
    on a ~``IVF_SAMPLE_PCT``% hash sample of the table only; seeds are
    the K sample vectors with the smallest ``portable_hash_u32``
    values (a deterministic scatter playing k-means‖'s random-spread
    role — seed choice independent of id order, still pure SQL), and
    the full table is touched ONLY by the final assignment + search
    pass. Codebook-training cost becomes O(sample), not O(table) — the
    difference between feasible and not at 10⁹ vectors.

    Both modes run ``IVF_ITERS`` Lloyd iterations. Search (both modes):
    every vector's top-``NPROBE`` centroids are probed; the candidate
    set is vectors HOMED (rank-1) in a probed bucket, then exact
    quantized-cosine rerank picks the top ``KNN_K``. A candidate
    pair meets through exactly one bucket (home is unique), so no dedup
    shuffle.

    Scale: assignment and the Lloyd partial sums run in blocked
    kernels against the replicated codebook; each update shuffles
    ≤ B·K partial rows; search joins on bucket — pair space
    ~n²·nprobe/K instead of n².
    """
    from frauddetection_spark.operators.caching import track_cache
    from frauddetection_spark.operators.sampling import (
        portable_hash_u32,
        portable_uniform_keep,
    )

    n_centroids = adaptive_centroids(n_rows)
    # The quantized corpus is referenced by every Lloyd iteration, the
    # final assignment, and both sides of the bucket join; Spark plans
    # those as independent subtrees (no ReusedExchange), so without a
    # persist the parquet scan + quantization re-executes once per
    # reference — one scan per Lloyd iteration instead of one in all.
    # Lazy persist only (zero jobs at construction, lint-pinned);
    # released by operators.caching.release_caches().
    q = track_cache(quantize(emb).select("vec_id", "qv", "n2").persist())
    if seeding == "sampled":
        train = q.filter(
            portable_uniform_keep(F.col("vec_id"), IVF_SAMPLE_PCT, IVF_SEED)
        )
        cent = (
            train.withColumn(
                "_h", portable_hash_u32(F.col("vec_id"), IVF_SEED + 1)
            )
            .orderBy("_h", "vec_id")
            .limit(n_centroids)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("qv").alias("cqv"),
                F.col("n2").alias("cn2"),
            )
        )
    elif seeding == "low_id":
        train = q
        cent = q.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"),
            F.col("qv").alias("cqv"),
            F.col("n2").alias("cn2"),
        )
    else:
        raise ValueError(f"unknown seeding {seeding!r}")

    for _ in range(IVF_ITERS):
        # Σ_blocks of the int64 partials is the global Σ and Σ pcnt the
        # member count, so round(sum/count) sees the twin's inputs; the
        # explode runs over ≤ B·K·d rows.
        comp = (
            _lloyd_partials(train, cent, n_rows)
            .select("cid", "pcnt", F.posexplode("psum").alias("dim", "s"))
            .groupBy("cid", "dim")
            .agg(
                F.round(
                    F.sum("s").cast("double") / F.sum("pcnt")
                ).cast("bigint").alias("cv")
            )
        )
        # ≤ n_centroids rows, but its lineage embeds a full Lloyd pass;
        # without the persist each of the TWO references per following
        # iteration (score + update) re-runs every preceding pass —
        # O(2^iters) training scans.
        cent = track_cache(
            comp.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"],
                ).alias("cqv")
            )
            .withColumn(
                "cn2",
                F.aggregate(
                    "cqv", F.lit(0).cast("bigint"), lambda a, x: a + x * x
                ),
            )
            .select("cid", "cqv", "cn2")
            .persist()
        )

    # referenced twice (home + probes): persist the n·nprobe probe
    # list — the standard materialized IVF index.
    ranked = track_cache(_centroid_topn(q, cent, NPROBE, n_rows).persist())
    home = ranked.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("r_vec_id"), F.col("cid").alias("bucket")
    )
    probes = ranked.select("vec_id", F.col("cid").alias("bucket"))
    qa = q.join(probes, "vec_id").select("bucket", "vec_id", "qv", "n2")
    qb = (
        q.select(
            F.col("vec_id").alias("r_vec_id"),
            F.col("qv").alias("r_qv"),
            F.col("n2").alias("r_n2"),
        )
        .join(home, "r_vec_id")
        .select("bucket", "r_vec_id", "r_qv", "r_n2")
    )
    # Rerank: one cogrouped numpy kernel per bucket keeps each probe's
    # bucket-local top-k, so the ~n²·nprobe/K candidate pairs never
    # become rows of Catalyst array lambdas (interpreted per element).
    tiles = _apply_tiles(
        qa.groupBy("bucket").cogroup(qb.groupBy("bucket")), _NEIGHBOR_TILE, rerank
    )
    return _top_k(tiles, "vec_id", "cos", KNN_K, None)


def sql_ivf(seeding: str = "low_id") -> str:
    """DuckDB twin of :func:`ivf_topk` — the same Lloyd iterations as
    chained CTEs. Centroid means are generated per-dimension (the SQL
    is synthesized for the fixed embedding dim), packed back into a
    list; all arithmetic mirrors the Spark side exactly. With
    ``seeding="sampled"`` the Lloyd CTEs range over the hash-sampled
    ``train`` relation and only the final search scans ``q``.

    K is ADAPTIVE: a ``params`` CTE computes :func:`adaptive_centroids`'
    K from count(*) via the integer CASE ladder, and the seeding reads
    ``(SELECT kc FROM params)`` — the oracle string stays static
    (registered at import) while K follows the data, matching the
    Spark side's catalog-row-count K exactly."""
    from frauddetection_spark.operators.sampling import (
        sql_portable_hash_u32,
        sql_portable_uniform_keep,
    )

    cos_expr = (
        "CAST(list_sum(list_transform(list_zip(q.qv, c.cqv),"
        " x -> x[1] * x[2])) AS DOUBLE)"
        " / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE))"
    )
    mean_terms = ", ".join(
        f"CAST(round(CAST(sum(qv[{j}]) AS DOUBLE) / count(*)) AS BIGINT)"
        for j in range(1, EMB_DIM + 1)
    )
    n2_terms = " + ".join(f"cqv[{j}] * cqv[{j}]" for j in range(1, EMB_DIM + 1))
    ctes = [
        f"q AS ({SQL_QUANTIZED})",
        f"params AS (SELECT {_sql_adaptive_centroids()} AS kc"
        " FROM (SELECT count(*) AS cnt FROM q))",
    ]
    kc = "(SELECT kc FROM params)"
    if seeding == "sampled":
        ctes.append(
            f"train AS (SELECT * FROM q WHERE "
            f"{sql_portable_uniform_keep('vec_id', IVF_SAMPLE_PCT, IVF_SEED)})"
        )
        # row_number instead of LIMIT so K can be a scalar subquery
        ctes.append(
            f"cent0 AS (SELECT cid, cqv, cn2 FROM ("
            f"SELECT vec_id AS cid, qv AS cqv, n2 AS cn2, row_number()"
            f" OVER (ORDER BY {sql_portable_hash_u32('vec_id', IVF_SEED + 1)},"
            f" vec_id) AS rn FROM train) WHERE rn <= {kc})"
        )
    else:
        ctes.append("train AS (SELECT * FROM q)")
        ctes.append(
            f"cent0 AS (SELECT vec_id AS cid, qv AS cqv, n2 AS cn2 FROM q"
            f" WHERE vec_id < {kc})"
        )
    for i in range(IVF_ITERS):
        ctes.append(
            f"""score{i} AS (
    SELECT q.vec_id, c.cid, {cos_expr} AS ccos
    FROM train q CROSS JOIN cent{i} c
)"""
        )
        ctes.append(
            f"""assign{i} AS (
    SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
        FROM score{i}) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""csum{i} AS (
    SELECT a.cid, list_value({mean_terms}) AS cqv
    FROM assign{i} a JOIN train USING (vec_id) GROUP BY a.cid
)"""
        )
        ctes.append(
            f"cent{i + 1} AS (SELECT cid, cqv,"
            f" CAST({n2_terms} AS BIGINT) AS cn2 FROM csum{i})"
        )
    final = f"cent{IVF_ITERS}"
    ctes.append(
        f"""scoref AS (
    SELECT q.vec_id, c.cid, {cos_expr} AS ccos
    FROM q CROSS JOIN {final} c
)"""
    )
    ctes.append(
        """rankedf AS (
    SELECT vec_id, cid, row_number() OVER (
        PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
    FROM scoref
)"""
    )
    ctes.append(
        "home AS (SELECT vec_id AS r_vec_id, cid AS bucket"
        " FROM rankedf WHERE crank = 1)"
    )
    ctes.append(
        f"probes AS (SELECT vec_id, cid AS bucket FROM rankedf"
        f" WHERE crank <= {NPROBE})"
    )
    pair_cos = (
        "CAST(list_sum(list_transform(list_zip(a.qv, b.qv),"
        " x -> x[1] * x[2])) AS DOUBLE)"
        " / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))"
    )
    ctes.append(
        f"""cands AS (
    SELECT a.vec_id, b.vec_id AS neighbor, {pair_cos} AS cos
    FROM (SELECT q.*, p.bucket FROM q JOIN probes p USING (vec_id)) a
    JOIN (SELECT q.vec_id, q.qv, q.n2, h.bucket
          FROM q JOIN home h ON q.vec_id = h.r_vec_id) b
      ON a.bucket = b.bucket AND a.vec_id != b.vec_id
)"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT vec_id, rank, neighbor, cos FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rank
        FROM cands
    ) WHERE rank <= {KNN_K}
    ORDER BY vec_id, rank
    """


# The query batch: the probes are the first QUERY_CAP multiples of
# QUERY_MOD (q_ann_query_batch and q_ann_pq). The batch is FIXED, NOT a
# fixed fraction of the corpus: a "5% of vec_ids" probe rule made
# probes x corpus = n²/20 work, quadratic in the corpus. With the
# batch pinned, probe-side work is QUERY_CAP·n — linear per decade.
# 512 is above every oracle-gate probe count (sf0.001/0.01: 25, sf0.1:
# 100); it binds only at sf1+.
QUERY_MOD = 20
QUERY_CAP = 512


def query_batch_topk(
    corpus: DataFrame, probes: DataFrame, n_rows: int
) -> DataFrame:
    """Asymmetric (serving-shape) exact top-KNN_K: a SMALL probe set
    against the full corpus of ``n_rows`` vectors, as a cogrouped numpy
    int64 matmul — the query-batch sibling of
    :func:`knn_topk_bruteforce`.

    Layout (:func:`_block_cogroup`): the corpus is hash-split into
    blocks and the probe set is REPLICATED onto every block, so each
    (probe, corpus-vector) pair meets in exactly one kernel call. The
    kernel is the IVF bucket rerank (:func:`rerank`), which keeps the
    identical int64-dot + single IEEE-division arithmetic the DuckDB
    twin runs; Catalyst higher-order-function dot products would be
    interpreted per element, outside whole-stage codegen.

    Inputs are PRE-QUANTIZED frames (vec_id, qv, n2) from
    :func:`quantize`.
    """
    # the corpus side is renamed: cogrouping two frames derived from
    # one source with the same names binds both sides' UDF inputs to
    # one side's attributes (see _block_pairs)
    c = corpus.select(
        F.col("vec_id").alias("r_vec_id"),
        F.col("qv").alias("r_qv"),
        F.col("n2").alias("r_n2"),
    )

    # _block_cogroup hands over the corpus block first; the probes are
    # the rows that keep their top-k
    def rerank_batch(block, batch):
        return rerank(batch, block)

    tiles = _block_cogroup(
        c, probes, n_rows, "query_id long, neighbor long, cos double", rerank_batch
    )
    return _top_k(tiles, "query_id", "cos", KNN_K, None)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN for a query batch
# ---------------------------------------------------------------------------


def _pq_assign_np(QV, cent_pdf, subdim: int):
    """Per-subspace argmin-L2 assignment for one kernel block: exact
    int64 matmul per subspace present in ``cent_pdf``. Candidates are
    cid-ascending-sorted so ``np.argmin``'s first-minimum IS the
    (d2 ASC, cid ASC) tie rule of the twin; the key drops the
    row-constant |s|² term (a uniform shift per row that cannot change
    the argmin or its ties). Returns ``[(mm, cids, pos, SUB)]`` —
    subspace id, its sorted candidate cids, each row's argmin POSITION
    into them, and the rows' subvector matrix — so callers can emit
    codes (encode) or per-centroid partial sums (training) without
    re-scoring."""
    import numpy as np

    out = []
    for mm in sorted(cent_pdf["m"].unique()):
        cm = cent_pdf[cent_pdf["m"] == mm].sort_values("cid")
        C = _ints(cm["csub"])
        cids = cm["cid"].to_numpy().astype(np.int64)
        SUB = QV[:, mm * subdim : (mm + 1) * subdim]
        key = (C * C).sum(axis=1)[None, :] - 2 * (SUB @ C.T)
        out.append((int(mm), cids, np.argmin(key, axis=1), SUB))
    return out


def _pq_partials(
    q: DataFrame, cent: DataFrame, subdim: int, n_rows: int
) -> DataFrame:
    """(m, cid, psum: array<bigint>, pcnt: bigint) — per-block PARTIAL
    sums for one PQ Lloyd update, the `_lloyd_partials` pattern applied
    per subspace: each cogroup block scores its vectors against the
    full replicated codebook as one exact int64 matmul per subspace
    and emits ≤ B·m·ksub partial-sum rows. An argmin over a
    broadcast-joined n·m subvector frame would instead run n·m·ksub
    interpreted lambda evals per pass (higher-order functions never
    enter whole-stage codegen). Exactness: int64 partials are
    associative, counts are exact, and the one IEEE division + round
    downstream sees identical inputs."""

    def kern(l, r):
        import numpy as np

        out_m, out_cid, out_psum, out_pcnt = [], [], [], []
        for mm, cids, pos, SUB in _pq_assign_np(_ints(l["qv"]), r, subdim):
            K = len(cids)
            sums = np.zeros((K, SUB.shape[1]), dtype=np.int64)
            np.add.at(sums, pos, SUB)
            cnts = np.bincount(pos, minlength=K).astype(np.int64)
            keep = cnts > 0
            out_m.extend([mm] * int(keep.sum()))
            out_cid.extend(cids[keep].tolist())
            out_psum.extend(s.tolist() for s in sums[keep])
            out_pcnt.extend(cnts[keep].tolist())
        return out_m, out_cid, out_psum, out_pcnt

    return _block_cogroup(
        q.select("vec_id", "qv"),
        cent.select("m", "cid", "csub"),
        n_rows, "m int, cid long, psum array<long>, pcnt long", kern,
    )


def _pq_encode(
    q: DataFrame, cent: DataFrame, subdim: int, n_rows: int
) -> DataFrame:
    """(vec_id, code: array<bigint>, n2) — the corpus encode pass as
    one blocked cogroup kernel sharing `_pq_assign_np` with the
    training update (the two can never drift). The kernel emits the
    assembled code array (m-ascending) with n2 carried through: one
    n-row cogroup exchange, where assigning per (vector, subspace) row
    would add an n·m-row shuffle to re-assemble the codes and a join
    back onto the corpus for n2."""

    def kern(l, r):
        import numpy as np

        per_m = _pq_assign_np(_ints(l["qv"]), r, subdim)
        codes = np.stack([cids[pos] for _mm, cids, pos, _sub in per_m], axis=1)
        return l["vec_id"].to_numpy(), [c.tolist() for c in codes], l["n2"].to_numpy()

    return _block_cogroup(
        q.select("vec_id", "qv", "n2"),
        cent.select("m", "cid", "csub"),
        n_rows, "vec_id long, code array<long>, n2 long", kern,
    )


PQ_M = 8        # subspaces (64-dim → 8 × 8)
PQ_SUBDIM = 8   # dims per subspace
PQ_KSUB = 32    # centroids per subspace codebook
PQ_ITERS = 1    # Lloyd refinement rounds per subspace
# ADC candidates per query before exact rerank. Tuned on the synthetic
# near-uniform embeddings (the adversarial case for PQ): (m=8, ksub=32,
# cand=64) → recall@3 = 0.84 vs the exact batch kNN at sf0.01; coarser
# (m=4, ksub=8, cand=12) scored 0.13. Real-world clustered embeddings
# sit far above this floor.
PQ_CAND = 64


def pq_topk(emb: DataFrame, n_rows: int) -> DataFrame:
    """Product-quantization ANN for a query batch, fully deterministic
    and oracle-expressible (:func:`sql_pq` is the same algorithm in
    DuckDB).

    The 100-TB story PQ adds over IVF: the corpus index is PQ_M small
    CODES per vector (here 8 one-byte codes) instead of the 64-dim
    int64 vector — memory drops ~64×, which is what lets a billion-vector index live
    in executor RAM. The probe batch is the first ``QUERY_CAP``
    multiples of ``QUERY_MOD``; the corpus is every other vector.
    Pipeline:

    1. split each quantized vector into ``PQ_M`` contiguous
       ``PQ_SUBDIM``-dim subvectors;
    2. train one ``PQ_KSUB``-centroid codebook per subspace (Lloyd on
       exact-int L2: d² = |s|² + |c|² − 2⟨s,c⟩, ties → lower cid;
       means requantized exactly like ivf_topk);
    3. encode the corpus: per (vector, subspace) the argmin-d² cid;
    4. ADC search: each query precomputes an m×ksub dot-product LUT
       against the codebooks; the approximate dot of query·vector is
       the sum of PQ_M LUT lookups, never touching corpus vectors;
    5. exact quantized-cosine rerank of the top-``PQ_CAND`` ADC
       candidates per query, keeping the top ``KNN_K``.

    All similarity arithmetic is exact int64 up to the final IEEE
    divisions, so even the APPROXIMATE scores hash-match the SQL twin.
    ``n_rows`` is the corpus size: the training, encode and ADC kernels
    split the corpus into :func:`assign_blocks` ``(n_rows)`` blocks, so
    per-task memory stays bounded as the corpus grows."""
    from frauddetection_spark.operators.caching import track_cache

    q = track_cache(quantize(emb).select("vec_id", "qv", "n2").persist())
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice("qv", mm * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
            )
            for mm in range(PQ_M)
        ]
    )
    # `subs` is not persisted: only the two CONSTANT-SIZE slices below
    # (codebook seeds, probe subvectors for the LUT) read it, and their
    # vec_id filters push below the Generate to the persisted q's cache
    # scan. Assignment over the full n·m subvector space runs inside
    # the blocked numpy kernels (_pq_partials / _pq_encode).
    subs = q.select("vec_id", F.explode(sub_structs).alias("s")).select(
        "vec_id", "s.m", "s.sub"
    )
    cent = subs.filter(F.col("vec_id") < PQ_KSUB).select(
        "m",
        F.col("vec_id").alias("cid"),
        F.col("sub").alias("csub"),
    )
    for _ in range(PQ_ITERS):
        # Lloyd update from per-block partial sums: the update shuffles
        # ≤ B·m·ksub tiny rows regardless of corpus size, and Σ_blocks
        # of int64 partials is bit-equal to the global Σ.
        part = _pq_partials(q, cent, PQ_SUBDIM, n_rows)
        comp = part.groupBy("m", "cid").agg(
            F.sum("pcnt").alias("_n"),
            *[
                F.sum(F.col("psum")[j]).alias(f"_s{j}")
                for j in range(PQ_SUBDIM)
            ],
        )
        cent = track_cache(
            comp.select(
                "m",
                "cid",
                F.array(
                    *[
                        F.round(
                            F.col(f"_s{j}").cast("double") / F.col("_n")
                        ).cast("bigint")
                        for j in range(PQ_SUBDIM)
                    ]
                ).alias("csub"),
            )
            .select("m", "cid", "csub")
            .persist()
        )

    # Probe set = the fixed serving batch (see QUERY_CAP); corpus =
    # everything else. ADC is QUERY_CAP·n·m LUT gathers: linear per
    # decade.
    probe = (F.col("vec_id") % QUERY_MOD == 0) & (
        F.col("vec_id") < QUERY_MOD * QUERY_CAP
    )
    lut = (
        subs.filter(probe)
        .select(F.col("vec_id").alias("query_id"), "m", "sub")
        .join(F.broadcast(cent), "m")
        .select(
            "query_id",
            "m",
            "cid",
            F.aggregate(
                F.zip_with("sub", "csub", lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ).alias("ldot"),
        )
        .join(
            q.select(
                F.col("vec_id").alias("query_id"), F.col("n2").alias("qn2")
            ),
            "query_id",
        )
    )

    # ADC as a blocked numpy LUT-gather kernel. The relational form
    # (codes ⋈ lut on (m, cid) → groupBy sum) materializes
    # |corpus|·|queries|·m shuffle rows — ~10⁹ at sf0.1 — because every
    # code row matches every query; ADC's whole point is that those
    # "rows" are table lookups. The codes stay in their hash block,
    # every query's LUT is replicated onto each block, and the kernel
    # gathers adot[q, x] = Σ_m LUT[q, m, code] as m int64 numpy gathers
    # (exact in any order → still hash-equal to the SQL twin).
    def adc(ct, lt):
        import numpy as np

        ct = ct[ct["n2"].to_numpy() > 0]
        lt = lt[lt["qn2"].to_numpy() > 0]
        if lt.empty or ct.empty:
            return None
        qids = np.sort(lt["query_id"].unique())
        qpos = {int(qq): i for i, qq in enumerate(qids)}
        # dense LUT tensor [nq, m*ksub] (int64, exact)
        T = np.zeros((len(qids), PQ_M * PQ_KSUB), dtype=np.int64)
        li = lt["query_id"].map(qpos).to_numpy()
        T[li, lt["m"].to_numpy() * PQ_KSUB + lt["cid"].to_numpy()] = lt[
            "ldot"
        ].to_numpy()
        qn2 = np.zeros(len(qids), dtype=np.float64)
        qn2[li] = lt["qn2"].to_numpy()
        C = _ints(ct["code"])  # [nx, m]
        xids = ct["vec_id"].to_numpy()
        xn2 = ct["n2"].to_numpy().astype(np.float64)
        adot = np.zeros((len(qids), len(xids)), dtype=np.int64)
        for mm in range(PQ_M):
            adot += T[:, mm * PQ_KSUB + C[:, mm]]
        acos = adot / np.sqrt(qn2[:, None] * xn2[None, :])
        return _topk_not_self(qids, xids, acos, PQ_CAND)

    codes = _pq_encode(q.filter(~probe), cent, PQ_SUBDIM, n_rows)
    tiles = _block_cogroup(
        codes, lut, n_rows, "query_id long, neighbor long, acos double", adc
    )
    cands = _top_k(tiles, "query_id", "acos", PQ_CAND, None).select(
        "query_id", "neighbor"
    )
    pair_dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    rr = (
        cands.join(
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("qv").alias("qa"),
                F.col("n2").alias("na"),
            ),
            "query_id",
        )
        .join(
            q.select(
                F.col("vec_id").alias("neighbor"),
                F.col("qv").alias("qb"),
                F.col("n2").alias("nb"),
            ),
            "neighbor",
        )
        .withColumn(
            "cos",
            pair_dot.cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        )
    )
    return _top_k(rr, "query_id", "cos", KNN_K, "bigint")


def sql_pq() -> str:
    """DuckDB twin of :func:`pq_topk` — subspace split as unrolled
    UNION ALL slices, Lloyd as chained CTEs (sql_ivf's discipline),
    ADC as the same (m, cid) join + sum, over the same fixed probe
    batch."""
    slices = "\n        UNION ALL ".join(
        f"SELECT vec_id, {mm} AS m,"
        f" qv[{mm * PQ_SUBDIM + 1}:{(mm + 1) * PQ_SUBDIM}] AS sub FROM q"
        for mm in range(PQ_M)
    )
    sub_dot = (
        "CAST(list_sum(list_transform(list_zip(s.sub, c.csub),"
        " x -> x[1] * x[2])) AS BIGINT)"
    )
    mean_terms = ", ".join(
        f"CAST(round(CAST(sum(s.sub[{j}]) AS DOUBLE) / count(*)) AS BIGINT)"
        for j in range(1, PQ_SUBDIM + 1)
    )
    n2_terms = " + ".join(
        f"csub[{j}] * csub[{j}]" for j in range(1, PQ_SUBDIM + 1)
    )
    ctes = [
        f"q AS ({SQL_QUANTIZED})",
        f"""subs0 AS (
        {slices}
    )""",
        """subs AS (
        SELECT vec_id, m, sub,
               CAST(list_sum(list_transform(sub, x -> x * x)) AS BIGINT)
                   AS sub_n2
        FROM subs0
    )""",
        f"cent0 AS (SELECT m, vec_id AS cid, sub AS csub, sub_n2 AS cn2"
        f" FROM subs WHERE vec_id < {PQ_KSUB})",
    ]
    for i in range(PQ_ITERS):
        ctes.append(
            f"""score{i} AS (
        SELECT s.vec_id, s.m, c.cid,
               s.sub_n2 + c.cn2 - 2 * {sub_dot} AS d2
        FROM subs s JOIN cent{i} c ON s.m = c.m
    )"""
        )
        ctes.append(
            f"""assign{i} AS (
        SELECT vec_id, m, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
            FROM score{i}) WHERE rn = 1
    )"""
        )
        ctes.append(
            f"""comp{i} AS (
        SELECT a.m, a.cid, list_value({mean_terms}) AS csub
        FROM assign{i} a
        JOIN subs s ON a.vec_id = s.vec_id AND a.m = s.m
        GROUP BY a.m, a.cid
    )"""
        )
        ctes.append(
            f"cent{i + 1} AS (SELECT m, cid, csub,"
            f" CAST({n2_terms} AS BIGINT) AS cn2 FROM comp{i})"
        )
    final = f"cent{PQ_ITERS}"
    ctes.append(
        f"""fscore AS (
        SELECT s.vec_id, s.m, c.cid,
               s.sub_n2 + c.cn2 - 2 * {sub_dot} AS d2
        FROM subs s JOIN {final} c ON s.m = c.m
    )"""
    )
    ctes.append(
        """fassign AS (
        SELECT vec_id, m, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
            FROM fscore) WHERE rn = 1
    )"""
    )
    ctes.append(
        f"codes AS (SELECT vec_id, m, cid FROM fassign"
        f" WHERE NOT (vec_id % {QUERY_MOD} = 0"
        f" AND vec_id < {QUERY_MOD * QUERY_CAP}))"
    )
    ctes.append(
        f"""lut AS (
        SELECT s.vec_id AS query_id, s.m, c.cid, {sub_dot} AS ldot
        FROM subs s JOIN {final} c ON s.m = c.m
        WHERE s.vec_id % {QUERY_MOD} = 0 AND s.vec_id < {QUERY_MOD * QUERY_CAP}
    )"""
    )
    ctes.append(
        """adot AS (
        SELECT l.query_id, c.vec_id AS neighbor,
               CAST(sum(l.ldot) AS BIGINT) AS adot
        FROM codes c JOIN lut l ON c.m = l.m AND c.cid = l.cid
        GROUP BY 1, 2
    )"""
    )
    ctes.append(
        """scored AS (
        SELECT a.query_id, a.neighbor,
               CAST(a.adot AS DOUBLE)
                   / sqrt(CAST(qq.n2 AS DOUBLE) * CAST(nn.n2 AS DOUBLE))
                   AS acos
        FROM adot a
        JOIN q qq ON a.query_id = qq.vec_id
        JOIN q nn ON a.neighbor = nn.vec_id
    )"""
    )
    ctes.append(
        f"""cands AS (
        SELECT query_id, neighbor FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY acos DESC, neighbor) AS crn
            FROM scored) WHERE crn <= {PQ_CAND}
    )"""
    )
    ctes.append(
        """rr AS (
        SELECT c.query_id, c.neighbor,
               CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                    x -> x[1] * x[2])) AS DOUBLE)
                   / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos
        FROM cands c
        JOIN q a ON c.query_id = a.vec_id
        JOIN q b ON c.neighbor = b.vec_id
    )"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, rank, neighbor, cos FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor) AS rank
        FROM rr
    ) WHERE rank <= {KNN_K}
    ORDER BY query_id, rank
    """
