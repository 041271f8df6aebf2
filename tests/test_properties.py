"""Property tests — invariants from the reference's own identities
(SURVEY.md §5.3): distributions sum to 1, Jaccard ∈ [0,1], splits are
disjoint/exhaustive, mirrored edges are symmetric, the dense spine is
complete, simhash fits its bit width.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frauddetection_spark.operators.graph import edges_from_events, mirror
from frauddetection_spark.plans.registry import load_all
from frauddetection_spark.sources.tables import load_table

REGISTRY = load_all()


@pytest.mark.parametrize("name", ["q_sampling_weights", "q_edge_weights"])
def test_probabilities_sum_to_one(name, spark, sf_dir):
    # new_utlis_1.py:63-64 / new_utlis_2.py:111 normalize to Σp = 1
    total = REGISTRY[name].fn(spark, sf_dir).agg(F.sum("prob")).first()[0]
    assert abs(total - 1.0) < 1e-4  # probs are rounded to 6dp per row


@pytest.mark.parametrize("name", ["q_shingle_jaccard", "q_dedup_minhash"])
def test_jaccard_bounds(name, spark, sf_dir):
    # src/utils.py:116 — Jaccard is a ratio of set sizes
    row = (
        REGISTRY[name]
        .fn(spark, sf_dir)
        .agg(F.min("jaccard"), F.max("jaccard"))
        .first()
    )
    if row[0] is not None:
        assert 0.0 <= row[0] and row[1] <= 1.0


def test_minhash_candidates_subset_of_exact(spark, sf_dir):
    # LSH output must be a subset of the exact inverted-index output
    # (banding can only lose pairs, never invent them).
    exact = REGISTRY["q_shingle_jaccard"].fn(spark, sf_dir).select("doc_a", "doc_b")
    lsh = REGISTRY["q_dedup_minhash"].fn(spark, sf_dir).select("doc_a", "doc_b")
    assert lsh.exceptAll(exact).count() == 0


def test_split_disjoint_exhaustive(spark, sf_dir):
    counts = dict(
        REGISTRY["q_split_stratified"]
        .fn(spark, sf_dir)
        .groupBy("split")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    customers = load_table(spark, sf_dir, "customer").count()
    assert counts.get("train", 0) + counts.get("test", 0) == customers
    # hash split should be near the 80/20 target
    assert 0.6 <= counts.get("train", 0) / customers <= 0.95


def test_mirror_symmetric(spark, sf_dir):
    # main.py:102-110 — mirrored edge table equals its own transpose
    e = mirror(edges_from_events(load_table(spark, sf_dir, "events")))
    flipped = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert e.exceptAll(flipped).count() == 0


def test_dense_spine_complete(spark, sf_dir):
    # data_process.py:159-169 — exactly |users| × |windows| rows
    spine = REGISTRY["q_dense_spine"].fn(spark, sf_dir)
    users = spine.select("user_id").distinct().count()
    weeks = spine.select("week").distinct().count()
    assert spine.count() == users * weeks


def test_simhash_bit_width(spark, sf_dir):
    row = (
        REGISTRY["q_simhash"]
        .fn(spark, sf_dir)
        .agg(F.min("simhash"), F.max("simhash"))
        .first()
    )
    assert row[0] >= 0 and row[1] < (1 << 30)


def test_knn_is_symmetric_in_rank_quality(spark, sf_dir):
    # rank-1 neighbor similarity must be >= rank-3 for every vec
    knn = REGISTRY["q_knn_cosine"].fn(spark, sf_dir)
    per = knn.groupBy("vec_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("cos"))).alias("c1"),
        F.max(F.when(F.col("rank") == 3, F.col("cos"))).alias("c3"),
    )
    assert per.filter(F.col("c1") < F.col("c3")).count() == 0


def test_ivf_never_beats_exact(spark, sf_dir):
    # an ANN rank-1 similarity can never exceed the exact rank-1
    exact = (
        REGISTRY["q_knn_cosine"].fn(spark, sf_dir)
        .filter("rank = 1")
        .select("vec_id", F.col("cos").alias("exact_cos"))
    )
    ivf = (
        REGISTRY["q_ann_ivf"].fn(spark, sf_dir)
        .filter("rank = 1")
        .select("vec_id", F.col("cos").alias("ivf_cos"))
    )
    j = exact.join(ivf, "vec_id")
    assert j.filter(F.col("ivf_cos") > F.col("exact_cos") + 1e-9).count() == 0


def _rank1_recall(exact, approx) -> float:
    e = exact.filter("rank = 1").select(
        "vec_id", F.col("neighbor").alias("nn_exact")
    )
    i = approx.filter("rank = 1").select(
        "vec_id", F.col("neighbor").alias("nn_ivf")
    )
    j = e.join(i, "vec_id", "left")
    tot = j.count()
    hit = j.filter(F.col("nn_ivf") == F.col("nn_exact")).count()
    assert tot > 0
    return hit / tot


def test_ivf_rank1_recall(spark, sf_dir):
    """ANN soundness, two pins since K went adaptive:

    1. FLOOR-K configuration (corpus ≤ 256 vectors ⇒ K=16, nprobe=8 =
       half the buckets probed): recall ≥ 0.8 — the original recall
       property at the configuration it was measured at
       (was ~22% with fixed centroids at nprobe=1; measured 0.82).
    2. ADAPTIVE configuration (the shipped query at the suite sf,
       n=500 ⇒ K=32, a quarter of the buckets probed): recall ≥ 0.6
       (measured 0.74). The synthetic embeddings are near-uniform —
       IVF's adversarial case, where recall tracks the probed
       fraction; a FIXED recall floor at a SHRINKING probed fraction
       is information-theoretically impossible on uniform data, and
       the adaptive-K trade (probed fraction ~nprobe/√n for
       ~n^1.5·nprobe candidates instead of the fixed-K hidden
       quadratic the sf1 audit caught at 72×) is the documented
       design. Clustered real-world embeddings sit far above this
       floor."""
    from frauddetection_spark.operators.vectors import (
        ivf_topk,
        knn_topk_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.filter("vec_id < 256")
    floor_recall = _rank1_recall(knn_topk_bruteforce(sub), ivf_topk(sub, 256))
    assert floor_recall >= 0.8, f"floor-K rank-1 recall {floor_recall:.3f}"

    adaptive_recall = _rank1_recall(
        REGISTRY["q_knn_cosine"].fn(spark, sf_dir),
        REGISTRY["q_ann_ivf"].fn(spark, sf_dir),
    )
    assert adaptive_recall >= 0.6, (
        f"adaptive rank-1 recall {adaptive_recall:.3f}"
    )


def test_lloyd_partials_update_matches_rowwise_shape(spark):
    """An optimization replaced ivf_topk's Lloyd update (assign →
    join back onto train → posexplode n·d rows → mean) with per-block
    partial sums from the assignment kernel (_lloyd_partials). Pin the
    two shapes to the bit: on a frame that spans several blocks and
    has centroid ties and a zero-norm vector, the (cid, dim, cv) rows
    of the partial-sum update must equal the old row-wise update
    exactly — int64 partials are associative, so the sums, counts,
    and the one IEEE division all see identical inputs."""
    from frauddetection_spark.operators.vectors import (
        _centroid_topn,
        _lloyd_partials,
    )

    rows = [
        # vec_id, qv (d=3), n2 — includes a zero-norm vector (NaN cos,
        # assigned to the lowest cid) and exact-tie vectors
        (0, [2, 0, 0], 4),
        (1, [0, 2, 0], 4),
        (2, [0, 0, 2], 4),
        (3, [2, 2, 0], 8),
        (4, [0, 0, 0], 0),
        (5, [4, 0, 0], 16),
        (6, [0, 4, 4], 32),
        (7, [1, 1, 1], 3),
    ]
    train = spark.createDataFrame(
        rows, "vec_id: bigint, qv: array<bigint>, n2: bigint"
    )
    cent = spark.createDataFrame(
        [(0, [2, 0, 0], 4), (1, [0, 2, 0], 4), (2, [0, 0, 2], 4)],
        "cid: bigint, cqv: array<bigint>, cn2: bigint",
    )
    new = (
        _lloyd_partials(train, cent, len(rows))
        .select("cid", "pcnt", F.posexplode("psum").alias("dim", "s"))
        .groupBy("cid", "dim")
        .agg(
            F.round(F.sum("s").cast("double") / F.sum("pcnt"))
            .cast("bigint")
            .alias("cv")
        )
    )
    old = (
        _centroid_topn(train, cent, 1, len(rows))
        .join(train.select("vec_id", "qv"), "vec_id")
        .select("cid", F.posexplode("qv").alias("dim", "xv"))
        .groupBy("cid", "dim")
        .agg(
            F.round(F.sum("xv").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("cv")
        )
    )
    got = sorted(map(tuple, new.collect()))
    want = sorted(map(tuple, old.collect()))
    assert got == want and len(want) > 0


def _pq_old_hof_assignment(spark, q, subdim, n_m, cent):
    """The earlier PQ assignment, reconstructed for pinning: explode
    the corpus into (vec_id, m, sub) subvector rows, broadcast-join
    the per-subspace candidate lists, and take the interpreted
    array_min(transform(...aggregate(zip_with(...)))) argmin over
    exact-int L2 with ties → lower cid."""
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(mm).alias("m"),
                F.slice("qv", mm * subdim + 1, subdim).alias("sub"),
            )
            for mm in range(n_m)
        ]
    )
    subs = q.select("vec_id", F.explode(sub_structs).alias("s")).select(
        "vec_id", "s.m", "s.sub"
    ).withColumn(
        "sub_n2",
        F.aggregate("sub", F.lit(0).cast("bigint"), lambda a, x: a + x * x),
    )
    cn2 = F.aggregate(
        "csub", F.lit(0).cast("bigint"), lambda a, x: a + x * x
    )
    cands = (
        cent.withColumn("cn2", cn2)
        .groupBy("m")
        .agg(F.collect_list(F.struct("cid", "csub", "cn2")).alias("cands"))
    )

    def cdist(c):
        return F.struct(
            (
                F.col("sub_n2")
                + c["cn2"]
                - 2
                * F.aggregate(
                    F.zip_with("sub", c["csub"], lambda x, y: x * y),
                    F.lit(0).cast("bigint"),
                    lambda a, x: a + x,
                )
            ).alias("d2"),
            c["cid"].alias("cid"),
        )

    return (
        subs.join(F.broadcast(cands), "m")
        .withColumn("cid", F.array_min(F.transform("cands", cdist))["cid"])
        .select("vec_id", "m", "sub", "cid")
    )


# Shared fixture frame for the two PQ kernel pins: d=4, m=2 subspaces
# of subdim=2, spanning several pmod blocks, with an exact d2 tie
# (vec 6 vs cids 0/1 in subspace 0 → lower cid), negative components,
# and a zero vector.
_PQ_PIN_ROWS = [
    (0, [2, 0, 1, 1], 6),
    (1, [0, 2, 1, -1], 6),
    (2, [2, 0, -1, 1], 6),
    (3, [1, 1, 0, 0], 2),
    (4, [0, 0, 0, 0], 0),
    (5, [-2, 0, 3, 3], 22),
    (6, [1, 1, 2, 2], 10),
    (7, [4, 4, -2, -2], 40),
]
_PQ_PIN_CENT = [
    (0, 0, [2, 0]),
    (0, 1, [0, 2]),
    (1, 0, [1, 1]),
    (1, 1, [-1, 1]),
]


def test_pq_partials_update_matches_hof_shape(spark):
    """pq_topk's training update moved from the broadcast-join +
    interpreted-HOF argmin + columnar-sum aggregate over n·m subvector
    rows into the blocked numpy kernel _pq_partials. Pin the updated
    means to the bit against the old shape: int64 partials are
    associative, so sums, counts, and the one IEEE division + round
    see identical inputs."""
    from frauddetection_spark.operators.vectors import _pq_partials

    subdim, n_m = 2, 2
    q = spark.createDataFrame(
        _PQ_PIN_ROWS, "vec_id: bigint, qv: array<bigint>, n2: bigint"
    )
    cent = spark.createDataFrame(
        _PQ_PIN_CENT, "m: int, cid: bigint, csub: array<bigint>"
    )
    new = (
        _pq_partials(q, cent, subdim, len(_PQ_PIN_ROWS))
        .groupBy("m", "cid")
        .agg(
            F.sum("pcnt").alias("_n"),
            *[F.sum(F.col("psum")[j]).alias(f"_s{j}") for j in range(subdim)],
        )
        .select(
            "m",
            "cid",
            *[
                F.round(F.col(f"_s{j}").cast("double") / F.col("_n"))
                .cast("bigint")
                .alias(f"c{j}")
                for j in range(subdim)
            ],
        )
    )
    old = (
        _pq_old_hof_assignment(spark, q, subdim, n_m, cent)
        .groupBy("m", "cid")
        .agg(
            F.count("*").alias("_n"),
            *[F.sum(F.col("sub")[j]).alias(f"_s{j}") for j in range(subdim)],
        )
        .select(
            "m",
            "cid",
            *[
                F.round(F.col(f"_s{j}").cast("double") / F.col("_n"))
                .cast("bigint")
                .alias(f"c{j}")
                for j in range(subdim)
            ],
        )
    )
    got = sorted(map(tuple, new.collect()))
    want = sorted(map(tuple, old.collect()))
    assert got == want and len(want) > 0


def test_pq_encode_matches_hof_shape(spark):
    """pq_topk's corpus encode moved into the _pq_encode kernel,
    which also assembles the m-ascending code array and carries n2 —
    replacing the old argmin + groupBy(vec_id)
    sort_array(collect_list) + n2 join. Pin codes AND assembly order
    to the bit against the old shape."""
    from frauddetection_spark.operators.vectors import _pq_encode

    subdim, n_m = 2, 2
    q = spark.createDataFrame(
        _PQ_PIN_ROWS, "vec_id: bigint, qv: array<bigint>, n2: bigint"
    )
    cent = spark.createDataFrame(
        _PQ_PIN_CENT, "m: int, cid: bigint, csub: array<bigint>"
    )
    new = _pq_encode(q, cent, subdim, len(_PQ_PIN_ROWS)).select(
        "vec_id", "code", "n2"
    )
    old = (
        _pq_old_hof_assignment(spark, q, subdim, n_m, cent)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("m", "cid"))),
                lambda s: s["cid"],
            ).alias("code")
        )
        .join(q.select("vec_id", "n2"), "vec_id")
    )
    got = sorted((r["vec_id"], tuple(r["code"]), r["n2"]) for r in new.collect())
    want = sorted((r["vec_id"], tuple(r["code"]), r["n2"]) for r in old.collect())
    assert got == want and len(want) == len(_PQ_PIN_ROWS)


def test_pq_quantize_invariant_fixed_width_no_nulls(spark, sf_dir):
    """pq_topk's columnar-mean update divides every
    per-dimension sum by one shared count(*), and the positional
    argmin indexes sub[j] with literal ordinals — both assume every
    embedding is exactly EMB_DIM wide with no null elements. Pin that
    quantize invariant on the test data (the scale ladder replicates
    these rows, so it inherits the invariant)."""
    from frauddetection_spark.queries._util import t

    emb = t(spark, sf_dir, "embeddings")
    bad = emb.filter(
        (F.size("embedding") != 64)
        | (F.exists("embedding", lambda x: x.isNull()))
    ).count()
    assert bad == 0


def test_asof_carries_latest_row_atomically(spark):
    # regression: a NULL in the latest right row must be
    # carried as NULL (not back-filled from an older row), and columns
    # must never mix across right rows
    from frauddetection_spark.operators.asof import asof_last_before

    left = spark.createDataFrame([(1, 3, 100)], ["k", "ts", "event_id"])
    right = spark.createDataFrame(
        [(1, 1, 1, 5, 7), (1, 2, 2, None, 9)],
        "k long, ts long, event_id long, v long, w long",
    )
    out = asof_last_before(
        left, right, key="k", ts="ts", right_cols=["v", "w"]
    ).collect()[0]
    assert out.asof_v is None  # latest row's NULL, not the older 5
    assert out.asof_w == 9  # same (latest) row's w


def test_asof_rejects_column_collision(spark):
    from frauddetection_spark.operators.asof import asof_last_before
    import pytest as _pytest

    left = spark.createDataFrame([(1, 3, 10)], ["k", "ts", "price"])
    right = spark.createDataFrame([(1, 1, 20)], ["k", "ts", "price"])
    with _pytest.raises(ValueError):
        asof_last_before(left, right, key="k", ts="ts", right_cols=["price"])


def test_common_neighbors_rejects_min_common_zero(spark, sf_dir):
    from frauddetection_spark.operators.graph import (
        ContactStats,
        common_neighbor_pairs,
    )
    import pytest as _pytest

    contacts = spark.createDataFrame([(1, 2)], ["user", "contact"])
    stats = ContactStats(n_contacts=1, n_users=1, sum_d2=1, values=None)
    with _pytest.raises(ValueError):
        common_neighbor_pairs(contacts, min_common=0, stats=stats)


def test_pack_sequences_bin_bound(spark, sf_dir):
    """Contiguous-fill packing: a bin's token total can exceed the
    target only by its last doc's tokens (the overflow bound), and
    totals per bucket must equal the corpus's token count (nothing
    dropped or double-packed)."""
    from frauddetection_spark.queries.llm_pipeline import (
        PACK_TARGET_TOKENS,
    )

    packed = REGISTRY["q_pack_sequences"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", r"\s+")))
    ).first()[0]
    assert sum(r.total_tokens for r in packed) == total_tokens
    for r in packed:
        # bin starts strictly inside [seq_id*target, (seq_id+1)*target)
        # => total < target + max single doc; loose but real bound:
        assert r.total_tokens < 2 * PACK_TARGET_TOKENS + 200


def test_embed_quantize_error_bound(spark, sf_dir):
    """int8 symmetric quantization: per-element error ≤ scale/2 (both
    columns carry r6 display rounding → ±5e-7 slack each)."""
    rows = REGISTRY["q_embed_quantize"].fn(spark, sf_dir).collect()
    assert rows, "no vectors quantized"
    for r in rows:
        assert r.max_abs_err <= r.scale / 2 + 1e-6, r


def test_decontaminate_excludes_benchmark(spark, sf_dir):
    """Benchmark documents must not appear as train rows, and overlap
    counts/rates must be sane."""
    from frauddetection_spark.queries.llm_pipeline import BENCH_MOD

    rows = REGISTRY["q_decontaminate"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.doc_id % BENCH_MOD != 0
        assert 0 <= r.n_overlap <= r.n_shingles
        assert 0.0 <= r.overlap_rate <= 1.0


def test_dedup_groups_partition_docs(spark, sf_dir):
    """Dup-group resolution is a partition of the corpus: every doc in
    exactly one group, group_id = min member, sizes consistent."""
    rows = REGISTRY["q_dedup_groups"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    seen = []
    for r in rows:
        members = [int(x) for x in r.members.split(",")]
        assert r.n_docs == len(members)
        assert r.group_id == min(members)
        seen.extend(members)
    assert len(seen) == len(set(seen)) == n_docs


def test_quality_and_chunks_on_degenerate_docs(spark, tmp_path):
    """Empty and 1-token documents: Spark's sequence(a, b) REVERSES
    when a > b (unlike DuckDB's range, which returns empty) — the
    guards in q_doc_chunks / q_quality_rules must keep the twins
    identical on bigram-less docs instead of fabricating chunks or
    dividing by zero (ANSI mode errors on x/0)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["", "word", "two words two words"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [0, 4, 19],
        }
    )
    pdf.to_parquet(str(tmp_path / "documents.parquet"))
    q = REGISTRY["q_quality_rules"].fn(spark, str(tmp_path)).orderBy("doc_id").collect()
    assert [r.doc_id for r in q] == [1, 2, 3]
    assert [r.dup_bigram_frac for r in q] == [0.0, 0.0, pytest.approx(1 / 3)]
    chunks = REGISTRY["q_doc_chunks"].fn(spark, str(tmp_path)).collect()
    assert sorted(r.doc_id for r in chunks) == [2, 3]  # empty text -> 0 chunks


def test_pagerank_mass_and_floor(spark, sf_dir):
    """Every rank ≥ the teleport base (150k micro); total mass ≤
    n·scale (dangling mass only leaks, never appears); and ranks are
    not uniform (the graph actually differentiates nodes)."""
    pr = REGISTRY["q_pagerank"].fn(spark, sf_dir)
    rows = pr.collect()
    assert all(r.rank_micro >= 150_000 for r in rows)
    assert sum(r.rank_micro for r in rows) <= 1_000_000 * len(rows)
    assert len({r.rank_micro for r in rows}) > 1


def test_pagerank_sink_attracts_mass(spark):
    """On a directed star a←{b,c,d}, the sink's rank must exceed the
    leaves' (which sit at the teleport floor)."""
    from frauddetection_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1)], ["src", "dst"]
    )
    got = {r.node: r.rank_micro for r in pagerank_integer(edges).collect()}
    assert got[1] > got[2] == got[3] == got[4] == 150_000


def test_winsorize_bounds_and_count_preserved(spark, sf_dir):
    """lo ≤ hi per group, and the winsorized sum is within [n·lo, n·hi]."""
    out = REGISTRY["q_winsorize"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.lo <= r.hi
        assert r.n * r.lo - 1e-6 <= r.winsorized_sum <= r.n * r.hi + 1e-6


def test_feature_hash_bucket_range_and_density(spark, sf_dir):
    """Buckets land in [0, D); every document with tokens gets at
    least one bucket; |w| per bucket is bounded by the doc's token
    count."""
    from frauddetection_spark.queries.llm_pipeline import FEATURE_DIM

    fh = REGISTRY["q_feature_hash"].fn(spark, sf_dir)
    stats = fh.agg(
        F.min("bucket").alias("bmin"),
        F.max("bucket").alias("bmax"),
        F.count_distinct("doc_id").alias("docs"),
    ).first()
    assert 0 <= stats.bmin and stats.bmax < FEATURE_DIM
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert stats.docs == n_docs  # synthetic corpus: every doc has tokens


def test_calibration_bins_partition_users(spark, sf_dir):
    """Bin tallies partition the user population exactly."""
    cal = REGISTRY["q_metric_calibration"].fn(spark, sf_dir)
    tot = cal.agg(F.sum("n_users").alias("u"), F.sum("events").alias("e")).first()
    e = load_table(spark, sf_dir, "events")
    assert tot.u == e.select("user_id").distinct().count()
    assert tot.e == e.count()


def test_profile_matches_direct_counts(spark, sf_dir):
    """The profiling query's distinct counts agree with direct
    per-column queries."""
    prof = {
        r.col: r
        for r in REGISTRY["q_profile_events"].fn(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    assert prof["user_id"].n_distinct == e.select("user_id").distinct().count()
    assert prof["event_type"].n_null == 0


def test_ivf_sampled_recall_and_sample_shape(spark, sf_dir):
    """The 100-TB IVF path (codebook trained on a ~35% hash sample,
    the 100-TB training shape) must not give up recall vs full-table training
    — the codebook needs cluster geometry, not every point. Same
    two-pin structure as test_ivf_rank1_recall since K went adaptive:
    floor-K configuration ≥ 0.75 (measured 0.86), shipped
    adaptive configuration ≥ 0.55 (measured 0.68 at suite sf; the
    uniform-synthetic recall-vs-probed-fraction note there applies).
    Also pins the sample really being ~35%: if the train filter ever
    silently widened to the full table, the scale story (Lloyd cost
    O(sample) not O(table)) would be gone with no test noticing."""
    from frauddetection_spark.operators.sampling import portable_uniform_keep
    from frauddetection_spark.operators.vectors import (
        IVF_SAMPLE_PCT,
        IVF_SEED,
        ivf_topk,
        knn_topk_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_train = emb.filter(
        portable_uniform_keep(F.col("vec_id"), IVF_SAMPLE_PCT, IVF_SEED)
    ).count()
    assert 0.25 * n <= n_train <= 0.45 * n, f"sample {n_train}/{n}"

    sub = emb.filter("vec_id < 256")
    floor_recall = _rank1_recall(
        knn_topk_bruteforce(sub), ivf_topk(sub, 256, seeding="sampled")
    )
    assert floor_recall >= 0.75, (
        f"sampled floor-K rank-1 recall {floor_recall:.3f}"
    )

    adaptive_recall = _rank1_recall(
        REGISTRY["q_knn_cosine"].fn(spark, sf_dir),
        REGISTRY["q_ann_ivf_sampled"].fn(spark, sf_dir),
    )
    assert adaptive_recall >= 0.55, (
        f"sampled adaptive rank-1 recall {adaptive_recall:.3f}"
    )


def test_sessionize_covers_all_events(spark, sf_dir):
    """Gaps-and-islands invariants: every event lands in exactly one
    session (Σ n_events = |events|), session ids per user are dense
    from 1, and no session spans a >30-min internal gap is implied by
    construction (the flag sums)."""
    sess = REGISTRY["q_sessionize"].fn(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert sess.agg(F.sum("n_events")).first()[0] == n_events
    per_user = sess.groupBy("user_id").agg(
        F.min("session_id").alias("lo"),
        F.max("session_id").alias("hi"),
        F.count("*").alias("n"),
    )
    assert per_user.filter("lo != 1 OR hi != n").count() == 0


def test_interval_join_matches_naive_range_join(spark, sf_dir):
    """The bucketed expansion must be a pure physical rewrite: same
    answer as the naive (nested-loop) range join it replaces, and no
    point counted twice through two buckets."""
    from frauddetection_spark.queries.features import EPISODE_US

    base = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    iv = base.filter("event_type = 'error'").select(
        F.col("user_id").alias("iv_user"),
        F.col("event_id").alias("iv_id"),
        F.col("us").alias("s_us"),
        (F.col("us") + F.lit(EPISODE_US)).alias("e_us"),
    )
    pts = base.filter("event_type != 'error'")
    naive = (
        pts.join(
            iv,
            (pts.user_id == iv.iv_user)
            & (pts.us >= iv.s_us)
            & (pts.us < iv.e_us),
            "left",
        )
        .groupBy("user_id", "event_id")
        .agg(F.count("iv_id").alias("n_episodes"))
    )
    bucketed = REGISTRY["q_interval_join"].fn(spark, sf_dir)
    assert bucketed.exceptAll(naive).count() == 0
    assert naive.exceptAll(bucketed).count() == 0


# --- operator invariants ---------------------------------------------------


def test_entropy_bounds(spark, sf_dir):
    """0 ≤ entropy ≤ ln(n_types); 0 ≤ gini < 1 (equality at a single
    type). The identities the information-theoretic features must obey
    regardless of the data."""
    import math

    rows = REGISTRY["q_entropy"].fn(spark, sf_dir).collect()
    for r in rows:
        assert -1e-9 <= r.entropy <= math.log(r.n_types) + 1e-9, r
        assert 0 <= r.gini < 1, r
        if r.n_types == 1:
            assert abs(r.entropy) < 1e-9 and r.gini == 0


def test_retention_offset_zero_is_full(spark, sf_dir):
    """Every cohort is 100% retained at offset 0 (its definition), and
    no offset exceeds the cohort size."""
    rows = REGISTRY["q_retention_cohorts"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.n_active <= r.cohort_size
        if r.week_offset == 0:
            assert r.n_active == r.cohort_size and r.retention == 1.0


def test_quantile_grid_monotone(spark, sf_dir):
    """p25 ≤ p50 ≤ p75 ≤ p90 ≤ p99 within every event_type."""
    rows = REGISTRY["q_quantile_grid"].fn(spark, sf_dir).collect()
    by_type: dict[str, dict[str, int]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, {})[r.q_label] = r.value_cents
    order = ["p25", "p50", "p75", "p90", "p99"]
    for et, qs in by_type.items():
        assert set(qs) == set(order), (et, qs)
        vals = [qs[q] for q in order]
        assert vals == sorted(vals), (et, vals)


def test_moving_avg_frame_bounds(spark, sf_dir):
    """ROWS 2 PRECEDING frame: 1 ≤ win_n ≤ 3, and win_cents is the
    frame sum (avg · n recovers it exactly in cents)."""
    rows = REGISTRY["q_moving_avg"].fn(spark, sf_dir).limit(500).collect()
    for r in rows:
        assert 1 <= r.win_n <= 3
        assert abs(r.moving_avg * r.win_n * 100 - r.win_cents) < 1e-6


def test_bitmap_weeks_consistent(spark, sf_dir):
    """popcount(mask) weeks within [first, last]; first/last bits set."""
    rows = REGISTRY["q_bitmap_weeks"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.week_mask > 0
        assert bin(r.week_mask).count("1") == r.n_active_weeks
        assert r.week_mask & (1 << r.first_week)
        assert r.week_mask & (1 << r.last_week)
        assert r.n_active_weeks <= r.last_week - r.first_week + 1


def test_triangle_census_identities(spark, sf_dir):
    """3T ≤ W (every triangle closes 3 wedges) → clustering ∈ [0,1]."""
    r = REGISTRY["q_graph_triangles"].fn(spark, sf_dir).first()
    assert r.n_triangles >= 0 and r.n_wedges > 0
    assert 3 * r.n_triangles <= r.n_wedges
    assert 0.0 <= r.global_clustering <= 1.0


def test_bfs_levels_sound(spark, sf_dir):
    """Seeds are exactly level 0; levels bounded by K; every level-k>0
    node has a neighbor at level k-1 (spot-checked via the edge set)."""
    from frauddetection_spark.queries.graph import BFS_HOPS, BFS_SEED_MOD

    lv = REGISTRY["q_bfs_levels"].fn(spark, sf_dir)
    rows = lv.collect()
    assert all(0 <= r.level <= BFS_HOPS for r in rows)
    e = mirror(edges_from_events(load_table(spark, sf_dir, "events")))
    seeds = {
        r.src for r in e.filter(F.col("src") % BFS_SEED_MOD == 0)
        .select("src").distinct().collect()
    }
    got0 = {r.node for r in rows if r.level == 0}
    assert got0 == seeds
    # soundness of level 1: exactly the non-seed neighbors of seeds
    nbrs = {
        r.dst
        for r in e.filter(F.col("src").isin(list(seeds)))
        .select("dst").distinct().collect()
    }
    got1 = {r.node for r in rows if r.level == 1}
    assert got1 == (nbrs - seeds)


def test_mad_outliers_bounded(spark, sf_dir):
    rows = REGISTRY["q_anomaly_mad"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.mad_cents >= 0
        assert 0 <= r.n_outliers <= r.n_events


def test_minhash_estimate_bounds(spark, sf_dir):
    """Estimate ∈ [0,1] in 1/16 steps; banding guarantees ≥1 band of 4
    consecutive matching components for every candidate — so n_match ≥ 4."""
    rows = REGISTRY["q_minhash_est"].fn(spark, sf_dir).collect()
    for r in rows:
        assert 4 <= r.n_match <= 16
        assert abs(r.est_jaccard * 16 - r.n_match) < 1e-9
        assert 0 < r.exact_jaccard <= 1


def test_sequence_gaps_cover_missing_ids(spark, sf_dir):
    """Reconstructing ids from gaps + observed ids yields the full
    contiguous range between min and max observed purchase ids."""
    e = load_table(spark, sf_dir, "events").filter("event_type = 'purchase'")
    ids = sorted(r.event_id for r in e.select("event_id").collect())
    gaps = REGISTRY["q_sequence_gaps"].fn(spark, sf_dir).collect()
    missing = set()
    for g in gaps:
        assert g.gap_len == g.gap_end - g.gap_start + 1 > 0
        missing |= set(range(g.gap_start, g.gap_end + 1))
    full = set(range(ids[0], ids[-1] + 1))
    assert missing == full - set(ids)


def test_trend_slope_two_point_exact(spark):
    """A user with exactly two daily points has slope = Δy/Δx and the
    intercept line passes through both points (closed-form check on a
    tiny in-memory frame run through the same sufficient-statistics
    formula)."""
    # replicate the formula used by q_trend_slope on known numbers
    xs, ys = [3, 10], [500, 1200]
    n = 2
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    assert slope == (1200 - 500) / (10 - 3)
    assert abs(intercept + slope * 3 - 500) < 1e-9


# --- scorecard / survival / similarity invariants ---


def test_ks_bounds_and_consistency(spark, sf_dir):
    # KS is a sup of |CDF differences| — bounded [0, 1]; and the
    # labeled KS must equal the max deviation a direct pandas scan
    # finds (independent recomputation, not the SQL twin)
    row = REGISTRY["q_ks_score"].fn(spark, sf_dir).first()
    assert 0.0 <= row["ks"] <= 1.0
    row2 = REGISTRY["q_ks_2sample"].fn(spark, sf_dir).first()
    assert 0.0 <= row2["ks"] <= 1.0


def test_lift_gains_shape(spark, sf_dir):
    import pandas as pd

    pdf = REGISTRY["q_lift_gains"].fn(spark, sf_dir).orderBy("decile").toPandas()
    # 10 deciles, users near-equally split, gain nondecreasing to 1.0
    assert list(pdf["decile"]) == list(range(1, 11))
    assert pdf["n_users"].max() - pdf["n_users"].min() <= 1
    assert (pdf["gain"].diff().dropna() >= 0).all()
    assert abs(pdf["gain"].iloc[-1] - 1.0) < 1e-12
    # mean lift weighted by users is 1 by construction
    w = (pdf["lift"] * pdf["n_users"] * pdf["n_pos"].sum() / pdf["n_users"].sum()).sum()
    assert abs(w - pdf["n_pos"].sum()) < 1e-6 * pdf["n_pos"].sum() + 1e-9


def test_psi_and_iv_nonnegative(spark, sf_dir):
    # every PSI/IV term (p−q)·ln(p/q) is ≥ 0 (Gibbs' inequality term)
    p = REGISTRY["q_psi"].fn(spark, sf_dir).toPandas()
    assert (p["psi_term"] >= 0).all()
    assert (p["psi_total"] >= 0).all()
    iv = REGISTRY["q_woe_iv"].fn(spark, sf_dir).toPandas()
    assert (iv["iv_term"] >= 0).all()


def test_survival_km_monotone(spark, sf_dir):
    pdf = REGISTRY["q_survival_km"].fn(spark, sf_dir).toPandas()
    s = pdf.sort_values("t")["survival"]
    assert (s.diff().dropna() <= 1e-12).all()  # nonincreasing
    assert (0.0 <= s).all() and (s <= 1.0).all()
    # risk sets telescope: n_{t+1} = n_t - d_t - c_t
    r = pdf.sort_values("t")
    expect = r["n_at_risk"] - r["d"] - r["c"]
    assert (r["n_at_risk"].shift(-1).dropna() == expect[:-1]).all()


def test_sparse_cosine_bounds_and_blocking(spark, sf_dir):
    pdf = REGISTRY["q_sparse_cosine"].fn(spark, sf_dir).toPandas()
    if len(pdf):
        assert (pdf["cosine"] > 0).all() and (pdf["cosine"] <= 1.0 + 1e-12).all()
        assert (pdf["doc_a"] < pdf["doc_b"]).all()


def test_percent_rank_bounds(spark, sf_dir):
    pdf = REGISTRY["q_percent_rank"].fn(spark, sf_dir).toPandas()
    assert abs(pdf["pct_rank"].min()) < 1e-12
    assert abs(pdf["pct_rank"].max() - 1.0) < 1e-12
    assert pdf["cume_dist"].min() > 0 and abs(pdf["cume_dist"].max() - 1.0) < 1e-12


def test_negative_samples_never_purchased(spark, sf_dir):
    neg = REGISTRY["q_negative_sampling"].fn(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    purchased = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("cand_part"))
        .distinct()
    )
    overlap = neg.join(purchased, ["user_id", "cand_part"], "inner").count()
    assert overlap == 0
    per_user = neg.groupBy("user_id").count().agg(F.max("count")).first()[0]
    assert per_user <= 3


def test_hits_norms_in_unit_interval(spark, sf_dir):
    pdf = REGISTRY["q_hits"].fn(spark, sf_dir).toPandas()
    for c in ("hub_norm", "auth_norm"):
        assert pdf[c].min() >= 0 and pdf[c].max() <= 1.0 + 1e-12
    # max-normalized: some node attains each max exactly
    assert (pdf["hub_norm"] == 1.0).any() and (pdf["auth_norm"] == 1.0).any()


# ---------------------------------------------------------------------------
# more operator invariants
# ---------------------------------------------------------------------------


def test_rolling_dau_bounds(spark, sf_dir):
    # WAU covers a superset of each day's actives; stickiness = dau/wau
    bad = (
        REGISTRY["q_rolling_dau"]
        .fn(spark, sf_dir)
        .filter(
            (F.col("wau") < F.col("dau"))
            | (F.col("stickiness") > 1.0)
            | (F.col("stickiness") <= 0.0)
        )
        .count()
    )
    assert bad == 0


def test_cohort_ltv_cumulative_monotone(spark, sf_dir):
    # cumulative revenue never decreases within a cohort (revenue ≥ 0)
    from pyspark.sql import Window

    df = REGISTRY["q_cohort_ltv"].fn(spark, sf_dir)
    w = Window.partitionBy("cohort").orderBy("week_index")
    bad = (
        df.withColumn("prev", F.lag("cum_rev_cents").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("cum_rev_cents") < F.col("prev")))
        .count()
    )
    assert bad == 0


def test_fill_forward_null_only_before_first_obs(spark, sf_dir):
    # once a user has an observation, filled stays non-null; rows with
    # an observation carry it verbatim
    df = REGISTRY["q_fill_forward"].fn(spark, sf_dir)
    assert (
        df.filter(
            F.col("obs_cents").isNotNull()
            & (F.col("filled_cents") != F.col("obs_cents"))
        ).count()
        == 0
    )


def test_spatial_join_matches_naive(spark, sf_dir):
    # grid-cell candidates + exact predicate ≡ naive all-pairs join
    from frauddetection_spark.queries.sampling import (
        _SP_AX, _SP_AY, _SP_R, _SP_SIDE, _NEG_P,
    )

    pts = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            ((F.col("user_id") % _NEG_P) * _SP_AX % _NEG_P % _SP_SIDE).alias("x"),
            ((F.col("user_id") % _NEG_P) * _SP_AY % _NEG_P % _SP_SIDE).alias("y"),
        )
    )
    a, b = pts.alias("a"), pts.alias("b")
    naive = (
        a.join(b, F.col("a.user_id") < F.col("b.user_id"))
        .filter(
            (F.abs(F.col("a.x") - F.col("b.x")) <= _SP_R)
            & (F.abs(F.col("a.y") - F.col("b.y")) <= _SP_R)
        )
        .count()
    )
    grid = REGISTRY["q_spatial_join"].fn(spark, sf_dir)
    assert grid.count() == naive
    assert grid.filter(F.col("cheb") > _SP_R).count() == 0


def test_bm25_positive_and_term_bounded(spark, sf_dir):
    from frauddetection_spark.queries.text import _BM25_TERMS

    df = REGISTRY["q_bm25"].fn(spark, sf_dir)
    assert df.filter(F.col("bm25") <= 0).count() == 0
    assert df.filter(F.col("n_terms") > len(_BM25_TERMS)).count() == 0


def test_temperature_mix_quota_exact(spark, sf_dir):
    # every source keeps exactly its quota (or its full size when the
    # source is smaller than the quota) and quotas sum ≤ the budget
    from frauddetection_spark.queries.llm_pipeline import _TMIX_TARGET

    df = REGISTRY["q_temperature_mix"].fn(spark, sf_dir)
    per = df.groupBy("source").agg(
        F.count("*").alias("kept"), F.max("target").alias("target")
    )
    n = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n")
    )
    bad = (
        per.join(n, "source")
        .filter(F.col("kept") != F.least(F.col("target"), F.col("n")))
        .count()
    )
    assert bad == 0
    total = per.agg(F.sum("target")).first()[0]
    assert total <= _TMIX_TARGET


def test_ppr_seeds_hold_restart_mass(spark, sf_dir):
    # every seed node retains at least the restart term
    from frauddetection_spark.queries.graph import (
        _PPR_D, _PPR_SCALE, _PPR_SEED_MOD,
    )

    df = REGISTRY["q_ppr"].fn(spark, sf_dir)
    restart = (100 - _PPR_D) * _PPR_SCALE // 100
    bad = (
        df.filter(F.col("node") % _PPR_SEED_MOD == 0)
        .filter(F.col("ppr_micro") < restart)
        .count()
    )
    assert bad == 0


def test_table_diff_classes_partition_keyspace(spark, sf_dir):
    # the four diff classes partition |A ∪ B| exactly
    rows = {
        r["diff_class"]: r["n_rows"]
        for r in REGISTRY["q_table_diff"].fn(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    n_a = o.filter(F.col("o_orderkey") % 97 != 0).count()
    n_b = o.filter(F.col("o_orderkey") % 89 != 0).count()
    union = o.filter(
        (F.col("o_orderkey") % 97 != 0) | (F.col("o_orderkey") % 89 != 0)
    ).count()
    assert rows.get("removed", 0) + rows.get("changed", 0) + rows.get(
        "unchanged", 0
    ) == n_a
    assert rows.get("added", 0) + rows.get("changed", 0) + rows.get(
        "unchanged", 0
    ) == n_b
    assert sum(rows.values()) == union


# ---------------------------------------------------------------------------
# final-batch invariants
# ---------------------------------------------------------------------------


def test_attribution_credits_sum_per_user(spark, sf_dir):
    # every converting user with >= 1 pre-conversion touch distributes
    # exactly 10000 bp — the integer remainder-dealing must be lossless
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        e.join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("conv_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select(
            "user_id",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("pos"),
            F.count("*").over(Window.partitionBy("user_id")).alias("n"),
        )
    )
    bp = (
        F.when(F.col("n") == 1, 10000)
        .when(F.col("n") == 2, 5000)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 4000)
        .otherwise(
            F.expr("2000 div (n - 2)")
            + F.when(F.col("pos") - 1 <= F.expr("2000 % (n - 2)"), 1).otherwise(0)
        )
    )
    bad = (
        touches.select("user_id", bp.alias("bp"))
        .groupBy("user_id")
        .agg(F.sum("bp").alias("total"))
        .filter(F.col("total") != 10000)
        .count()
    )
    assert bad == 0


def test_simhash_pairs_equals_bruteforce(spark, sf_dir):
    # band-bucket candidates + verify ≡ brute-force hamming ≤ 3
    from frauddetection_spark.operators.textsim import simhash
    from frauddetection_spark.queries.similarity import _SH_MAX_HAMMING

    sig = simhash(load_table(spark, sf_dir, "documents"))
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr("bit_count(ha ^ hb)") <= _SH_MAX_HAMMING)
        .count()
    )
    lsh = REGISTRY["q_simhash_pairs"].fn(spark, sf_dir).count()
    assert lsh == brute


def test_circular_resultant_bounds(spark, sf_dir):
    df = REGISTRY["q_circular_hours"].fn(spark, sf_dir)
    bad = df.filter(
        (F.col("resultant") < 0) | (F.col("resultant") > 1.0 + 1e-9)
    ).count()
    assert bad == 0


def test_taint_conserved_with_haircut(spark, sf_dir):
    # per hop, total taint never exceeds the seed mass (floor-division
    # haircut only loses residue, never creates mass)
    from frauddetection_spark.queries.fraud import _TAINT_SCALE

    df = REGISTRY["q_taint_tracing"].fn(spark, sf_dir)
    seeds = df.filter(F.col("hop") == 0).count()
    per_hop = {
        r["hop"]: r["total"]
        for r in df.groupBy("hop").agg(F.sum("taint").alias("total")).collect()
    }
    assert per_hop[0] == seeds * _TAINT_SCALE
    for hop, total in per_hop.items():
        assert total <= seeds * _TAINT_SCALE


def test_random_walk_steps_follow_edges(spark, sf_dir):
    # every consecutive (step i, step i+1) pair of a walk must be an
    # actual edge
    from frauddetection_spark.operators.graph import edges_from_events

    walks = REGISTRY["q_random_walks"].fn(spark, sf_dir)
    e = edges_from_events(load_table(spark, sf_dir, "events"))
    a = walks.alias("a")
    b = walks.select(
        F.col("seed").alias("seed"),
        F.col("walk").alias("walk"),
        (F.col("step") - 1).alias("step"),
        F.col("node").alias("nxt"),
    ).alias("b")
    hops = a.join(b, ["seed", "walk", "step"]).select(
        F.col("node").alias("src"), F.col("nxt").alias("dst")
    )
    bad = hops.join(e, ["src", "dst"], "left_anti").count()
    assert bad == 0


def test_benford_groups_nonnegative(spark, sf_dir):
    df = REGISTRY["q_benford_groups"].fn(spark, sf_dir)
    assert df.filter(F.col("mad_q9") < 0).count() == 0
    assert df.filter(F.col("n_values") <= 0).count() == 0


def test_countmin_overestimates_only(spark, sf_dir):
    # CMS error is one-sided: min-of-cells can only ADD colliding
    # keys' mass, never lose the key's own increments
    df = REGISTRY["q_countmin"].fn(spark, sf_dir)
    assert df.filter(F.col("overest") < 0).count() == 0
    # and every key is present (the sketch answers all point queries)
    from frauddetection_spark.sources.tables import load_table as _lt

    n_users = _lt(spark, sf_dir, "events").select("user_id").distinct().count()
    assert df.count() == n_users


def test_bloom_never_false_negative(spark, sf_dir):
    # the Bloom guarantee: a member key always answers 'maybe' —
    # n_maybe == n on the true_member class, and no 'member + definite
    # no' class exists
    rows = {r["cls"]: r for r in REGISTRY["q_bloom_membership"].fn(spark, sf_dir).collect()}
    assert rows["true_member"]["n"] == rows["true_member"]["n_maybe"]
    assert rows["true_negative"]["n_maybe"] == 0
    assert set(rows) <= {"true_member", "false_positive", "true_negative"}


def test_changepoint_gain_nonnegative(spark, sf_dir):
    # between-segment SS at the best split dominates the no-split
    # baseline; the two independent floor-quantizations can cost at
    # most 1 unit each
    df = REGISTRY["q_changepoint"].fn(spark, sf_dir)
    assert df.filter(F.col("gain_q") < -1).count() == 0
    assert df.filter((F.col("split_k") <= 0) | (F.col("split_k") >= F.col("n_days"))).count() == 0


def test_ndcg_bounded(spark, sf_dir):
    df = REGISTRY["q_ndcg"].fn(spark, sf_dir)
    assert df.filter((F.col("ndcg") < 0) | (F.col("ndcg") > 1.0000001)).count() == 0
    assert df.filter(F.col("rr_e9") > 1000000000).count() == 0
    # dcg can never beat ideal dcg
    assert df.filter(F.col("dcg_e9") > F.col("idcg_e9")).count() == 0


def test_hyperplane_estimator_tracks_exact_cosine(spark, sf_dir):
    # the Charikar estimator is unbiased with sd ~ pi/sqrt(planes);
    # with 64 planes the mean absolute error across pairs must land
    # well inside 2 sd, and est/exact must correlate positively
    df = REGISTRY["q_hyperplane_est"].fn(spark, sf_dir).select(
        (F.col("est_cos_e9") / 1e9).alias("est"), "cos_exact"
    )
    row = df.agg(
        F.avg(F.abs(F.col("est") - F.col("cos_exact"))).alias("mae"),
        F.corr("est", "cos_exact").alias("c"),
    ).collect()[0]
    assert row["mae"] < 0.35
    assert row["c"] > 0.3


def test_zorder_skips_files_linear_cannot(spark):
    # a selective band predicate on x (the non-sort dimension of the
    # linear layout) must intersect STRICTLY fewer z-order files than
    # linear files — the entire point of multi-dimensional clustering.
    # Needs enough rows for several files per layout, so this test
    # pins sf0.01 (sf0.001 yields one file per layout and the claim
    # is vacuous).
    df = REGISTRY["q_zorder_layout"].fn(spark, "/root/testdata/sf0.01")
    hits = {
        r["layout"]: r["n_hit"]
        for r in df.filter((F.col("x_max") >= 32) & (F.col("x_min") <= 39))
        .groupBy("layout")
        .agg(F.count("*").alias("n_hit"))
        .collect()
    }
    totals = {
        r["layout"]: r["n"]
        for r in df.groupBy("layout").agg(F.count("*").alias("n")).collect()
    }
    assert hits["zorder"] < hits["linear"]
    assert hits["linear"] == totals["linear"]  # 1-D sort skips nothing on x


def test_mutual_info_nonnegative(spark, sf_dir):
    # MI >= 0 always; r6 rounding can dip at most half an ulp of 1e-6
    df = REGISTRY["q_mutual_info"].fn(spark, sf_dir)
    assert df.filter(F.col("mi_nats") < -1e-6).count() == 0
    assert df.count() == 2


def test_wilson_interval_brackets_and_bounded(spark, sf_dir):
    # Wilson never leaves [0,1] (the Wald failure mode) and always
    # brackets the point estimate
    df = REGISTRY["q_wilson_ci"].fn(spark, sf_dir)
    bad = df.filter(
        (F.col("wilson_lo") < -1e-12)
        | (F.col("wilson_hi") > 1 + 1e-12)
        # float residue: at p_hat = 0 the analytic lo is exactly 0 but
        # the expression can leave ~1e-18 behind
        | (F.col("wilson_lo") > F.col("p_hat") + 1e-12)
        | (F.col("wilson_hi") < F.col("p_hat") - 1e-12)
    )
    assert bad.count() == 0


def test_eb_shrinkage_pulls_toward_prior_mean(spark, sf_dir):
    # every EB rate lies between the raw rate and the prior mean
    # (shrinkage is a convex combination), and low-n users move more
    df = REGISTRY["q_eb_shrinkage"].fn(spark, sf_dir)
    rows = df.collect()
    mu = sum(r["raw_rate"] for r in rows) / len(rows)
    for r in rows:
        lo, hi = sorted((r["raw_rate"], mu))
        assert lo - 1e-9 <= r["eb_rate"] <= hi + 1e-9


def test_k_anonymity_partitions_population(spark, sf_dir):
    # equivalence classes partition the table: sizes sum to |customer|
    df = REGISTRY["q_k_anonymity"].fn(spark, sf_dir)
    total = df.agg(F.sum("group_size")).first()[0]
    n = load_table(spark, sf_dir, "customer").count()
    assert total == n
    assert df.filter(F.col("l_diversity") > F.col("group_size")).count() == 0


def test_markov_attribution_mass_and_effects(spark, sf_dir):
    from frauddetection_spark.queries.behavior import _MK_MASS

    rows = {
        r["scenario"]: r
        for r in REGISTRY["q_attribution_markov"].fn(spark, sf_dir).collect()
    }
    for r in rows.values():
        # floors only lose mass, never create it
        assert r["conv_mass"] + r["null_mass"] <= _MK_MASS
        assert r["conv_mass"] >= 0 and r["null_mass"] >= 0
    for name, r in rows.items():
        if name != "full":
            # removing a channel cannot increase absorbed conversion
            assert r["conv_mass"] <= rows["full"]["conv_mass"]


def test_compress_ratio_orders_entropy(spark, sf_dir):
    """Repetitive text must out-compress high-entropy text of the same
    length, and DEFLATE overhead keeps every ratio in (0, 1.1]."""
    from frauddetection_spark.functions.pandas_udfs import zlib_size

    rep = "spark " * 200
    import random

    rng = random.Random(7)
    junk = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(len(rep)))
    df = spark.createDataFrame([(1, rep), (2, junk)], ["i", "text"]).select(
        "i", (zlib_size(F.col("text")) / F.octet_length("text")).alias("r")
    )
    r = {row["i"]: row["r"] for row in df.collect()}
    assert r[1] < r[2] / 3
    out = REGISTRY["q_compress_ratio"].fn(spark, sf_dir)
    assert out.filter(F.col("min_ratio") <= 0).count() == 0
    # DEFLATE worst case is raw + ~11 bytes + 5/16KB-block — an
    # ABSOLUTE overhead, so short docs legitimately exceed ratio 1
    assert out.filter(F.col("zip_total") > F.col("raw_total") + 32 * F.col("n_docs")).count() == 0


def test_delong_auc_matches_point_auc(spark):
    # the placement-value AUC must equal the Mann-Whitney rank AUC
    # (same integers, different arrangement), and the variance must be
    # positive with z consistent. Pinned at sf0.01: sf0.001 has zero
    # positives (fixture threshold) and the whole row is NULL-guarded.
    d = REGISTRY["q_auc_delong"].fn(spark, "/root/testdata/sf0.01").collect()[0]
    a = REGISTRY["q_metric_auc"].fn(spark, "/root/testdata/sf0.01").collect()[0]
    assert abs(d["auc"] - a["auc"]) < 1e-12
    assert d["var_auc"] > 0


def test_brier_decomposition_consistency(spark):
    # rel/res/unc nonnegative; BS in [0,1]; the binned identity holds
    # up to the reported within-bin residual (which must be small
    # relative to BS for decile bins)
    r = REGISTRY["q_brier_decomp"].fn(spark, "/root/testdata/sf0.01").collect()[0]
    assert 0 <= r["brier"] <= 1
    assert r["reliability"] >= 0 and r["resolution"] >= 0 and r["uncertainty"] >= 0
    lhs = r["brier"]
    rhs = r["reliability"] - r["resolution"] + r["uncertainty"] + r["within_bin"]
    assert abs(lhs - rhs) < 1e-12
    assert abs(r["within_bin"]) <= max(0.05, 0.5 * r["brier"])


def test_shapley_efficiency_bound(spark, sf_dir):
    # Σφ = v(full) − v(empty) ∈ [−1, 1]; each φ bounded by 1 in
    # absolute value (rates live in [0,1])
    rows = REGISTRY["q_attribution_shapley"].fn(spark, sf_dir).collect()
    assert len(rows) == 3
    total = sum(r["phi6_q9"] for r in rows)
    assert abs(total) <= 6_000_000_000
    for r in rows:
        assert abs(r["phi6_q9"]) <= 6_000_000_000


def test_label_propagation_refines_components(spark, sf_dir):
    """Labels travel only along edges, so every LPA community must lie
    INSIDE one connected component of the same (repeat-contact,
    mirrored) graph — a community straddling two components would
    mean a label teleported. Also: every label is a real node id."""
    import pyspark.sql.functions as F

    from frauddetection_spark.plans.registry import load_all
    from frauddetection_spark.operators.graph import (
        connected_components,
        edges_from_events,
        mirror,
    )
    from frauddetection_spark.queries._util import t

    reg = load_all()
    lpa = reg["q_label_propagation"].fn(spark, sf_dir)

    ev = t(spark, sf_dir, "events")
    repeat = (
        ev.select(
            F.col("user_id").alias("src"),
            F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter((F.col("w") >= 3) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
    )
    cc = connected_components(mirror(repeat))  # (node, component)
    joined = lpa.join(cc, "node", "inner")
    assert joined.count() == lpa.count(), "every LPA node is in the CC frame"
    # each label maps to exactly one component
    spans = (
        joined.groupBy("label")
        .agg(F.countDistinct("component").alias("n_comp"))
        .filter(F.col("n_comp") > 1)
        .count()
    )
    assert spans == 0, "a community straddles two components"
    # labels are node ids
    nodes = set(r.node for r in lpa.select("node").collect())
    labels = set(r.label for r in lpa.select("label").distinct().collect())
    assert labels <= nodes


# --- later additions -------------------------------------------------------


def test_date_spread_conserves_cents(spark, sf_dir):
    # largest-remainder allocation: Σ recognized over all days must
    # equal Σ line cents of the spread-eligible lines, to the cent
    out = REGISTRY["q_date_spread"].fn(spark, sf_dir)
    got = out.agg(F.sum("recognized_c")).first()[0]
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.to_date("l_shipdate").alias("ship_d"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.to_date("o_orderdate").alias("d0"),
    )
    want = (
        li.join(o, "l_orderkey")
        .withColumn("nd", F.datediff("ship_d", "d0") + 1)
        .filter(F.col("nd").between(1, 400))
        .agg(F.sum("c"))
        .first()[0]
    )
    assert got == want


def test_concurrency_starts_match_sessions(spark, sf_dir):
    # every session opens exactly once: Σ n_starts == q_sessionize rows
    conc = REGISTRY["q_concurrency"].fn(spark, sf_dir)
    n_starts = conc.agg(F.sum("n_starts")).first()[0]
    n_sessions = REGISTRY["q_sessionize"].fn(spark, sf_dir).count()
    assert n_starts == n_sessions
    peaks = conc.agg(F.min("peak_conc")).first()[0]
    assert peaks >= 1  # a day in the output saw at least one boundary


def test_theilsen_covers_multiday_users(spark, sf_dir):
    # one row per user with >= 2 active days, none for single-day users
    out = REGISTRY["q_theilsen"].fn(spark, sf_dir)
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .groupBy("user_id")
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert out.count() == n_users
    assert out.select("user_id").distinct().count() == n_users


def test_bpe_top_merge_vanishes_in_round2(spark, sf_dir):
    # left-to-right non-overlapping replace removes EVERY occurrence of
    # the merged pair, so round 1's rank-1 pair cannot appear in round 2
    out = REGISTRY["q_bpe_merge"].fn(spark, sf_dir)
    top1 = (
        out.filter((F.col("round") == 1) & (F.col("rank") == 1))
        .select("pair")
        .first()[0]
    )
    again = out.filter((F.col("round") == 2) & (F.col("pair") == top1)).count()
    assert again == 0


def test_watermark_lateness_monotone_thresholds(spark, sf_dir):
    # a 1h watermark can only drop a subset of what 10min would drop
    bad = (
        REGISTRY["q_watermark_lateness"]
        .fn(spark, sf_dir)
        .filter(
            (F.col("n_late_1h") > F.col("n_late_10m"))
            | (F.col("n_late_10m") > F.col("n_events"))
        )
        .count()
    )
    assert bad == 0


def test_inverted_index_head_lengths(spark, sf_dir):
    # postings head carries min(df, 8) docs; df sums to |distinct
    # (token, doc) pairs| of the tokenization. The head is a
    # comma-joined STRING (raw ArrayType outputs crash the
    # driver canonicalizer — tests/test_registry_lint.py), so measure
    # length by re-splitting.
    out = REGISTRY["q_inverted_index"].fn(spark, sf_dir)
    bad = out.filter(
        F.size(F.split("postings_head", ","))
        != F.least(F.col("df"), F.lit(8))
    ).count()
    assert bad == 0
    df_sum = out.agg(F.sum("df")).first()[0]
    pairs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", r"\s+")).alias("tok"))
        .distinct()
        .count()
    )
    assert df_sum == pairs


def test_corpus_funnel_monotone(spark, sf_dir):
    # a funnel only shrinks; stage 1 is the raw table count
    rows = {
        r["stage"]: r["n_docs"]
        for r in REGISTRY["q_corpus_funnel"].fn(spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert all(rows[i] >= rows[i + 1] for i in range(1, 5))
    n_raw = load_table(spark, sf_dir, "documents").count()
    assert rows[1] == n_raw


def test_item_cf_cosine_bounds_and_rank(spark, sf_dir):
    # binary cosine lives in (0, 1]; at most 5 neighbors per item
    out = REGISTRY["q_item_cf"].fn(spark, sf_dir)
    row = out.agg(
        F.min("cosine"), F.max("cosine"), F.max("rank"), F.min("n_uv")
    ).first()
    if row[0] is not None:
        assert 0.0 < row[0] and row[1] <= 1.0
        assert row[2] <= 5 and row[3] >= 2


def test_fraud_funnel_monotone_and_split(spark, sf_dir):
    rows = {
        r["stage"]: r["n_users"]
        for r in REGISTRY["q_fraud_funnel"].fn(spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert all(rows[i] >= rows[i + 1] for i in range(1, 5))
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[1] == n_users
    # the 80% hash split keeps a plausible share of the connected set
    if rows[3]:
        assert 0.5 <= rows[4] / rows[3] <= 1.0


def test_cascade_delete_shares_bounded(spark, sf_dir):
    out = REGISTRY["q_cascade_delete"].fn(spark, sf_dir).orderBy("level").collect()
    assert [r["level"] for r in out] == [1, 2, 3]
    for r in out:
        assert 0 <= r["n_affected"] <= r["n_total"]
        assert 0.0 <= r["affected_pct"] <= 1.0
    seed = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .count()
    )
    assert out[0]["n_affected"] == seed
