"""Property tests for the rows-only surface.

Ten declared queries have no DuckDB twin by design (engine-private
sketches, MLlib hash seeds, eigen round-off, env-gated kernels) — the
driver records only rows>0 for them. Each therefore needs a STRONGER
local property pinning its semantics than "returns rows". This module
holds the properties for the seven that had no dedicated test; the
other three are pinned elsewhere and referenced in SURVEY §2.9:

- q_multimodal_decode → tests/test_multimodal.py (Arrow plumbing,
  deterministic fake kernels, batch shapes)
- q_compress_ratio   → tests/test_properties.py (zlib ratio ordering)
- q_hll_rollup       → tests/test_fraud.py (sketch-vs-exact tolerance)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from frauddetection_spark.plans.registry import load_all

REGISTRY = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """HLL++ estimate stays within 5% of the exact distinct count per
    group (rsd is configured at 0.01; 5% is a generous envelope so the
    test pins semantics, not the sketch's exact register layout)."""
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in REGISTRY["q_approx_count_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in REGISTRY["q_count_distinct"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and approx
    for et, est in approx.items():
        assert abs(est - exact[et]) <= max(1, 0.05 * exact[et]), (
            f"{et}: approx {est} vs exact {exact[et]}"
        )


def test_median_approx_tracks_exact(spark, sf_dir):
    """percentile_approx(accuracy=10000) per group lands within 2% of
    the exact interpolated median (q_median's oracle-checked value) —
    at test SF the sketch is near-exact, so drift means a real bug."""
    approx = {
        r["event_type"]: r["median_value_approx"]
        for r in REGISTRY["q_median_approx"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["median_value"]
        for r in REGISTRY["q_median"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and approx
    for et, est in approx.items():
        tol = max(0.02 * abs(exact[et]), 1e-6)
        assert abs(est - exact[et]) <= tol, (
            f"{et}: approx {est} vs exact {exact[et]}"
        )


def test_split_xxhash_partitions_and_determinism(spark, sf_dir):
    """The xxhash64 split is a PARTITION of the table (per-segment
    split counts sum to the segment's row count, labels ⊆
    {train,test}), the train share is within 10pp of the configured
    80%, and the whole result is stable across independent runs
    (seeded hash — no RNG state)."""
    q = REGISTRY["q_split_xxhash"].fn
    rows = _rows(q(spark, sf_dir))
    assert rows == _rows(q(spark, sf_dir))
    seg_counts: dict[str, int] = {}
    split_totals: dict[str, int] = {}
    for seg, split, n in rows:
        assert split in ("train", "test")
        seg_counts[seg] = seg_counts.get(seg, 0) + n
        split_totals[split] = split_totals.get(split, 0) + n
    c = REGISTRY["q_split_stratified"].fn(spark, sf_dir)
    exact_seg = {
        r["c_mktsegment"]: r["n"]
        for r in c.groupBy("c_mktsegment")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert seg_counts == exact_seg
    total = sum(split_totals.values())
    assert abs(split_totals.get("train", 0) / total - 0.80) < 0.10


def test_weighted_draw_is_seeded_subset(spark, sf_dir):
    """Efraimidis–Spirakis draw: min(50, population) rows, every drawn
    row is a real (user_id, prob) row from q_sampling_weights with
    prob > 0, and the seeded draw is reproducible run-to-run."""
    q = REGISTRY["q_weighted_draw"].fn
    rows = _rows(q(spark, sf_dir))
    assert rows == _rows(q(spark, sf_dir))
    weights = {
        r["user_id"]: r["prob"]
        for r in REGISTRY["q_sampling_weights"].fn(spark, sf_dir).collect()
    }
    assert len(rows) == min(50, len(weights))
    for user_id, _label, _degree, prob in rows:
        assert user_id in weights
        assert prob > 0
        assert abs(prob - weights[user_id]) < 1e-12


def test_ann_lsh_ml_distances_consistent(spark, sf_dir):
    """Every LSH candidate pair respects the 1.1 euclidean threshold,
    and — vectors being unit-norm — the reported exact-rerank cosine
    satisfies euclid² ≈ 2·(1−cos) (quantized cos vs float euclid →
    loose 0.05 envelope). Pins that the rerank really recomputed the
    distance rather than echoing the LSH bucket distance."""
    rows = REGISTRY["q_ann_lsh_ml"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["euclid"] <= 1.1 + 1e-9
        assert abs(r["euclid"] ** 2 - 2.0 * (1.0 - r["cos"])) < 0.05


def test_dedup_minhash_ml_jaccard_is_exact_on_pairs(spark, sf_dir):
    """MinHashLSH's distCol is the EXACT Jaccard distance over the
    non-zero HashingTF indices of each candidate pair (keyDistance, not
    the sketch estimate) — so jaccard_approx must match a from-scratch
    Jaccard over the same 2^18-bucket hashed shingle sets to 1e-6, and
    every pair must clear the 0.8-distance admission (similarity ≥
    0.2)."""
    from pyspark.ml.feature import HashingTF

    from frauddetection_spark.operators.textsim import word_shingles
    from frauddetection_spark.sources.tables import load_table

    got = REGISTRY["q_dedup_minhash_ml"].fn(spark, sf_dir).collect()
    assert got
    sh = word_shingles(load_table(spark, sf_dir, "documents"))
    docs = sh.groupBy("doc_id").agg(
        F.collect_list(F.col("shingle").cast("string")).alias("toks")
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 18)
    idx = {
        r["doc_id"]: set(r["features"].indices.tolist())
        for r in tf.transform(docs).collect()
    }
    for r in got:
        a, b = idx[r["doc_a"]], idx[r["doc_b"]]
        exact = len(a & b) / len(a | b)
        assert r["jaccard_approx"] >= 0.2 - 1e-9
        assert abs(r["jaccard_approx"] - round(exact, 6)) <= 1e-6, (
            f"({r['doc_a']},{r['doc_b']}): {r['jaccard_approx']} vs {exact}"
        )


def test_viz_projection_is_principal_and_deterministic(spark, sf_dir):
    """PCA projection: one output row per embedding, finite coords,
    PC1 captures ≥ PC2's variance (they're the top-2 eigenvalues), and
    the sign-fix makes the whole result reproducible run-to-run."""
    import math
    import statistics

    q = REGISTRY["q_viz_projection"].fn
    rows = _rows(q(spark, sf_dir))
    assert rows == _rows(q(spark, sf_dir))
    from frauddetection_spark.sources.tables import load_table

    assert len(rows) == load_table(spark, sf_dir, "embeddings").count()
    px = [r[2] for r in rows]
    py = [r[3] for r in rows]
    assert all(math.isfinite(v) for v in px + py)
    assert statistics.pvariance(px) >= statistics.pvariance(py) - 1e-9
