"""M1 scoring-hook tests: the broadcast-weights mapInPandas plumbing
is real and deterministic, and its forward kernel matches a committed
golden."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from frauddetection_spark.functions.torch_hook import (
    numpy_linear_tanh,
    score_batches,
)


def test_score_matches_local_forward(spark):
    pdf_w = {"w": np.array([0.5, -1.0]), "b": 0.25}
    df = spark.createDataFrame(
        [(1, 0.2, 0.3), (2, -0.4, 1.5), (3, 0.0, 0.0)], "id long, a double, b double"
    )
    out = score_batches(df, ["a", "b"], pdf_w).orderBy("id").collect()
    X = np.array([[0.2, 0.3], [-0.4, 1.5], [0.0, 0.0]])
    expected = numpy_linear_tanh(X, pdf_w)
    got = np.array([r.score for r in out])
    assert np.array_equal(got, expected)  # bit-identical, not approx
    # schema: input columns preserved + appended score
    assert [f.name for f in score_batches(df, ["a", "b"], pdf_w).schema] == [
        "id", "a", "b", "score",
    ]


def test_scoring_is_map_only(spark):
    """The scoring pass must add no shuffle: a pure scan+append plan."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 0.01).alias("a"), F.lit(1.0).alias("b")
    )
    out = score_batches(df, ["a", "b"], {"w": np.array([1.0, 1.0]), "b": 0.0})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_numpy_forward_matches_golden():
    """The committed golden IS numpy_linear_tanh's closed form, so a
    change to the kernel's formula cannot pass unnoticed. Tolerance is
    a few ULPs, not zero: np.tanh delegates to the host libm, and a
    glibc update once moved these values by 1 ULP (~1e-17) — the same
    transcendental drift q_model_score's 6dp rounding absorbs. A
    formula change in the kernel diverges by orders of magnitude more
    than this bound, so the anchor still catches real drift."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "golden", "linear_tanh_golden.json")
    with open(path) as fh:
        g = json.load(fh)
    got = numpy_linear_tanh(
        np.array(g["X"]), {"w": np.array(g["w"]), "b": g["b"]}
    )
    assert np.allclose(got, np.array(g["expected"]), rtol=0, atol=1e-12)
