"""Distributed model-scoring hook (SURVEY.md §2.7 M1's scoring path;
reference: MultiLstm forward pass, ``src/layers.py:9-69``, scored
full-batch on the driver at ``main.py:128-142``).

The engine's M1 mapping replaces the learned LSTM with engineered
sequence aggregates + MLlib (ml/pipeline.py), but a user migrating a
trained model needs a way to SCORE it over cluster-resident features
without collecting them. This module is that hook:

- weights ship once per executor as a Spark broadcast (model params
  are small; the feature table is the big side and never moves);
- scoring is ``mapInPandas`` — Arrow-batched, map-only, no shuffle;
  at 100 TB this is a pure scan+append pass;
- the forward pass is ``numpy_linear_tanh``, a deterministic 1-layer
  scorer whose closed form the oracle twin also evaluates. torch is
  not installed, so a torch module has no path here; one would
  replace this kernel and keep the broadcast and batching as they are.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def numpy_linear_tanh(X: np.ndarray, weights: dict) -> np.ndarray:
    """Reference forward: tanh(X @ w + b) — a 1-layer scorer whose
    closed form the DuckDB oracle can also evaluate. Deterministic:
    float64 end-to-end, no reductions with engine-dependent order
    (the dot product over a handful of features is sequential)."""
    return np.tanh(X.astype(np.float64) @ weights["w"] + weights["b"])


def score_batches(
    features: DataFrame, feature_cols: list[str], weights: dict
) -> DataFrame:
    """Append ``score`` = numpy_linear_tanh(features, weights) to every
    row.

    Weights are broadcast once (sc.broadcast — the CORRECT use of a
    driver broadcast: model params are KBs; contrast the banned
    pattern of collecting table data). Each Arrow batch becomes one
    vectorized forward call; output schema = input schema + score.
    """
    spark = features.sparkSession
    b_weights = spark.sparkContext.broadcast(weights)

    out_schema = StructType(
        features.schema.fields + [StructField("score", DoubleType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = b_weights.value
        for pdf in batches:
            X = pdf[feature_cols].to_numpy(dtype="float64")
            scored = pdf.copy()
            scored["score"] = numpy_linear_tanh(X, w)
            yield scored

    return features.mapInPandas(kernel, schema=out_schema)
