"""Fraud-classification pipeline (SURVEY.md §2.7 M1–M6).

The reference trains a multi-scale-LSTM + gated-GNN (BD-BGL,
`Code for Sichuan/main.py`, `src/layers.py`) and 3-relation gated GNNs
(`new_train_*.py`). Per BASELINE ("MLlib + Spark SQL for feature
engineering"), the engine reproduces the *capability* — binary node
classification over engineered behavioral features + graph-propagated
neighbor features — with a fully distributed pipeline:

- M1 (sequence encoder)   → per-scale windowed aggregates from the
  §2.4 feature queries become flat feature columns (the LSTM's input
  statistics, minus the learned recurrence);
- M2 (gated graph conv)   → PROP_ROUNDS rounds of join-aggregate feature
  propagation (operators/graph.py::aggregate_messages) producing
  neighbor-aggregate columns — the message-passing structure without
  torch (the gate is a learned scalar; LR learns feature weights on
  both raw and propagated columns, which spans the same hypothesis
  class for the linear case);
- M3/M4 (heads, training) → VectorAssembler → LogisticRegression /
  GBTClassifier with R2's sampling weights as weightCol;
- M5 (metrics)            → the oracle-checked aggregations in
  queries/metrics.py, applied to the prediction DataFrame;
- M6 (checkpointing)      → PipelineModel.save / load.

Training labels: the behavioral fraud-ish label (error count ≥ 15,
queries/sampling.py). Split: deterministic hash split (R1) — never an
RNG split, so every retrain sees the same partition.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frauddetection_spark.operators.caching import track_cache
from frauddetection_spark.operators.graph import degrees, edges_from_events
from frauddetection_spark.operators.sampling import portable_split
from frauddetection_spark.queries.sampling import _labels
from frauddetection_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PROP_ROUNDS = 2


def user_features(events: DataFrame) -> DataFrame:
    """Per-user behavioral features, one pass over events:
    per-type counts (pivot on a known small domain — no second scan to
    discover keys), exact-cents value stats, activity span."""
    per_type = [
        F.sum(F.when(F.col("event_type") == et, 1).otherwise(0)).alias(f"n_{et}")
        for et in EVENT_TYPES
    ]
    cents = F.round(F.col("value") * 100).cast("bigint")
    return events.groupBy("user_id").agg(
        *per_type,
        F.count("*").alias("n_events"),
        (F.sum(cents).cast("double") / F.count("*") / 100).alias("value_mean"),
        (
            F.sum(cents * cents).cast("double") / F.count("*") / 10000
            - F.pow(F.sum(cents).cast("double") / F.count("*") / 100, 2)
        ).alias("value_var"),
        (
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / 86400.0
        ).alias("span_days"),
    )


def propagate_features(
    features: DataFrame, edges: DataFrame, cols: list[str]
) -> DataFrame:
    """M2: PROP_ROUNDS rounds of mean-aggregate message passing. Round k adds
    `{col}_nbr{k}` = mean over in-neighbors of the previous round's
    value (round 1 reads the raw columns).

    Scale: each round is one join (features onto edge src) + one
    groupBy(dst) — 2 shuffles × PROP_ROUNDS. Frames are persisted between rounds
    to cut lineage (SURVEY §7 watch-list #4: checkpointing between
    propagation rounds over 7M-edge relations)."""
    out = features
    prev_cols = cols
    for k in range(1, PROP_ROUNDS + 1):
        msgs = edges.join(
            out.select(F.col("user_id").alias("src"), *prev_cols), "src"
        )
        agg = msgs.groupBy(F.col("dst").alias("user_id")).agg(
            *[F.avg(c).alias(f"{c.split('_nbr')[0]}_nbr{k}") for c in prev_cols]
        )
        out = out.join(agg, "user_id", "left").na.fill(0.0)
        track_cache(out.persist())
        prev_cols = [f"{c.split('_nbr')[0]}_nbr{k}" for c in prev_cols]
    return out


def build_dataset(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[str]]:
    """Features ⊕ degree features ⊕ 2-round propagated features ⊕
    label ⊕ hash split. Returns (dataset, feature_cols)."""
    events = load_table(spark, sf_dir, "events")
    edges = edges_from_events(events)
    feats = user_features(events)
    deg = degrees(edges).withColumnRenamed("node", "user_id")
    base = feats.join(deg, "user_id", "left").na.fill(0)
    prop_base = ["value_mean", "n_events"]
    full = propagate_features(base, edges, prop_base)
    labeled = full.join(_labels(events), "user_id").withColumn(
        "split", portable_split(F.col("user_id"))
    )
    feature_cols = [
        c for c in labeled.columns if c not in ("user_id", "label", "split")
    ]
    return labeled, feature_cols


def train(
    dataset: DataFrame,
    feature_cols: list[str],
    classifier: str = "lr",
):
    """Assemble → scale → fit on the train split. Returns the fitted
    PipelineModel. NaN/null policy: fill 0 at the boundary (reference:
    np.nan_to_num, main.py:59-63)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import GBTClassifier, LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    asm = VectorAssembler(
        inputCols=feature_cols, outputCol="raw_features", handleInvalid="keep"
    )
    scaler = StandardScaler(inputCol="raw_features", outputCol="features")
    if classifier == "lr":
        clf = LogisticRegression(featuresCol="features", labelCol="label")
    elif classifier == "gbt":
        clf = GBTClassifier(featuresCol="features", labelCol="label", seed=42)
    else:
        raise ValueError(f"unknown classifier {classifier!r}")
    pipe = Pipeline(stages=[asm, scaler, clf])
    return pipe.fit(dataset.filter(F.col("split") == "train").na.fill(0.0))


def evaluate(model, dataset: DataFrame) -> dict[str, float]:
    """Metrics on the test split via the engine's own oracle-checked
    formulas (rank-statistic AUC, confusion-matrix accuracy) — not
    sklearn, not BinaryClassificationEvaluator: the metric code is the
    same SQL the driver verifies (queries/metrics.py)."""
    from pyspark.ml.functions import vector_to_array

    test = dataset.filter(F.col("split") == "test").na.fill(0.0)
    pred = model.transform(test).select(
        "user_id",
        "label",
        vector_to_array("probability")[1].alias("score"),
        F.col("prediction").cast("int").alias("pred"),
    )
    from frauddetection_spark.operators.rank import auc_stats

    agg = auc_stats(pred.select("label", "score")).first()
    auc = agg.auc if agg.n_pos and agg.n_neg else float("nan")
    acc = (
        pred.agg(
            F.avg((F.col("label") == F.col("pred")).cast("double"))
        ).first()[0]
    )
    return {"auc": float(auc), "accuracy": float(acc),
            "n_pos": int(agg.n_pos), "n_neg": int(agg.n_neg)}


def save_load_roundtrip(model):
    """M6: persist to a fresh temp dir and restore (MLlib Pipeline
    persistence). Returns the restored model and the path."""
    from pyspark.ml import PipelineModel

    path = os.path.join(tempfile.mkdtemp(), "frauddetection_model")
    model.write().overwrite().save(path)
    return PipelineModel.load(path), path


def train_weighted(
    dataset: DataFrame,
    feature_cols: list[str],
    spark: SparkSession,
    sf_dir: str,
):
    """M4 with R2's sampling distribution as weightCol: instead of the
    reference's per-batch weighted draws (np.random.choice(p=node_prob),
    new_train_1.py:156 — a driver-side RNG loop), the weights enter the
    loss directly and training stays one distributed fit."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    from frauddetection_spark.queries.sampling import q_sampling_weights

    weights = q_sampling_weights(spark, sf_dir).select(
        "user_id", F.col("prob").alias("weight")
    )
    ds = dataset.join(weights, "user_id", "left").na.fill({"weight": 0.0})
    asm = VectorAssembler(
        inputCols=feature_cols, outputCol="raw_features", handleInvalid="keep"
    )
    scaler = StandardScaler(inputCol="raw_features", outputCol="features")
    clf = LogisticRegression(
        featuresCol="features", labelCol="label", weightCol="weight"
    )
    pipe = Pipeline(stages=[asm, scaler, clf])
    return pipe.fit(ds.filter(F.col("split") == "train").na.fill(0.0)), ds


def train_with_validation(dataset: DataFrame, feature_cols: list[str]):
    """M6: best-by-validation selection (reference: checkpoint best
    val-AUC then restore, new_train_3.py:207-215,231-238) via
    TrainValidationSplit over a small regularization grid — model
    selection and persistence handled by MLlib instead of a manual
    checkpoint loop."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    asm = VectorAssembler(
        inputCols=feature_cols, outputCol="raw_features", handleInvalid="keep"
    )
    scaler = StandardScaler(inputCol="raw_features", outputCol="features")
    clf = LogisticRegression(featuresCol="features", labelCol="label")
    pipe = Pipeline(stages=[asm, scaler, clf])
    grid = (
        ParamGridBuilder()
        .addGrid(clf.regParam, [0.0, 0.01, 0.1])
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="label"),
        trainRatio=0.75,
        seed=42,
    )
    return tvs.fit(dataset.filter(F.col("split") == "train").na.fill(0.0))
