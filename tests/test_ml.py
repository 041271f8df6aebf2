"""ML sanity (SURVEY.md §5.4): the engineered-feature classifier must
beat the majority-class baseline on AUC, and persistence must
round-trip to identical predictions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frauddetection_spark.ml.pipeline import (
    build_dataset,
    evaluate,
    save_load_roundtrip,
    train,
)


@pytest.fixture(scope="module")
def dataset(spark, sf_dir):
    ds, cols = build_dataset(spark, sf_dir)
    ds.persist()
    return ds, cols


def test_dataset_shape(dataset, spark, sf_dir):
    ds, cols = dataset
    assert ds.count() > 0
    # raw + degree + 2 rounds of propagated columns are all present
    assert "value_mean_nbr1" in cols and "n_events_nbr2" in cols
    assert ds.filter(F.col("label").isNull()).count() == 0


def test_classifier_beats_majority_baseline(dataset):
    ds, cols = dataset
    model = train(ds, cols, classifier="lr")
    metrics = evaluate(model, ds)
    assert metrics["auc"] > 0.6, metrics
    assert 0.0 <= metrics["accuracy"] <= 1.0


def test_persistence_roundtrip(dataset):
    ds, cols = dataset
    model = train(ds, cols, classifier="lr")
    restored, path = save_load_roundtrip(model)
    test = ds.filter(F.col("split") == "test").na.fill(0.0)
    a = model.transform(test).select("user_id", "prediction")
    b = restored.transform(test).select("user_id", "prediction")
    assert a.exceptAll(b).count() == 0


def test_gbt_classifier_trains(dataset):
    ds, cols = dataset
    model = train(ds, cols, classifier="gbt")
    metrics = evaluate(model, ds)
    assert metrics["auc"] > 0.6, metrics


def test_weighted_training(dataset, spark, sf_dir):
    from frauddetection_spark.ml.pipeline import train_weighted

    ds, cols = dataset
    model, weighted_ds = train_weighted(ds, cols, spark, sf_dir)
    metrics = evaluate(model, weighted_ds)
    assert metrics["auc"] > 0.6, metrics


def test_validation_split_selects_model(dataset):
    from frauddetection_spark.ml.pipeline import train_with_validation

    ds, cols = dataset
    tvs_model = train_with_validation(ds, cols)
    assert len(tvs_model.validationMetrics) == 3
    best = evaluate(tvs_model.bestModel, ds)
    assert best["auc"] > 0.6, best
