"""Distilled quality classifier: the numpy reference trainer
re-derives the frozen weights, and scoring is column math."""

import math

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__
from osm_wayback_spark.functions.text import quality_score
from osm_wayback_spark.operators.classifier import (
    FEATURES,
    doc_features,
    score_logreg,
)
from tests.test_streaming import SF_DIR


def _docs(spark):
    rows = []
    for i in range(120):
        if i % 2 == 0:
            t = ("the cat and the dog of a house is to go " * (1 + i % 3)).strip()
        else:
            t = ("der hund 123 und 456; die katze; 789!!! " * (1 + i % 3)).strip()
        rows.append((i, t))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _numpy_gd(X, y, iters, lr):
    # reference trainer: z-score standardize, full-batch GD, then fold
    # the standardization back into raw-feature weights
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd = np.where(sd > 0, sd, 1.0)
    Z = (X - mu) / sd
    w = np.zeros(Z.shape[1] + 1)
    Zb = np.hstack([np.ones((Z.shape[0], 1)), Z])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Zb @ w)))
        w = w - lr * (Zb.T @ (p - y)) / len(y)
    w_raw = w[1:] / sd
    b_raw = w[0] - np.sum(w[1:] * mu / sd)
    return np.concatenate([[b_raw], w_raw])


def test_numpy_gd_rederives_frozen_weights(spark):
    """`QUALITY_LR_WEIGHTS` is `_numpy_gd(..., 400, 4.0)` over the
    sf0.001 documents' features, label = the quality gate
    (quality_score >= 0.3), rows ordered by doc_id; the frozen
    weights separate their own labels and score as the driver-side
    sigmoid."""
    w = __spark_entry__.QUALITY_LR_WEIGHTS
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labels = docs.select(
        "doc_id", (quality_score(F.col("text")) >= 0.3).cast("long").alias("y")
    )
    feats = doc_features(docs).join(labels, "doc_id")

    pdf = feats.orderBy("doc_id").toPandas()
    w_ref = _numpy_gd(
        pdf[FEATURES].to_numpy(), pdf["y"].to_numpy().astype(float), 400, 4.0
    )
    assert np.allclose(w, w_ref, rtol=0, atol=1e-9), (w, w_ref)

    scored = feats.select(
        "doc_id", "y", score_logreg(w).alias("p")
    ).collect()
    acc = sum((r.p > 0.5) == (r.y == 1) for r in scored) / len(scored)
    assert acc >= 0.95, acc
    # column-math score agrees with the driver-side sigmoid
    for r in scored[:10]:
        frow = feats.filter(F.col("doc_id") == r.doc_id).first()
        z = w[0] + sum(wj * frow[c] for wj, c in zip(w[1:], FEATURES))
        assert abs(r.p - 1.0 / (1.0 + math.exp(-z))) < 1e-12


def test_features_partition_independent(spark):
    docs = _docs(spark)
    a = sorted(map(tuple, doc_features(docs).collect()))
    b = sorted(map(tuple, doc_features(docs.repartition(13)).collect()))
    assert a == b
