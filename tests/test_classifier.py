"""Ground-truth tests for the hashed-BoW logistic classifier
(`operators/classifier.py`): the distributed standardized GD must match
an independent numpy implementation on the identical feature matrix, and
the distilled quality model must actually learn (held-out accuracy floor
well above the majority class)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.classifier import (
    EPOCHS,
    HASH_DIM,
    LEARNING_RATE,
    featurize,
    quality_classifier_scores,
    quality_labels,
    score_logreg,
    train_logreg,
)
from national_caseload_data_ingest_spark.operators.registry import load_tables

SF001 = "/root/testdata/sf0.001"


def _numpy_reference_gd(rows, labels, dim, epochs, lr):
    """Independent standardized full-batch GD on the dense matrix built
    from the SAME sparse features (raw-space folded weights out)."""
    ids = sorted(labels)
    pos = {d: k for k, d in enumerate(ids)}
    X = np.zeros((len(ids), dim))
    for r in rows:
        if r["idx"] < dim:
            X[pos[r["doc_id"]], r["idx"]] = r["val"]
    y = np.array([labels[d] for d in ids])
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd[sd == 0] = 1.0
    Xs = np.hstack([(X - mu) / sd, np.ones((len(ids), 1))])
    w = np.zeros(dim + 1)
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-Xs @ w))
        w -= lr * Xs.T @ (p - y) / len(ids)
    raw = np.concatenate(
        [w[:dim] / sd, [w[dim] - float((w[:dim] * mu / sd).sum())]]
    )
    return raw


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF001, "documents")["documents"]


def test_train_matches_numpy_reference(spark, docs):
    labels_df = quality_labels(docs)
    feats = featurize(docs)
    w_spark = train_logreg(feats, labels_df)
    rows = feats.collect()
    labels = {r["doc_id"]: r["y"] for r in labels_df.collect()}
    w_ref = _numpy_reference_gd(rows, labels, HASH_DIM, EPOCHS, LEARNING_RATE)
    np.testing.assert_allclose(np.array(w_spark), w_ref, rtol=1e-6, atol=1e-9)
    # and the scorer applies those weights to the same probabilities
    probs = {
        r["doc_id"]: r["prob"] for r in score_logreg(feats, w_spark).collect()
    }
    ids = sorted(labels)
    X = np.zeros((len(ids), HASH_DIM + 1))
    for r in rows:
        X[ids.index(r["doc_id"]), r["idx"]] = r["val"]
    p_ref = 1.0 / (1.0 + np.exp(-X @ w_ref))
    for k, d in enumerate(ids):
        assert probs[d] == pytest.approx(p_ref[k], rel=1e-9)


def test_quality_distillation_learns(spark):
    """Held-out accuracy must clearly beat the majority class — the model
    really learns the heuristic, not a constant."""
    rows = quality_classifier_scores(spark, "/root/testdata/sf0.01").collect()
    acc = sum(r["correct"] for r in rows) / len(rows)
    majority = max(
        sum(r["label"] for r in rows), sum(1 - r["label"] for r in rows)
    ) / len(rows)
    assert acc >= 0.8
    assert acc > majority
    # schema contract
    assert {r["pred"] for r in rows} <= {0, 1}
    assert all(0.0 <= r["prob"] <= 1.0 for r in rows)


def test_featurize_is_codegen(spark, docs):
    plan = featurize(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_scoring_single_pass(spark, docs):
    """Corpus scoring is one broadcast join + one aggregate — exactly one
    exchange (the groupBy), no sort-merge join."""
    w = [0.1] * (HASH_DIM + 1)
    plan = (
        score_logreg(featurize(docs), w)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
