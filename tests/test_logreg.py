"""Independent-oracle verification of the in-engine logistic trainer.

The contract key is declared rows-only (partition-order float sums make
the fitted weights ulp-variable), so the oracle is this module: the
SAME IRLS recurrence implemented independently in numpy over the
collected feature matrix must agree with the distributed fit — weights
to 1e-3 relative, predictions on ≥95% of documents — and the fitted
gate must actually classify (accuracy well above chance).
"""

from __future__ import annotations

import numpy as np
import pytest

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.logreg import (
    N_FEATURES,
    featurize_documents,
    q_logreg_quality,
    score,
    train_logreg_newton,
)


@pytest.fixture(scope="module")
def feats(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    f = featurize_documents(docs).persist()
    f.count()
    yield f
    f.unpersist()


@pytest.fixture(scope="module")
def xy(feats):
    rows = feats.select("y", *[f"x{j}" for j in range(N_FEATURES)]).collect()
    X = np.array([[r[f"x{j}"] for j in range(N_FEATURES)] for r in rows])
    y = np.array([r["y"] for r in rows])
    return X, y


def _sigmoid(z):
    return 1.0 / (1.0 + np.exp(-z))


def _numpy_newton(X, y, n_iter=6):
    w = np.zeros(X.shape[1])
    for _ in range(n_iter):
        p = _sigmoid(X @ w)
        g = X.T @ (p - y)
        H = (X * (p * (1 - p))[:, None]).T @ X + np.eye(X.shape[1]) * 1e-9
        w = w - np.linalg.solve(H, g)
    return w


def test_newton_matches_numpy_reference(feats, xy):
    X, y = xy
    w_spark = np.array(train_logreg_newton(feats, n_iter=6))
    w_ref = _numpy_newton(X, y, n_iter=6)
    assert np.allclose(w_spark, w_ref, rtol=1e-3, atol=1e-6), (
        w_spark,
        w_ref,
    )


def test_predictions_agree_and_classify(feats, xy):
    X, y = xy
    w = train_logreg_newton(feats, n_iter=6)
    preds = np.array(
        [r["pred"] for r in score(feats, w).select("pred").collect()]
    )
    ref = (_sigmoid(X @ _numpy_newton(X, y, 6)) >= 0.5).astype(int)
    assert (preds == ref).mean() >= 0.95
    # the gate must genuinely learn the long-document boundary
    assert (preds == y.astype(int)).mean() >= 0.9


def test_contract_key_shape(spark, sf_small):
    df = q_logreg_quality(spark, sf_small)
    rows = df.collect()
    assert df.columns == ["lang", "n_docs", "n_pred_long", "accuracy"]
    assert len(rows) >= 2
    total = sum(r["n_docs"] for r in rows)
    correct = sum(r["n_docs"] * r["accuracy"] for r in rows)
    assert correct / total >= 0.85
