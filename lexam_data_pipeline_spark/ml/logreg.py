"""Distributed logistic regression by Newton-Raphson (IRLS) —
"model training without MLlib", the aggregate-as-gradient-oracle
pattern: each iteration is ONE map-side-combinable aggregate producing
the d-dimensional gradient and the d×d Hessian, the driver holds O(d²)
state and never sees a row.

Realizes the training half of the reference's quality-scoring loop
(``backend/app/routers/experiments.py:1`` consumes model scores; here
the model itself is fit in-engine) as a contract key
(:func:`q_logreg_quality`) over the documents quality features.

Scale posture (the whole point of the design):

* The gradient for weights ``w`` is ``Σ_rows (σ(w·x) − y)·x`` — a sum,
  so it partial-aggregates map-side (the Hessian likewise) and the
  shuffle carries O(d²) doubles per partition regardless of corpus
  size.
* Weights are embedded as literals each iteration (broadcast by plan,
  not by Python closure), so executors never deserialize Python state.
* Driver memory is O(d²) floats; there is no collect of
  features anywhere (contrast with the capped ``train_bpe`` collect —
  this trainer needs no cap because nothing row-shaped ever lands on
  the driver).
* Feature extraction reuses :mod:`ml.textstats`'s exact-integer ratio
  expressions; scaling constants are fixed literals, not data-derived,
  so the featurizer is a pure map (no extra pass for normalization).

Float caveat, stated honestly: partition-order float summation makes
the gradient (hence the fitted weights) reproducible only up to ulps —
this key is declared ROWS-ONLY, with ``tests/test_logreg.py`` as the
oracle (an independent numpy implementation of the same Newton steps
must agree on weights to 1e-3 and on ≥95% of predictions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.functions.text import avg_word_len, tokens
from lexam_data_pipeline_spark.ml.textstats import LANG_MARKERS

#: Fixed feature set: bias, token count / 100, avg word length / 10,
#: English-marker token ratio.  Scaling constants are literals, NOT
#: data-derived statistics, so the featurizer stays a single pure map
#: with no normalization pass.
#:
#: Label honesty: the fixture corpus draws every document from ONE
#: vocabulary (``lang``/``source`` carry no textual signal — verified),
#: so the training target is the deterministic long-document gate
#: ``n_chars > 300``: genuinely learnable from token statistics
#: (n_words correlates with n_chars but chars-per-word varies, so the
#: problem is informative without being separable-by-construction).
N_FEATURES = 4
LABEL_MIN_CHARS = 300


def featurize_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, y, x0..x3): label = "is a long document". Pure
    map — no shuffle, no data-dependent scaling."""
    lowered = F.transform(tokens("text"), F.lower)
    toks = F.col("toks")
    en_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))
    )
    return docs.select(
        "doc_id", "lang", "n_chars", lowered.alias("toks")
    ).select(
        "doc_id",
        "lang",
        (F.col("n_chars") > LABEL_MIN_CHARS).cast("double").alias("y"),
        F.lit(1.0).alias("x0"),
        (F.size(toks).cast("double") / 100.0).alias("x1"),
        # empty-token divisions yield NULL — a blank doc contributes a
        # zero feature, not a NULL gradient row
        F.coalesce(avg_word_len(toks) / 10.0, F.lit(0.0)).alias("x2"),
        F.coalesce(
            en_hits.cast("double") / F.size(toks), F.lit(0.0)
        ).alias("x3"),
    )


def train_logreg_newton(
    features: DataFrame,
    *,
    n_iter: int = 6,
) -> list[float]:
    """IRLS / Newton-Raphson: per iteration ONE aggregate computes the
    gradient (d sums) and the Hessian's upper triangle (d(d+1)/2 sums
    of ``p(1−p)·xᵢxⱼ``); the driver solves the d×d system (numpy,
    O(d³) driver work on a 4×4).  Converges in ~5 iterations where GD
    needs 30+ — at cluster scale that's 5 jobs over the cached feature
    matrix instead of 30.
    """
    import numpy as np

    w = [0.0] * N_FEATURES
    xs = [F.col(f"x{j}") for j in range(N_FEATURES)]
    for _ in range(n_iter):
        z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("y")
        s = p * (F.lit(1.0) - p)
        aggs = [F.sum(err * xj).alias(f"g{j}") for j, xj in enumerate(xs)]
        aggs += [
            F.sum(s * xs[i] * xs[j]).alias(f"h{i}{j}")
            for i in range(N_FEATURES)
            for j in range(i, N_FEATURES)
        ]
        row = features.agg(*aggs).collect()[0]
        if row["g0"] is None:  # empty feature table: nothing to fit
            return w
        g = np.array([float(row[f"g{j}"]) for j in range(N_FEATURES)])
        H = np.zeros((N_FEATURES, N_FEATURES))
        for i in range(N_FEATURES):
            for j in range(i, N_FEATURES):
                H[i, j] = H[j, i] = float(row[f"h{i}{j}"])
        # ridge jitter keeps the solve stable if a feature is constant
        H += np.eye(N_FEATURES) * 1e-9
        w = list(np.asarray(w) - np.linalg.solve(H, g))
    return [float(wj) for wj in w]


def score(features: DataFrame, w: list[float]) -> DataFrame:
    """Append p = σ(w·x) and the 0.5-threshold prediction."""
    xs = [F.col(f"x{j}") for j in range(N_FEATURES)]
    z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return features.withColumn("p", p).withColumn(
        "pred", (F.col("p") >= 0.5).cast("int")
    )


def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the long-document quality gate in-engine, then report
    per-language prediction rates and accuracy — the end-to-end "fit a
    quality filter without MLlib" demonstration.

    Rows-only by declared design (partition-order float sums make
    weights ulp-variable); tests/test_logreg.py verifies the Newton steps
    against an independent numpy implementation."""
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    docs = load_table(spark, sf_dir, "documents")
    # Load-bearing persist: the Newton loop aggregates the SAME feature
    # table n_iter times — without it every iteration re-tokenizes the
    # corpus.  At cluster scale this is the standard "materialize the
    # training matrix once" step.
    feats = persist_slot(featurize_documents(docs), "logreg_features")
    w = train_logreg_newton(feats, n_iter=6)
    scored = score(feats, w)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("pred").cast("bigint").alias("n_pred_long"),
            F.round(
                F.sum(
                    (F.col("pred") == F.col("y").cast("int")).cast("double")
                )
                / F.count(F.lit(1)),
                3,
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )
