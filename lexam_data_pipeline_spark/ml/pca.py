"""PCA variance decomposition without MLlib — covariance as ONE
bounded-output aggregate pass, eigensolve on the driver.

The d×d covariance of an embedding corpus is a sufficient statistic:
``cov = Σxxᵀ/n − μμᵀ``.  A ``mapInPandas`` kernel emits per-Arrow-batch
partial moments ``(n, Σx, Σxxᵀ flattened)`` — output is O(batches)
rows of ~d² doubles (d=64 → 32 KB/row) regardless of corpus size — and
the driver finishes the covariance and runs deflated power iteration
for the top components (O(d²) state, numpy).

Why not a d²-column SQL aggregate: 64·65/2 = 2080 ``sum(xᵢ·xⱼ)`` terms
in one projection blows janino's 64 KB method limit and silently falls
back to interpreted eval (measured on the IVF distance chain,
``ml/ivf.py`` docstring); the Arrow kernel keeps the hot loop in
vectorized numpy.

Scale: one corpus scan, no shuffle (the partial-moment collect IS the
reduce — at 1000 executors it is 1000 rows × 32 KB = 32 MB to the
driver; a treeAggregate-style intermediate combine is unnecessary
below ~10⁵ partitions).

Float caveat: batch-order float sums make moments ulp-variable →
:func:`q_pca_variance` is declared ROWS-ONLY; ``tests/test_pca.py``
verifies eigenvalues/explained-variance against ``numpy.linalg.eigh``
on the exact covariance of the collected corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows

#: The synthetic embedding corpus is near-isotropic (adjacent
#: eigengap ratios ~0.96), so convergence needs |λ₂/λ₁|^iters ≪ 1:
#: 600 iterations ⇒ residual ~3e-11, eigenvalue error second-order in
#: that.  Driver cost is 600 64×64 matvecs per component — microseconds.
N_COMPONENTS = 3
POWER_ITERS = 600


def corpus_moments(base: DataFrame):
    """(n, mean vector, covariance matrix) from one scan.  ``base``
    must have column ``e`` (array<double>)."""
    import numpy as np

    def kernel(batches):
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["e"].to_numpy())
            yield _pd.DataFrame(
                {
                    "n": [int(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = base.mapInPandas(
        kernel, "n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    if n == 0:  # empty corpus: no moments
        return 0, None, None
    d = len(parts[0]["s"])
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in parts:
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(d, d)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    return n, mu, cov


def top_components(cov, k: int = N_COMPONENTS, iters: int = POWER_ITERS):
    """Deflated power iteration: top-k (eigenvalue, eigenvector) of a
    symmetric PSD matrix.  Deterministic init (uniform vector), O(d²·k·
    iters) driver work on a 64×64 — microseconds."""
    import numpy as np

    A = cov.copy()
    out = []
    for _ in range(k):
        v = np.ones(A.shape[0]) / np.sqrt(A.shape[0])
        for _ in range(iters):
            w = A @ v
            nrm = np.linalg.norm(w)
            if nrm == 0.0:
                break
            v = w / nrm
        lam = float(v @ A @ v)
        out.append((lam, v.copy()))
        A = A - lam * np.outer(v, v)  # deflate
    return out


def q_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 principal components of the embedding corpus: eigenvalue,
    explained-variance share, cumulative share — the dimensionality
    audit run before choosing a PQ/IVF configuration.

    Rows-only by declared design (batch-order float sums);
    tests/test_pca.py is the oracle via ``numpy.linalg.eigh``."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(F.col("embedding").cast("array<double>").alias("e"))
    n, _, cov = corpus_moments(base)
    schema = (
        "component int, eigenvalue double, var_share double, cum_share double"
    )
    if n == 0:  # empty corpus: schema-stable empty result
        return local_rows(spark, [], schema)
    comps = top_components(cov, N_COMPONENTS)
    trace = float(cov.trace())
    rows, cum = [], 0.0
    for i, (lam, _) in enumerate(comps, start=1):
        # constant corpus: zero total variance → shares are 0 by
        # convention instead of a ZeroDivisionError
        share = lam / trace if trace > 0.0 else 0.0
        cum += share
        rows.append(
            (i, round(lam, 6), round(share, 6), round(cum, 6))
        )
    return local_rows(
        spark,
        rows, "component int, eigenvalue double, var_share double, cum_share double"
    )
