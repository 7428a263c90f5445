"""Distributed full-data k-means (Lloyd's algorithm) — the
iterate-with-bounded-feedback training pattern: every iteration is one
shuffle-free assignment map plus one partial-statistics map whose
output is O(partitions × k) rows, so the driver's per-iteration view
is centroid sums, never vectors.

Complements :func:`ml.ivf.build_ivf_index` (which trains on a bounded
SAMPLE so the corpus is scanned once): this trainer scans the corpus
per iteration but computes the EXACT full-data Lloyd update — the
right tool when cluster quality matters more than build latency
(corpus bucketing for curriculum/mixture design, not ANN routing).
Realizes the clustering the reference's analytics tier would need for
corpus segmentation (reference stores flat per-document metadata only:
``backend/app/models.py:1``).

Scale posture:

* Assignment reuses :func:`ml.ivf._assign` — an Arrow-batched matmul
  kernel with the k×d centroid matrix captured by value; map-only, no
  shuffle, no Python state on executors beyond the closure.
* The update step is a ``mapInPandas`` partial-moments kernel emitting
  ``(cluster, n, sum_vec, sse)`` per Arrow batch — the collect is
  bounded by batches × k rows (~KBs) regardless of corpus size, the
  same "sufficient statistics to the driver" split as
  :func:`ml.logreg.train_logreg_newton`.
* The feature table is persisted once (``persist_slot``) because every
  iteration re-reads it — the standard "materialize the training
  matrix" step.

Float caveat: partition-order float sums make centroids reproducible
only up to ulps, so :func:`q_kmeans_clusters` is declared ROWS-ONLY;
``tests/test_kmeans.py`` is the oracle (an independent numpy Lloyd's
with the identical seeding/update rule must agree on centroids,
assignments, and SSE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.ml.ivf import _assign

K_CLUSTERS = 8
N_ITER = 5


def _partial_stats(assigned: DataFrame) -> DataFrame:
    """Per-Arrow-batch sufficient statistics: (cluster, n, s, sse).

    ``s`` is the per-cluster vector sum, ``sse`` the squared distance
    to the CURRENT centroid implied by the assignment kernel having
    already run — recomputed here from the batch alone would need the
    centroids again, so the kernel only emits (n, Σx, Σ‖x‖²) and the
    driver finishes ``sse = Σ‖x‖² − 2·c·Σx + n‖c‖²`` exactly."""

    def kernel(batches):
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["e"].to_numpy())
            lab = pdf["cluster"].to_numpy()
            out = []
            for cid in np.unique(lab):
                M = X[lab == cid]
                out.append(
                    {
                        "cluster": int(cid),
                        "n": int(len(M)),
                        "s": M.sum(axis=0).tolist(),
                        "x2": float((M * M).sum()),
                    }
                )
            yield _pd.DataFrame(out)

    return assigned.mapInPandas(
        kernel, "cluster int, n long, s array<double>, x2 double"
    )


def train_kmeans(
    base: DataFrame, k: int = K_CLUSTERS, n_iter: int = N_ITER
) -> list[list[float]]:
    """Exact full-data Lloyd's.  ``base`` must have columns
    ``vec_id`` (orderable seed key) and ``e`` (array<double>).

    Deterministic: seeds are the k lowest-``vec_id`` vectors, argmin
    ties break to the lowest centroid id (numpy semantics, same as
    IVF), empty clusters keep their previous centroid."""
    import numpy as np

    seeds = base.orderBy("vec_id").limit(k).collect()
    if not seeds:  # empty corpus: no centroids to train
        return []
    C = np.array([r["e"] for r in sorted(seeds, key=lambda r: r["vec_id"])])
    if len(C) < k:  # degenerate corpus smaller than k: pad by repeating
        C = np.concatenate([C] * (k // len(C) + 1))[:k]
    for _ in range(n_iter):
        centroids = [list(map(float, c)) for c in C]
        parts = _partial_stats(_assign(base, centroids)).collect()
        S = np.zeros_like(C)
        n = np.zeros(k, dtype="int64")
        for r in parts:
            S[r["cluster"]] += np.asarray(r["s"])
            n[r["cluster"]] += r["n"]
        nz = n > 0
        C = C.copy()
        C[nz] = S[nz] / n[nz, None]  # empty clusters keep their centroid
    return [list(map(float, c)) for c in C]


def cluster_stats(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Final per-cluster report from ONE more bounded-stats pass:
    ``cluster, n_points, sse`` (driver finishes the SSE identity from
    the same sufficient statistics the trainer used)."""
    import pandas as pd  # noqa: F401 (createDataFrame from rows below)
    import numpy as np

    C = np.array(centroids)
    parts = _partial_stats(_assign(base, centroids)).collect()
    k = len(centroids)
    S = np.zeros_like(C)
    n = np.zeros(k, dtype="int64")
    x2 = np.zeros(k)
    for r in parts:
        S[r["cluster"]] += np.asarray(r["s"])
        n[r["cluster"]] += r["n"]
        x2[r["cluster"]] += r["x2"]
    sse = x2 - 2.0 * (S * C).sum(axis=1) + n * (C * C).sum(axis=1)
    spark = base.sparkSession
    return local_rows(
        spark,
        [
            (int(cid), int(n[cid]), float(round(sse[cid], 3)))
            for cid in range(k)
        ],
        "cluster int, n_points bigint, sse double",
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the embedding corpus with exact full-data Lloyd's and
    report per-cluster size + within-cluster SSE — the corpus
    bucketing step of a mixture-design pipeline.

    Rows-only by declared design (partition-order float sums);
    tests/test_kmeans.py verifies against an independent numpy
    Lloyd's with the identical seed/update/tiebreak rules."""
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    # fan measured and rejected in BOTH r11 windows (interleaved A/B
    # 2.79 → 5.66 min): 2000 rows / 32 partitions starves each Arrow
    # kernel task, and the 6 iterative passes pay 32 Python task
    # launches each instead of one
    emb = load_table(spark, sf_dir, "embeddings")
    base = persist_slot(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        ),
        "kmeans_base",
    )
    centroids = train_kmeans(base, K_CLUSTERS, N_ITER)
    if not centroids:  # empty corpus: schema-stable empty result
        return local_rows(
            emb.sparkSession,
            [], "cluster int, n_points bigint, sse double"
        )
    return cluster_stats(base, centroids).orderBy("cluster")
