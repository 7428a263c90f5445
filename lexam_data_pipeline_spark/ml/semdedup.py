"""SemDeDup-style semantic deduplication: k-means partition + exact
within-cluster cosine pruning (Abbas et al. 2023, "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication",
arXiv:2303.09540 — public method description only).

The scale insight of the paper is the one realized here: clustering
first turns the O(n²) semantic-dup problem into k independent
O((n/k)²) problems that never talk to each other — each cluster's
pairwise pass is a single ``applyInPandas`` group, so the expensive
kernel is embarrassingly parallel and no all-pairs join ever exists in
the plan.

Pipeline (all on the ``embeddings`` fixture):

1. :func:`ml.kmeans.train_kmeans` — exact full-data Lloyd's, bounded
   per-iteration driver state (O(partitions × k) sufficient-stats rows).
2. :func:`ml.ivf._assign` — the Arrow matmul assignment kernel, map-only.
3. Per-cluster greedy prune (this module): normalize members, cosine
   matrix, scan vec_ids ascending and drop any later member whose
   similarity to a surviving earlier member exceeds ``TAU`` (the
   deterministic analogue of the paper's per-cluster epsilon pruning:
   lowest-id survivor instead of max-centroid-distance, so results are
   reproducible without float ordering).

Scale posture: k grows with corpus size (paper: k ≈ √n keeps cluster
width bounded); the per-group kernel is O((n/k)²·d) vectorized numpy
over one Arrow batch per cluster.  A pathologically hot cluster is the
same skew problem as any groupBy and is bounded by raising k — the
knob is exposed.  Nothing in the plan shuffles vectors more than once
(assignment is map-only; the groupBy on ``cluster`` is the single wide
exchange).

Float caveat: kmeans centroids and cosine values are partition-order
float sums → :func:`q_semantic_dedup` is declared ROWS-ONLY;
``tests/test_semdedup.py`` is the oracle — an independent numpy
replica of all three stages (same seeding, same tiebreaks) must agree
on every per-cluster count.

Complements the reference's exact-hash dedup story
(``backend/app/models.py:1`` stores flat per-document rows only) and
this repo's MinHash/SimHash tiers (`ml/dedup.py`): those catch lexical
near-dups, this catches *semantic* ones the lexical sketches miss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.ml.ivf import _assign
from lexam_data_pipeline_spark.ml.kmeans import K_CLUSTERS, N_ITER, train_kmeans

#: Cosine threshold for "semantic duplicate".  The synthetic corpus is
#: near-isotropic (max pairwise cosine ~0.51), so the fixture value sits
#: where a real corpus's eps would after calibration: high enough that
#: most pairs survive, low enough that every cluster prunes something.
TAU = 0.35


def semantic_dedup_stats(assigned: DataFrame, tau: float = TAU) -> DataFrame:
    """Per-cluster (n_vectors, n_kept, n_dropped) after greedy cosine
    pruning.  ``assigned`` needs columns ``vec_id``, ``e``
    (array<double>), ``cluster``.

    The kernel is self-contained (executor workers may not have this
    package on sys.path when driven from outside the repo)."""

    def prune(pdf):
        import numpy as np
        import pandas as _pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["e"].to_numpy())
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        Xn = X / nrm
        S = Xn @ Xn.T
        n = len(pdf)
        kept = np.ones(n, dtype=bool)
        for i in range(n):
            if not kept[i]:
                continue
            kept[(S[i] > tau) & (np.arange(n) > i)] = False
        return _pd.DataFrame(
            {
                "cluster": [int(pdf["cluster"].iloc[0])],
                "n_vectors": [int(n)],
                "n_kept": [int(kept.sum())],
                "n_dropped": [int(n - kept.sum())],
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        prune, "cluster int, n_vectors bigint, n_kept bigint, n_dropped bigint"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: Lloyd's k-means partition,
    then exact greedy cosine pruning inside each cluster; report
    per-cluster survivor counts.

    Rows-only by declared design (float centroids/cosines);
    tests/test_semdedup.py replicates the full pipeline in numpy."""
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    emb = load_table(spark, sf_dir, "embeddings")
    base = persist_slot(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        ),
        "semdedup_base",
    )
    centroids = train_kmeans(base, K_CLUSTERS, N_ITER)
    if not centroids:  # empty corpus: schema-stable empty result
        return local_rows(
            emb.sparkSession,
            [], "cluster int, n_vectors bigint, n_kept bigint, n_dropped bigint"
        )
    assigned = _assign(base, centroids)
    return semantic_dedup_stats(assigned, TAU).orderBy("cluster")
