"""IVF-PQ approximate nearest neighbor: product quantization on top of
the coarse IVF quantizer — the memory-bound scale path for ANN (FAISS
``IVFx,PQy`` posture).

Why this exists beside IVF (:mod:`lexam_data_pipeline_spark.ml.ivf`):
IVF prunes WORK (probe a few clusters), PQ prunes MEMORY — each vector
is stored as ``m`` one-byte codes instead of ``d`` doubles (64-dim
float64 → 8 bytes = 64× smaller), which is what lets a 100 TB embedding
corpus live in executor memory for serving.  Search is asymmetric
distance (ADC): the query builds an ``m × k_sub`` lookup table once,
each candidate costs ``m`` table gathers — no floating multiply per
candidate — then an exact re-rank over the few survivors restores
recall (the FAISS "refine" stage).

Plan shapes (all corpus passes are single Arrow-batched maps):

* train: per-subspace k-means on the SAME bounded driver-side sample
  the IVF build uses — O(sample·d) state, corpus-size independent;
* encode: one ``mapInPandas`` over the corpus → ``(vec_id, cluster,
  codes)``; no shuffle;
* search: filter to probed clusters (partition-prunable when the
  encoded table is written clustered by ``cluster``), ADC scoring in a
  vectorized kernel, ``TakeOrderedAndProject`` for the candidate cut,
  then a broadcast semi-join back to the raw embeddings for the exact
  re-rank of ``refine`` candidates.

Declared rows-only: recall is data-dependent, not ANSI-reproducible;
tests/test_pq.py bounds top-10 overlap against the exact brute-force
oracle and pins the compression ratio + determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.ml.ivf import (
    coarse_index,
    lloyd,
    nearest_clusters,
    training_sample,
)
from lexam_data_pipeline_spark.ml.similarity import cosine
from lexam_data_pipeline_spark.operators.caching import keyed_slot


def train_pq_codebooks(
    sample_rows: list[list[float]], m: int = 8, k_sub: int = 16, iterations: int = 5
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means over the sample: ``m`` codebooks of
    ``k_sub`` centroids each, deterministic (seeds = first ``k_sub``
    sample points of each subspace, ties argmin-to-lowest, exact numpy
    means, empty codes keep their previous centroid)."""
    import numpy as np

    X = np.asarray(sample_rows, dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    books: list[list[list[float]]] = []
    for j in range(m):
        C = lloyd(X[:, j * sub : (j + 1) * sub], k_sub, iterations)
        books.append([list(map(float, c)) for c in C])
    return books


def encode_pq(assigned: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Corpus → ``(vec_id, cluster, codes)`` in one shuffle-free
    Arrow-batched map; ``codes[j]`` is the argmin code of subspace j.
    The codebook list is captured by value (model state, ~m·k_sub·d/m
    doubles), keeping the closure self-contained for executor pickling."""
    books = [[list(map(float, c)) for c in book] for book in codebooks]

    def kernel(batches):
        import numpy as np

        Cs = [np.array(b) for b in books]
        sub = Cs[0].shape[1]
        for pdf in batches:
            X = np.stack(pdf["e"].to_numpy())
            codes = np.empty((len(X), len(Cs)), dtype=np.int32)
            for j, C in enumerate(Cs):
                Xj = X[:, j * sub : (j + 1) * sub]
                dist = (
                    (Xj * Xj).sum(axis=1)[:, None]
                    - 2.0 * (Xj @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                codes[:, j] = dist.argmin(axis=1)
            yield pdf[["vec_id", "cluster"]].assign(codes=list(codes))

    return assigned.mapInPandas(kernel, "vec_id long, cluster int, codes array<int>")


def build_ivfpq_index(
    emb: DataFrame,
    *,
    k_coarse: int = 16,
    m: int = 8,
    k_sub: int = 16,
    sample_cap: int = 4096,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """(encoded corpus, coarse centroids, codebooks).  Reuses the IVF
    coarse build (train-on-sample, one assignment pass), then PQ-trains
    on the residual-free vectors of the SAME collected sample (flat PQ —
    simpler than residual PQ and recall-equivalent at these dims once
    the refine stage re-ranks) and encodes in a second single pass."""
    base, X = training_sample(emb, sample_cap)
    assigned, centroids = coarse_index(base, X, k_coarse, iterations=3)
    books = train_pq_codebooks(X, m=m, k_sub=k_sub)
    return encode_pq(assigned, books), centroids, books


def ivfpq_search(
    encoded: DataFrame,
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    *,
    n_probe: int = 4,
    refine: int = 50,
    top_k: int = 10,
) -> DataFrame:
    """ADC candidate generation + exact cosine re-rank.

    The ADC kernel gathers ``m`` precomputed table entries per
    candidate — the per-candidate cost that makes PQ serve millions of
    queries; ``refine`` survivors (ids only) join back to the raw
    embeddings for exact scoring, so the final ranking is float-exact."""

    probe_ids = nearest_clusters(centroids, query_vec, n_probe)
    books = [[list(map(float, c)) for c in book] for book in codebooks]
    qv = [float(x) for x in query_vec]

    def adc(batches):
        import numpy as np

        Cs = [np.array(b) for b in books]
        sub = Cs[0].shape[1]
        q = np.array(qv)
        # T[j, code] = squared distance from the query's j-th slice
        T = np.stack(
            [((C - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j, C in enumerate(Cs)]
        )
        for pdf in batches:
            codes = np.stack(pdf["codes"].to_numpy())
            dist = T[np.arange(codes.shape[1])[None, :], codes].sum(axis=1)
            yield pdf[["vec_id"]].assign(adc_dist=dist)

    candidates = (
        encoded.filter(F.col("cluster").isin(probe_ids))
        .mapInPandas(adc, "vec_id long, adc_dist double")
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(refine)
    )
    q = F.array(*[F.lit(v) for v in qv])
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    return (
        base.join(F.broadcast(candidates), "vec_id")
        .select("vec_id", cosine(F.col("e"), q).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(top_k)
        .select("vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for the lowest-vec_id query vector (rows-only;
    tests/test_pq.py bounds recall vs q_knn_bruteforce)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qhead = emb.orderBy("vec_id").limit(1).collect()
    if not qhead:  # empty corpus: no query vector, no index — empty result
        return local_rows(
            spark,
            [], "vec_id long, cluster int, adc double, cosine double"
        )
    # same slot lifecycle as ml/ivf's index: built once per corpus,
    # freed by release_all()
    encoded, centroids, books = keyed_slot(
        "pq.index", (sf_dir, 16, 8, 16), lambda: build_ivfpq_index(emb)
    )
    qrow = qhead[0]
    query_vec = [float(x) for x in qrow["embedding"]]
    return ivfpq_search(
        encoded.filter(F.col("vec_id") != qrow["vec_id"]),
        emb.filter(F.col("vec_id") != qrow["vec_id"]),
        centroids,
        books,
        query_vec,
    )
