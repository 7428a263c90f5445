"""IVF (inverted-file) approximate nearest neighbor — the cluster-probe
scale path for similarity search (north star; complements the
hyperplane-LSH variant in :mod:`lexam_data_pipeline_spark.ml.similarity`).

Index build = a few Lloyd iterations of k-means expressed as DataFrame
programs: assign (crossJoin with broadcast centroids, argmin distance) →
update (explode dimensions, per-(cluster, dim) mean).  Centroids are
model state — k×dim doubles — so the driver-side collect between
iterations is O(k·dim), not O(data); at 100 TB the per-iteration cost is
one broadcast-assign scan + one (cluster, dim)-keyed aggregation, both
shuffle-light.

Probe = assign the query to its ``n_probe`` nearest centroids and rank
only those clusters' members.  Search cost drops ~k/n_probe-fold; recall
depends on how clusterable the corpus is (declared rows-only — recall is
data-dependent, not ANSI-SQL-reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.ml.similarity import cosine
from lexam_data_pipeline_spark.operators.caching import keyed_slot


def _assign(base: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Nearest-centroid id per vector via a vectorized Arrow-batched
    kernel: ``dists = ‖x‖² − 2·X·Cᵀ + ‖c‖²`` then argmin, with the k×d
    centroid matrix captured by value in the closure (model state, tiny).

    A shuffle-free map over the corpus — the scale shape for ANN
    assignment.  Expression-level alternatives both lose: higher-order
    ``zip_with`` lambdas run interpreted (~2 s/iteration at sf0.1), and
    flattening k·d scalar terms into one projection blows janino's 64 KB
    method limit, which falls back to interpreted eval (~17 s/iteration).
    Ties break to the first (lowest) centroid id via ``np.argmin``, same
    as the round-1 ``array_position`` form."""
    import pandas as _pd

    cents = [list(map(float, c)) for c in centroids]

    def kernel(batches):
        import numpy as np

        C = np.array(cents)  # k×d, by value — self-contained closure
        c2 = (C * C).sum(axis=1)
        for pdf in batches:
            X = np.stack(pdf["e"].to_numpy())
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
            pdf = pdf.copy()
            pdf["cluster"] = np.argmin(d, axis=1).astype("int32")
            yield pdf

    return base.mapInPandas(kernel, "vec_id long, e array<double>, cluster int")


def build_ivf_index(
    emb: DataFrame, k: int = 16, iterations: int = 3, sample_cap: int = 4096
) -> tuple[DataFrame, list[list[float]]]:
    """(assigned corpus, centroids): train on a bounded sample, assign
    the full corpus in ONE distributed pass.

    The standard IVF build (FAISS trains its coarse quantizer on a
    sample): Lloyd iterations run driver-side over ≤ ``sample_cap``
    vectors — O(sample_cap·d) state independent of corpus size — so the
    corpus is scanned exactly once for the final assignment, instead of
    ``iterations + 1`` scan-shuffle-collect round trips (round 1 spent
    5-10 s on those at sf0.1; at 100 TB each pass is a full corpus scan,
    making train-on-sample strictly better at scale too).

    Deterministic end to end: the sample is the ``sample_cap`` lowest
    ``xxhash64(vec_id)`` values (one TakeOrdered pass, no full sort),
    seeds are the k lowest-vec_id sample vectors, updates are exact
    numpy means, argmin ties break to the lowest centroid id."""
    base, X = training_sample(emb, sample_cap)
    return coarse_index(base, X, k, iterations)


def training_sample(emb: DataFrame, sample_cap: int):
    """``(base, X)``: the ``(vec_id, e)`` corpus projection and, as a
    numpy matrix in vec_id order, the ``sample_cap`` vectors with the
    lowest ``xxhash64(vec_id)`` buckets — one TakeOrdered collect, the
    one sample both the IVF and the PQ builds train on."""
    import numpy as np

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sample = (
        base.orderBy(F.pmod(F.xxhash64("vec_id"), F.lit(997)).asc(), F.col("vec_id").asc())
        .limit(sample_cap)
        .collect()
    )
    rows = sorted(sample, key=lambda r: r["vec_id"])
    return base, np.array([r["e"] for r in rows])


def coarse_index(
    base: DataFrame, X, k: int, iterations: int
) -> tuple[DataFrame, list[list[float]]]:
    """(assigned corpus, centroids): Lloyd over the sample ``X``, then
    the one assignment pass over ``base``."""
    centroids = [list(map(float, c)) for c in lloyd(X, k, iterations)]
    return _assign(base, centroids), centroids


def lloyd(X, k: int, iterations: int):
    """Driver-side Lloyd k-means over the rows of ``X`` (a numpy
    matrix); returns the k×d centroid matrix.  Deterministic: the seeds
    are the first k rows (repeated when there are fewer), argmin ties
    break to the lowest centroid id, updates are exact numpy means, and
    an empty cluster keeps its previous centroid."""
    import numpy as np

    C = X[: min(k, len(X))].copy()
    if len(C) < k:  # fewer rows than k: pad by repeating
        C = np.concatenate([C] * (k // len(C) + 1))[:k]
    for _ in range(iterations):
        d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        lab = d.argmin(axis=1)
        for cid in range(k):
            members = lab == cid
            if members.any():
                C[cid] = X[members].mean(axis=0)
    return C


def nearest_clusters(
    centroids: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """Ids of the ``n_probe`` centroids nearest ``query_vec`` by squared
    distance, ties to the lower id — the clusters a search probes."""

    def sq(c: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(c, query_vec))

    return sorted(range(len(centroids)), key=lambda cid: sq(centroids[cid]))[:n_probe]


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    *,
    n_probe: int = 4,
    top_k: int = 10,
) -> DataFrame:
    """Rank only the n_probe nearest clusters' members by cosine."""
    probe_ids = nearest_clusters(centroids, query_vec, n_probe)
    q = F.array(*[F.lit(v) for v in query_vec])
    return (
        assigned.filter(F.col("cluster").isin(probe_ids))
        .select("vec_id", "cluster", cosine(F.col("e"), q).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(top_k)
        .select("vec_id", "cluster", F.round("cos_raw", 6).alias("cosine"))
    )


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 for the lowest-vec_id query vector (rows-only check:
    recall is data-dependent; tests/test_dedup_sketches.py bounds its
    top-10 overlap against q_knn_bruteforce)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qhead = emb.orderBy("vec_id").limit(1).collect()
    if not qhead:  # empty corpus: no query vector, no index — empty result
        return local_rows(spark, [], "vec_id long, cluster int, cosine double")
    # the index is state, built once and probed many times: the
    # ``ivf.index`` slot keeps the assigned corpus and its centroids for
    # this corpus until a new corpus or release_all() replaces them
    assigned, centroids = keyed_slot(
        "ivf.index", (sf_dir, 16, 3), lambda: build_ivf_index(emb, k=16, iterations=3)
    )
    qrow = qhead[0]
    query_vec = [float(x) for x in qrow["embedding"]]
    return ivf_search(
        assigned.filter(F.col("vec_id") != qrow["vec_id"]), centroids, query_vec
    )
