"""IVF-PQ: recall bound vs exact brute force, compression accounting,
and build determinism (ml/pq.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.pq import (
    build_ivfpq_index,
    ivfpq_search,
    q_knn_ivfpq,
    train_pq_codebooks,
)
from lexam_data_pipeline_spark.ml.similarity import q_knn_bruteforce


def test_ivfpq_recall_vs_bruteforce(spark, sf_small):
    exact = [r["vec_id"] for r in q_knn_bruteforce(spark, sf_small).collect()]
    approx = [r["vec_id"] for r in q_knn_ivfpq(spark, sf_small).collect()]
    assert len(approx) == 10
    # refine re-ranks exactly, so overlap with the true top-10 is the
    # recall of the (coarse probe ∩ ADC cut) candidate set
    assert len(set(exact) & set(approx)) >= 6, (exact, approx)


def test_pq_codes_compress_and_determinism(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    enc1, cents1, books1 = build_ivfpq_index(emb)
    enc2, cents2, books2 = build_ivfpq_index(emb)
    assert cents1 == cents2 and books1 == books2, "build must be deterministic"
    rows = enc1.orderBy("vec_id").limit(5).collect()
    d = len(emb.first()["embedding"])
    m = len(books1)
    assert all(len(r["codes"]) == m for r in rows)
    assert all(0 <= c < len(books1[0]) for r in rows for c in r["codes"])
    # memory story: m small ints vs d doubles
    assert m * 1 <= d * 8 / 32, "codes must be at least 32x smaller than raw"
    got = {tuple(r["codes"]) for r in rows} | {
        tuple(r["codes"]) for r in enc2.orderBy("vec_id").limit(5).collect()
    }
    assert len(got) <= 5, "same corpus must encode to the same codes"


def test_pq_codebook_training_partitions_space():
    # 2 subspaces over 4 dims; clusters at +/-1 in each subspace
    pts = [
        [1.0, 1.0, -1.0, -1.0],
        [1.1, 0.9, -0.9, -1.1],
        [-1.0, -1.0, 1.0, 1.0],
        [-1.1, -0.9, 0.9, 1.1],
    ] * 4
    books = train_pq_codebooks(pts, m=2, k_sub=2, iterations=5)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    for book in books:
        c0, c1 = book
        assert (c0[0] > 0) != (c1[0] > 0), "codebook must separate the two modes"


def test_ivfpq_search_exact_rerank_scores(spark, sf_small):
    """Scores of returned ids equal exact cosine (refine is exact)."""
    emb = load_table(spark, sf_small, "embeddings")
    approx = {r["vec_id"]: r["cosine"] for r in q_knn_ivfpq(spark, sf_small).collect()}
    exact = {
        r["vec_id"]: r["cosine"] for r in q_knn_bruteforce(spark, sf_small).collect()
    }
    for vid, cos in approx.items():
        if vid in exact:
            assert cos == exact[vid], "refine stage must score exactly"


def test_ivfpq_build_collects_one_sample(spark, sf_small):
    """The coarse quantizer and the PQ codebooks train on ONE collected
    sample: building the index runs one Spark job, the sample collect
    (the assignment and encoding passes stay lazy)."""
    emb = load_table(spark, sf_small, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("ivfpq-build", "index build")
    try:
        build_ivfpq_index(emb)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("ivfpq-build")) == 1
