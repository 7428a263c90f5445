"""Streaming IVF ingest must equal batch assignment after draining —
including under re-delivered vectors (idempotent resume)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.ivf import _assign, build_ivf_index
from lexam_data_pipeline_spark.streaming.ann import start_streaming_ivf_ingest

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def _drain(spark, chunk_dir, centroids, holder):
    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    q = start_streaming_ivf_ingest(stream, centroids, holder.read, holder.write)
    q.awaitTermination(120)
    return holder


def test_streamed_assignment_equals_batch(spark, sf_small, tmp_path_factory, state_store):
    emb = load_table(spark, sf_small, "embeddings")
    _, centroids = build_ivf_index(emb, k=8, iterations=2)

    chunk_dir = str(tmp_path_factory.mktemp("vec_stream"))
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode("append").parquet(
            chunk_dir
        )
    holder = _drain(spark, chunk_dir, centroids, state_store())

    got = {(r["vec_id"], r["cluster"]) for r in holder.rows["assignments"]}
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    want = {
        (r["vec_id"], r["cluster"])
        for r in _assign(base, centroids).select("vec_id", "cluster").collect()
    }
    assert got == want
    assert len(got) == emb.count()


def test_redelivered_vectors_assign_once(spark, sf_small, tmp_path_factory, state_store):
    emb = load_table(spark, sf_small, "embeddings")
    _, centroids = build_ivf_index(emb, k=8, iterations=2)

    chunk_dir = str(tmp_path_factory.mktemp("vec_replay"))
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        chunk_dir
    )
    emb.coalesce(1).write.mode("append").parquet(chunk_dir)  # replay + rest
    holder = _drain(spark, chunk_dir, centroids, state_store())

    vec_ids = [r["vec_id"] for r in holder.rows["assignments"]]
    assert len(vec_ids) == len(set(vec_ids)) == emb.count()  # exactly once
