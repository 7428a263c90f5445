"""Streaming centroid maintenance must be cell-identical to the batch
sum table after draining any micro-batch split (integer sums are
exactly mergeable), and the cosines served off the drained state must
EQUAL q_embedding_drift's batch output row-for-row."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.plans.fixture_queries import q_embedding_drift
from lexam_data_pipeline_spark.streaming.centroids import (
    batch_sums,
    centroid_cosines,
    centroid_merge,
    start_streaming_centroids,
)


def _cells(df) -> dict:
    return {(r["label"], r["pos"]): (r["s"], r["nl"]) for r in df.collect()}


def test_drained_state_equals_batch_sums(spark, sf_small, tmp_path, state_store):
    emb = load_table(spark, sf_small, "embeddings")
    chunk_dir = str(tmp_path / "emb_chunks")
    for i in range(3):  # 3 files → 3 micro-batches under maxFilesPerTrigger=1
        emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    holder = state_store()
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    q = start_streaming_centroids(stream, holder.read, holder.write)
    q.awaitTermination(120)
    assert _cells(holder.read("sums")) == _cells(batch_sums(emb))


def test_merge_is_split_invariant(spark, sf_small, state_store):
    emb = load_table(spark, sf_small, "embeddings")
    one = centroid_merge(None, emb)
    state = None
    holder = state_store()
    for i in range(4):
        chunk = emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i)
        holder.write("sums", centroid_merge(state, chunk))
        state = holder.read("sums")  # materialize between folds like a real sink
    assert _cells(state) == _cells(one)


def test_cosines_off_state_equal_batch_drift_query(spark, sf_small, state_store):
    """End-to-end equality with the declared contract key: fold the
    corpus in 4 chunks, then serve — every (label_a, label_b,
    centroid_cosine) row must equal q_embedding_drift's, bit-for-bit
    (same quantization, same exact-decimal dot/norms, same closing)."""
    emb = load_table(spark, sf_small, "embeddings")
    state = None
    holder = state_store()
    for i in range(4):
        holder.write("sums", centroid_merge(state, emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i)))
        state = holder.read("sums")
    served = {
        (r["label_a"], r["label_b"]): r["centroid_cosine"]
        for r in centroid_cosines(state).collect()
    }
    batch = {
        (r["label_a"], r["label_b"]): r["centroid_cosine"]
        for r in q_embedding_drift(spark, sf_small).collect()
    }
    assert served == batch and served
