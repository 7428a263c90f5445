"""Streaming readability maintenance must be cell-identical to the
batch count table after draining any micro-batch split (integer counts
are exactly mergeable), and the Flesch report served off the drained
state must EQUAL q_readability's batch output row-for-row."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.plans.fixture_queries import q_readability
from lexam_data_pipeline_spark.streaming.textstats import (
    batch_counts,
    readability_merge,
    readability_report,
    start_streaming_readability,
)


def _cells(df) -> dict:
    return {
        r["source"]: (r["n_docs"], r["words"], r["sentences"], r["syllables"])
        for r in df.collect()
    }


def test_drained_state_equals_batch_counts(spark, sf_small, tmp_path, state_store):
    docs = load_table(spark, sf_small, "documents")
    chunk_dir = str(tmp_path / "doc_chunks")
    for i in range(3):  # 3 files → 3 micro-batches under maxFilesPerTrigger=1
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(chunk_dir)
    holder = state_store()
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    q = start_streaming_readability(stream, holder.read, holder.write)
    q.awaitTermination(120)
    assert _cells(holder.read("counts")) == _cells(batch_counts(docs))


def test_merge_is_split_invariant(spark, sf_small, state_store):
    docs = load_table(spark, sf_small, "documents")
    one = readability_merge(None, docs)
    state = None
    holder = state_store()
    for i in range(4):
        chunk = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i)
        holder.write("counts", readability_merge(state, chunk))
        state = holder.read("counts")  # materialize between folds like a real sink
    assert _cells(state) == _cells(one)


def test_report_off_state_equals_batch_query(spark, sf_small, state_store):
    """End-to-end equality with the declared contract key: fold the
    corpus in 4 chunks, serve, and compare every column of every row
    against q_readability — bit-for-bit (same integer totals, same
    closing expression)."""
    docs = load_table(spark, sf_small, "documents")
    state = None
    holder = state_store()
    for i in range(4):
        holder.write(
            "counts",
            readability_merge(
                state, docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i)
            )
        )
        state = holder.read("counts")
    served = [tuple(r) for r in readability_report(state).collect()]
    batch = [tuple(r) for r in q_readability(spark, sf_small).collect()]
    assert served == batch and served
