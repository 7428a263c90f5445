"""Incremental MinHash-LSH candidate maintenance must accumulate
EXACTLY the batch operator's candidate-pair set (with identical
similarity estimates) over any micro-batch split — a pair is found in
the trigger where its later document arrives, whether the collision is
within a batch or against the accumulated index."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.dedup import q_minhash_lsh_pairs
from lexam_data_pipeline_spark.streaming.minhash import (
    STATE_TABLES,
    minhash_merge,
    minhash_report,
    start_streaming_minhash,
)


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.slowsuite
def test_drained_pairs_equal_batch_key(spark, sf_small, k, state_store):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    holder = state_store()
    for i in range(k):
        chunk = docs.filter(F.pmod(F.col("doc_id"), F.lit(k)) == i)
        st = minhash_merge(holder.state(STATE_TABLES), chunk)
        for t in STATE_TABLES:
            holder.write(t, st[t])
    got = _rows(minhash_report(holder.state(STATE_TABLES)))
    want = _rows(q_minhash_lsh_pairs(spark, sf_small))
    assert got == want
    assert got, "fixture must produce at least one candidate pair"


def test_cross_batch_collision(spark, state_store):
    """A near-identical pair split across triggers is found when the
    SECOND doc arrives — against the maintained index, not a rescan."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    d1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    d2 = spark.createDataFrame(
        [(2, base + "tail"), (3, "completely different words entirely " * 8)],
        "doc_id long, text string",
    )
    holder = state_store()
    st = minhash_merge(holder.state(STATE_TABLES), d1)
    for t in STATE_TABLES:
        holder.write(t, st[t])
    assert holder.rows["pairs"] == []
    st = minhash_merge(holder.state(STATE_TABLES), d2)
    for t in STATE_TABLES:
        holder.write(t, st[t])
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["est_jaccard"] for r in holder.rows["pairs"]}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_empty_batch_is_noop(spark, sf_small, state_store):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    holder = state_store()
    st = minhash_merge(holder.state(STATE_TABLES), docs.limit(50))
    for t in STATE_TABLES:
        holder.write(t, st[t])
    before = {t: sorted(map(tuple, holder.rows[t])) for t in STATE_TABLES}
    st = minhash_merge(holder.state(STATE_TABLES), docs.filter(F.lit(False)))
    for t in STATE_TABLES:
        holder.write(t, st[t])
    after = {t: sorted(map(tuple, holder.rows[t])) for t in STATE_TABLES}
    assert before == after


def test_replayed_batch_is_idempotent(spark, sf_small, state_store):
    """foreachBatch is at-least-once: re-delivering the SAME micro-batch
    must leave all three state tables unchanged (no duplicated signature
    rows skewing later est_jaccard joins)."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    batch = docs.limit(50)
    holder = state_store()
    st = minhash_merge(holder.state(STATE_TABLES), batch)
    for t in STATE_TABLES:
        holder.write(t, st[t])
    before = {t: sorted(map(tuple, holder.rows[t])) for t in STATE_TABLES}
    st = minhash_merge(holder.state(STATE_TABLES), batch)  # replay, verbatim
    for t in STATE_TABLES:
        holder.write(t, st[t])
    after = {t: sorted(map(tuple, holder.rows[t])) for t in STATE_TABLES}
    assert before == after


def test_streaming_drain_equals_batch(spark, sf_small, tmp_path, state_store):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    chunk_dir = str(tmp_path / "doc_chunks")
    for i in range(2):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    holder = state_store()
    q = start_streaming_minhash(stream, holder.read, holder.write)
    q.awaitTermination(120)
    got = _rows(minhash_report(holder.state(STATE_TABLES)))
    want = _rows(q_minhash_lsh_pairs(spark, sf_small))
    assert got == want
