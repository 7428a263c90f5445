"""Incremental cross-source near-dup-rate maintenance must be
row-identical to the batch key after draining ANY micro-batch split —
including the df-cap RETRACTION path (a shingle crossing MAX_DF must
withdraw its past pair/n_sh contributions), which is the part a naive
append-only fold gets wrong."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.dedup import q_dedup_rate_by_source
from lexam_data_pipeline_spark.streaming.dedup_rates import (
    MAX_DF,
    STATE_TABLES,
    dedup_rates_merge,
    dedup_rates_report,
    start_streaming_dedup_rates,
)
from lexam_data_pipeline_spark.streaming.state import parquet_state_store


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


def _drain_chunks(holder, docs: DataFrame, k: int):
    for i in range(k):
        chunk = docs.filter(F.pmod(F.col("doc_id"), F.lit(k)) == i)
        new_state = dedup_rates_merge(holder.state(STATE_TABLES), chunk)
        for t in STATE_TABLES:
            holder.write(t, new_state[t])
    return holder


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.slowsuite
def test_drained_report_equals_batch_key(spark, sf_small, k, state_store):
    docs = load_table(spark, sf_small, "documents")
    holder = _drain_chunks(state_store(), docs, k)
    got = _rows(dedup_rates_report(holder.state(STATE_TABLES)))
    want = _rows(q_dedup_rate_by_source(spark, sf_small))
    assert got == want


@pytest.mark.slowsuite
def test_split_order_invariance(spark, sf_small, state_store):
    """Reversed chunk order must converge to the same state cells —
    the fold is not merely append-order-lucky."""
    docs = load_table(spark, sf_small, "documents")
    holder = state_store()
    for i in (2, 0, 1):
        chunk = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        new_state = dedup_rates_merge(holder.state(STATE_TABLES), chunk)
        for t in STATE_TABLES:
            holder.write(t, new_state[t])
    got = _rows(dedup_rates_report(holder.state(STATE_TABLES)))
    want = _rows(q_dedup_rate_by_source(spark, sf_small))
    assert got == want


def test_retraction_path_fires(spark, state_store):
    """Synthetic corpus forcing a df-cap crossing ACROSS batches: a
    shared shingle sits under the cap after batch 1 (its pairs count),
    then batch 2 pushes it past MAX_DF — the drained report must match
    the batch computation on the union, i.e. the early pairs must have
    been withdrawn."""
    base = "alpha beta gamma"  # one 3-shingle per doc
    n1, n2 = MAX_DF - 10, 20  # 40 + 20 = 60 > MAX_DF
    rows1 = [(i, base, "en", "srcA", len(base)) for i in range(n1)]
    rows2 = [
        (n1 + i, base, "en", "srcB", len(base)) for i in range(n2)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    holder = state_store()
    for t, df in dedup_rates_merge(holder.state(STATE_TABLES), b1).items():
        holder.write(t, df)
    # mid-stream: the shingle is under the cap, so batch-1 pairs exist
    n_mid = len(holder.rows["pairs"])
    assert n_mid == n1 * (n1 - 1) // 2, n_mid
    for t, df in dedup_rates_merge(holder.state(STATE_TABLES), b2).items():
        holder.write(t, df)
    report = dedup_rates_report(holder.state(STATE_TABLES)).collect()
    assert report == [], f"crossed shingle must retract all pairs: {report}"
    # every doc's n_sh dropped back to 0 and postings are gone
    assert all(r["n_sh"] == 0 for r in holder.read("docs").collect())
    assert holder.rows["postings"] == []
    assert holder.rows["pairs"] == []


def _drain_stream(spark, sf_small: str, tmp_path, read_state, write_state) -> None:
    """3 files → 3 micro-batches under maxFilesPerTrigger=1."""
    docs = load_table(spark, sf_small, "documents")
    chunk_dir = str(tmp_path / "doc_chunks")
    for i in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(chunk_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    start_streaming_dedup_rates(stream, read_state, write_state).awaitTermination(180)


def test_streaming_drain_equals_batch_key(spark, sf_small, tmp_path, state_store):
    """End-to-end through foreachBatch: the served report equals the
    batch key."""
    holder = state_store()
    _drain_stream(spark, sf_small, tmp_path, holder.read, holder.write)
    got = _rows(dedup_rates_report(holder.state(STATE_TABLES)))
    want = _rows(q_dedup_rate_by_source(spark, sf_small))
    assert got == want


def test_parquet_store_drain_equals_batch_key(spark, sf_small, tmp_path):
    """The production wiring: the four tables live under one
    parquet_state_store root, one directory each, and the report served
    off them equals the batch key."""
    root = str(tmp_path / "state")
    read, write = parquet_state_store(spark, root)
    _drain_stream(spark, sf_small, tmp_path, read, write)
    assert sorted(os.listdir(root)) == sorted(STATE_TABLES)
    got = _rows(dedup_rates_report({t: read(t) for t in STATE_TABLES}))
    want = _rows(q_dedup_rate_by_source(spark, sf_small))
    assert got == want
