"""Streaming BM25 index maintenance must equal the from-scratch batch
scoring after draining the stream — including under re-delivered docs
(idempotent resume)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.retrieval import (
    QUERY_TERMS,
    bm25_scores,
    corpus_stats,
    doc_postings,
    score_postings,
)
from lexam_data_pipeline_spark.streaming.retrieval import start_streaming_index
from lexam_data_pipeline_spark.streaming.state import parquet_state_store

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _drain(spark, chunk_dir: str, read_state, write_state) -> None:
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    start_streaming_index(stream, read_state, write_state).awaitTermination(120)


def _write_chunks(spark, sf_small: str, chunk_dir: str, n_chunks: int = 3) -> DataFrame:
    docs = load_table(spark, sf_small, "documents")
    for i in range(n_chunks):
        docs.filter(F.col("doc_id") % n_chunks == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    return docs


def test_index_scoring_equals_batch_scoring(spark, sf_small, tmp_path_factory, state_store):
    chunk_dir = str(tmp_path_factory.mktemp("docs_stream"))
    docs = _write_chunks(spark, sf_small, chunk_dir)
    index = state_store()
    _drain(spark, chunk_dir, index.read, index.write)

    got = {
        r["doc_id"]: (r["n_terms"], r["score_scaled"])
        for r in score_postings(index.read("postings"), index.read("stats"), QUERY_TERMS).collect()
    }
    want = {
        r["doc_id"]: (r["n_terms"], r["score_scaled"])
        for r in bm25_scores(docs, QUERY_TERMS).collect()
    }
    assert got == want
    assert len(got) > 0


def test_redelivered_docs_fold_in_idempotently(spark, sf_small, tmp_path_factory, state_store):
    chunk_dir = str(tmp_path_factory.mktemp("docs_replay"))
    docs = load_table(spark, sf_small, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    half.coalesce(1).write.mode("append").parquet(chunk_dir)
    # replay: the same docs arrive again, plus the other half
    docs.coalesce(1).write.mode("append").parquet(chunk_dir)
    index = state_store()
    _drain(spark, chunk_dir, index.read, index.write)

    n_docs = index.read("stats").collect()[0]["n_docs"]
    assert n_docs == docs.count()  # no double count
    got = {
        r["doc_id"]: r["score_scaled"]
        for r in score_postings(index.read("postings"), index.read("stats"), QUERY_TERMS).collect()
    }
    want = {
        r["doc_id"]: r["score_scaled"]
        for r in bm25_scores(docs, QUERY_TERMS).collect()
    }
    assert got == want


def test_parquet_state_store_atomic_swap(spark, sf_small, tmp_path_factory):
    """The production state store: lazy merged plans reference the
    version directory they were read from, writes land in a NEW version
    and flip the _CURRENT pointer — so folding many batches through the
    same store never reads-while-overwriting, and the final index still
    equals from-scratch batch scoring."""
    chunk_dir = str(tmp_path_factory.mktemp("docs_swap"))
    docs = _write_chunks(spark, sf_small, chunk_dir)
    root = str(tmp_path_factory.mktemp("index_state"))
    read, write = parquet_state_store(spark, root)
    _drain(spark, chunk_dir, read, write)

    got = {
        r["doc_id"]: (r["n_terms"], r["score_scaled"])
        for r in score_postings(read("postings"), read("stats"), QUERY_TERMS).collect()
    }
    want = {
        r["doc_id"]: (r["n_terms"], r["score_scaled"])
        for r in bm25_scores(docs, QUERY_TERMS).collect()
    }
    assert got == want and len(got) > 0
    # three batches → versions v0..v2 of each table under its own
    # directory, pointer at the last; older versions still on disk for
    # in-flight readers
    for name in ("postings", "stats"):
        with open(os.path.join(root, name, "_CURRENT")) as fh:
            assert fh.read().strip() == "v2"
        assert os.path.isdir(os.path.join(root, name, "v0"))


def test_parquet_state_store_crash_leaves_previous_version(spark, tmp_path):
    """Two names under one root keep separate versions, and a write that
    fails mid-flight leaves its table's _CURRENT on the last good
    version (readers keep working)."""
    root = str(tmp_path / "state")
    read, write = parquet_state_store(spark, root)
    assert read("a") is None
    write("a", spark.createDataFrame([(1, "a")], "id long, s string"))
    assert [r["id"] for r in read("a").collect()] == [1]
    assert read("b") is None  # a's version is not b's
    write("b", spark.createDataFrame([(7, "b")], "id long, s string"))
    write("b", spark.createDataFrame([(8, "b")], "id long, s string"))
    assert [r["id"] for r in read("a").collect()] == [1]
    assert [r["id"] for r in read("b").collect()] == [8]

    # a df whose evaluation explodes: write dies before the pointer flip
    bad = spark.range(1).select(
        F.assert_true(F.lit(False), F.lit("boom")).alias("x")
    )
    with pytest.raises(Exception):
        write("a", bad)
    current = {}
    for name in ("a", "b"):
        with open(os.path.join(root, name, "_CURRENT")) as fh:
            current[name] = fh.read().strip()
    assert current == {"a": "v0", "b": "v1"}
    assert [r["id"] for r in read("a").collect()] == [1]
    assert [r["id"] for r in read("b").collect()] == [8]
