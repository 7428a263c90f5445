"""Incremental connected-components maintenance must be cell-identical
to the batch key after draining ANY micro-batch split of the pair
stream — including cross-batch chain merges (an edge joining two
ALREADY-GROWN clusters must relabel every member of the losing
cluster), which is the part a naive append-only fold gets wrong."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.ml.dedup import (
    connected_components,
    q_dedup_clusters,
    q_dedup_ngram_jaccard,
)
from lexam_data_pipeline_spark.streaming.clusters import (
    clusters_merge,
    clusters_report,
    start_streaming_clusters,
)


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


def _drain_chunks(holder, edges: DataFrame, k: int, order=None):
    key = F.pmod(F.xxhash64("doc_id_a", "doc_id_b"), F.lit(k))
    for i in order if order is not None else range(k):
        chunk = edges.filter(key == i)
        holder.write("labels", clusters_merge(holder.read("labels"), chunk))
    return holder


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.slowsuite
def test_drained_labels_equal_batch_key(spark, sf_small, k, state_store):
    edges = q_dedup_ngram_jaccard(spark, sf_small).select(
        "doc_id_a", "doc_id_b"
    )
    holder = _drain_chunks(state_store(), edges, k)
    got = _rows(clusters_report(holder.read("labels")))
    want = _rows(q_dedup_clusters(spark, sf_small))
    assert got == want


@pytest.mark.slowsuite
def test_split_order_invariance(spark, sf_small, state_store):
    """Reversed chunk order converges to the same cells — the fold is
    not merely append-order-lucky."""
    edges = q_dedup_ngram_jaccard(spark, sf_small).select(
        "doc_id_a", "doc_id_b"
    )
    holder = _drain_chunks(state_store(), edges, 3, order=(2, 0, 1))
    got = _rows(clusters_report(holder.read("labels")))
    want = _rows(q_dedup_clusters(spark, sf_small))
    assert got == want


def test_chain_merge_relabels_losing_cluster(spark, state_store):
    """Two clusters grown in separate batches, then one bridging edge:
    every member of BOTH must land on the global min — touched-only
    relabeling must still reach members the bridge never named."""
    schema = "doc_id_a long, doc_id_b long"
    holder = state_store()
    holder.write(
        "labels",
        clusters_merge(
            holder.read("labels"),
            spark.createDataFrame([(1, 2), (5, 6), (6, 7)], schema),
        )
    )
    assert _rows(clusters_report(holder.read("labels"))) == [
        (1, 1), (2, 1), (5, 5), (6, 5), (7, 5),
    ]
    # bridge 2-5: the {5,6,7} cluster must fully relabel to 1, including
    # node 7 which shares no edge with the bridge
    holder.write(
        "labels",
        clusters_merge(holder.read("labels"), spark.createDataFrame([(2, 5)], schema))
    )
    assert _rows(clusters_report(holder.read("labels"))) == [
        (1, 1), (2, 1), (5, 1), (6, 1), (7, 1),
    ]
    # a within-cluster duplicate edge is a no-op
    holder.write(
        "labels",
        clusters_merge(holder.read("labels"), spark.createDataFrame([(6, 7)], schema))
    )
    assert _rows(clusters_report(holder.read("labels"))) == [
        (1, 1), (2, 1), (5, 1), (6, 1), (7, 1),
    ]


def test_transitive_merge_within_one_batch(spark, state_store):
    """A batch whose delta edges chain THROUGH existing clusters: the
    contracted graph itself needs transitive closure (one union-find
    pass per edge would miss it)."""
    schema = "doc_id_a long, doc_id_b long"
    holder = state_store()
    holder.write(
        "labels",
        clusters_merge(
            holder.read("labels"),
            spark.createDataFrame([(10, 11), (20, 21), (30, 31)], schema),
        )
    )
    # one batch bridges 11-20 AND 21-30: all three clusters collapse
    holder.write(
        "labels",
        clusters_merge(
            holder.read("labels"), spark.createDataFrame([(11, 20), (21, 30)], schema)
        )
    )
    got = _rows(clusters_report(holder.read("labels")))
    assert got == [(n, 10) for n in (10, 11, 20, 21, 30, 31)]


def test_streaming_drain_equals_batch(spark, sf_small, tmp_path, state_store):
    """End-to-end through foreachBatch: 3 files → micro-batches under
    maxFilesPerTrigger=1; drained labels equal the batch operator."""
    edges = q_dedup_ngram_jaccard(spark, sf_small).select(
        "doc_id_a", "doc_id_b"
    )
    chunk_dir = str(tmp_path / "edge_chunks")
    for i in range(3):
        edges.filter(
            F.pmod(F.xxhash64("doc_id_a", "doc_id_b"), F.lit(3)) == i
        ).coalesce(1).write.mode("append").parquet(chunk_dir)
    stream = (
        spark.readStream.schema("doc_id_a long, doc_id_b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    holder = state_store()
    q = start_streaming_clusters(stream, holder.read, holder.write)
    q.awaitTermination(120)
    got = _rows(clusters_report(holder.read("labels")))
    want = _rows(
        connected_components(edges, "doc_id_a", "doc_id_b").select(
            F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
        )
    )
    assert got == want
