"""Incremental connected-components maintenance — the streaming twin of
:func:`ml.dedup.q_dedup_clusters` (round-8 verdict item 5; the 18th
maintainer).

Dedup clusters were the one north-star surface still batch-only in
streaming: at 100 TB continuous ingest, re-running connected components
per refresh rescans the whole pair graph, and the min-label iteration's
round count is corpus-diameter-bound.  This maintainer folds each
micro-batch of NEW near-dup pairs (edges) into the existing cluster
labels:

* ``labels (node, cluster)`` — the ONLY state table; cluster = the
  component's min node id, exactly the batch key's output schema.

Per-trigger fold (cost is O(batch) against the label table — the
corpus-sized pair graph is never revisited):

1. **Resolve** each batch endpoint to its current cluster (left join on
   the broadcast batch node set; unseen nodes represent themselves).
2. **Contract**: batch edges whose endpoints resolve to different
   clusters become edges over cluster REPRESENTATIVES — a graph of size
   O(batch), independent of corpus size.
3. **Solve** the contracted graph with the batch-proven
   :func:`ml.dedup.connected_components` operator (min-label rounds on
   an O(batch) frame — the delta union-find of the round-8 verdict,
   kept distributed so an adversarially large batch cannot pin the
   driver).
4. **Relabel**: only rows whose cluster appears in the remap change
   (broadcast remap joined on ``cluster``); new nodes append with their
   solved label.

Correctness: a cluster label IS the min of its members, so the min over
merged representatives equals the min over the merged components'
members — the drained state is CELL-IDENTICAL to the batch
``connected_components`` over the union of all edge batches, for ANY
micro-batch split (tests/test_streaming_clusters.py proves it,
including the cross-batch chain-merge path a naive append-only fold
gets wrong).

Production notes (100 TB): back the ``labels`` table with a
cluster-partitioned table (Delta/Iceberg MERGE on the remap keys) so
step 4 rewrites only the merged clusters' partitions; the broadcast
sides are O(batch) by construction.

Contract: edges arrive append-only; duplicate or within-cluster edges
are harmless (they contract to self-loops and drop out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
)

LABELS_SCHEMA = "node long, cluster long"
STATE_TABLES = ("labels",)


def clusters_merge(
    labels0: DataFrame | None, batch_edges: DataFrame, src: str = "doc_id_a", dst: str = "doc_id_b"
) -> DataFrame:
    """Fold one micro-batch of near-dup pairs into the label table.

    Pure batch logic (the streaming loop calls it per trigger); returns
    the NEW labels frame without mutating the inputs."""
    from lexam_data_pipeline_spark.ml.dedup import connected_components

    labels0 = or_empty(batch_edges.sparkSession, labels0, LABELS_SCHEMA)
    e = (
        batch_edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes_b = persist_slot(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        "cc.batch_nodes",
    )
    # current label of every batch endpoint; unseen nodes rep themselves
    res = persist_slot(
        nodes_b.join(
            labels0.join(F.broadcast(nodes_b), "node", "left_semi"),
            "node",
            "left_outer",
        ).select("node", F.coalesce("cluster", F.col("node")).alias("rep")),
        "cc.resolved",
    )
    ra = res.select(F.col("node").alias("a"), F.col("rep").alias("rep_a"))
    rb = res.select(F.col("node").alias("b"), F.col("rep").alias("rep_b"))
    contracted = (
        e.join(ra, "a").join(rb, "b")
        .filter(F.col("rep_a") != F.col("rep_b"))
        .select("rep_a", "rep_b")
        .distinct()
    )
    # solve the O(batch) contracted graph; remap = reps whose label moved
    comp = connected_components(contracted, "rep_a", "rep_b")
    remap = persist_slot(
        comp.filter(F.col("node") != F.col("cluster")).select(
            F.col("node").alias("cluster"), F.col("cluster").alias("cluster_new")
        ),
        "cc.remap",
    )
    relabeled = labels0.join(F.broadcast(remap), "cluster", "left_outer").select(
        "node", F.coalesce("cluster_new", F.col("cluster")).alias("cluster")
    )
    new_rows = (
        res.join(labels0.select("node"), "node", "left_anti")
        .withColumnRenamed("rep", "cluster")
        .join(F.broadcast(remap), "cluster", "left_outer")
        .select("node", F.coalesce("cluster_new", F.col("cluster")).alias("cluster"))
    )
    return relabeled.unionByName(new_rows)


def clusters_report(labels: DataFrame | None) -> DataFrame:
    """Serve the batch key's exact shape (doc_id, cluster_id) off the
    maintained table — no recomputation."""
    if labels is None:
        raise ValueError("no cluster state yet")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
    )


def start_streaming_clusters(
    stream: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
):
    """Maintain cluster labels under a micro-batched pair stream.
    Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "cc.batch")  # read once per fold
        return {"labels": clusters_merge(state["labels"], batch, src=src, dst=dst)}

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
