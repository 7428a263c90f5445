"""Streaming ANN index maintenance: fold arriving vectors into the IVF
assignment table via ``foreachBatch``.

Production ANN serving separates *train* (centroids, periodic, offline)
from *ingest* (assign new vectors to the fixed centroids, continuous).
This module implements the ingest half as the streaming twin of
``ml/ivf``: each micro-batch runs the same shuffle-free Arrow assignment
kernel (``ml.ivf._assign``) against the frozen centroid matrix and
appends to the assignment state — so a probe query sees newly-ingested
vectors without any retrain, and the drained state is row-identical to
batch-assigning everything at once (tests/test_streaming_ann.py).

Same architecture as the other streaming twins: the batch operator
defines the kernel and state shape; streaming contributes the arrival
loop plus first-sight-wins idempotency (re-delivered vec_ids fold in
exactly once — the ST3 resume property).

100 TB: state lives partitioned by ``cluster`` in the lake, so probe
queries prune to the probed clusters' partitions; the per-trigger work
is one map over the batch plus one anti-join against state keys.
Centroid drift is handled by the offline retrain path (ml/ivf's
sample-trained build), not here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.ml.ivf import _assign
from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_TABLES = ("assignments",)


def start_streaming_ivf_ingest(
    stream: DataFrame,
    centroids: list[list[float]],
    read_state: ReadState,
    write_state: WriteState,
):
    """Maintain the IVF assignment table under a vector stream.

    ``stream`` must carry ``vec_id`` and ``embedding``; state rows are
    ``(vec_id, cluster)``.  Returns the StreamingQuery.
    """

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        # dedup inside the batch too (at-least-once sources can repeat a
        # vec_id within one trigger)
        batch = batch.dropDuplicates(["vec_id"])
        prev = state["assignments"]
        if prev is not None:
            seen = prev.select("vec_id").distinct()
            batch = batch.join(seen, "vec_id", "left_anti")
        base = batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        delta = _assign(base, centroids).select("vec_id", "cluster")
        return {"assignments": delta if prev is None else prev.unionByName(delta)}

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
