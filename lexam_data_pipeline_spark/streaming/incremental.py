"""Streaming materialized-view maintenance: fold each micro-batch into a
per-group aggregate state table with the SAME merge the batch tier uses.

This is the streaming twin of :mod:`operators.incremental` — the batch
operator defines the state shape (group keys + count + exact decimal
sum) and the merge plan (one full-outer join on the key); streaming
contributes only the arrival loop.  Because the accumulators combine
associatively and exactly, the state after any sequence of micro-batches
is bit-identical to a from-scratch aggregate over everything that
arrived — the property ``q_incremental_agg``'s oracle proves for the
batch tier carries over unchanged.

Why ``foreachBatch`` and not a built-in streaming aggregation in
complete mode: complete mode re-emits (and internally retains) the whole
aggregate every trigger, and update mode needs a sink that can apply
row-level upserts.  The foreachBatch + state-table shape is the one that
survives 100 TB: the per-trigger work is one batch aggregate (bounded by
the trigger) plus one key join against a state table that can live
bucketed-by-key in the lake, and the refreshed table is atomically
swappable for readers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from lexam_data_pipeline_spark.operators.incremental import merge_state, partial_state
from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_TABLES = ("agg",)


def start_streaming_aggregate(
    stream: DataFrame,
    keys: Sequence[str],
    measure: str,
    read_state: ReadState,
    write_state: WriteState,
):
    """Maintain (keys, n, sum_dec) state in the ``agg`` table under a
    micro-batch stream.  Returns the StreamingQuery.
    """

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        delta = partial_state(batch, keys, measure)
        prev = state["agg"]
        return {"agg": delta if prev is None else merge_state(prev, delta, keys)}

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
