"""Streaming full-text index maintenance: fold arriving documents into
a BM25 postings + corpus-stats index via ``foreachBatch``.

The batch tier (ml/retrieval.py) proves the scoring formula against the
DuckDB oracle from raw text; this module maintains the index those
queries would use in production, so serving a query is pure index
lookups — no corpus scan.  Same architecture as the other streaming
twins (streaming/incremental.py): the batch operators define the state
shape and the merge, streaming contributes only the arrival loop.

State and merges (both associative and exact):

* ``postings`` — one ``(doc_id, dl, term, tf)`` row per distinct term
  per doc.  Docs are immutable once indexed, so the merge is
  first-sight-wins: anti-join the delta's doc_ids against state, then
  union (re-delivered micro-batches fold in idempotently — the ST3
  resume property).
* ``stats`` — one ``(n_docs, total_dl)`` row, merged by summation over
  the docs actually admitted by the anti-join.

After draining ANY micro-batch arrangement, scoring from the index is
row-identical to the from-scratch batch query on everything that
arrived (tests/test_streaming_retrieval.py).

100 TB: postings live bucketed by term in the lake so a query's
broadcast df-lookup and candidate fetch prune to its terms' buckets;
the per-trigger merge joins only the delta against state doc_ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.ml.retrieval import corpus_stats, doc_postings
from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_TABLES = ("postings", "stats")


def start_streaming_index(
    stream: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    text_col: str = "text",
):
    """Maintain the BM25 index under a micro-batched document stream —
    the state contract of streaming/state.py.  Returns the
    StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        # first-sight-wins INSIDE the batch too: an at-least-once source
        # may deliver the same doc twice within one trigger, which would
        # double tf and n_docs
        batch = batch.dropDuplicates(["doc_id"])
        prev_postings = state["postings"]
        if prev_postings is not None:
            # first-sight wins: an already-indexed doc re-delivered by a
            # replayed trigger must not double-count (idempotent resume)
            seen = prev_postings.select("doc_id").distinct()
            batch = batch.join(seen, "doc_id", "left_anti")
        delta_postings = doc_postings(batch, text_col)
        delta_stats = corpus_stats(batch, text_col)
        merged_postings = (
            delta_postings
            if prev_postings is None
            else prev_postings.unionByName(delta_postings)
        )
        prev_stats = state["stats"]
        if prev_stats is not None:
            merged_stats = (
                prev_stats.unionByName(delta_stats)
                .agg(
                    F.sum("n_docs").cast("bigint").alias("n_docs"),
                    F.sum("total_dl").cast("bigint").alias("total_dl"),
                )
            )
        else:
            merged_stats = delta_stats
        return {"postings": merged_postings, "stats": merged_stats}

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
