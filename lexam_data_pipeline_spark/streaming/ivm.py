"""Incremental join-VIEW maintenance: keep a materialized equi-join of
two append-only streams exact over ALL history, with state in the lake.

The delta rule (classic incremental view maintenance): with
``V = A ⋈ B`` and per-trigger appends ``dA``/``dB``,

    dV = (dA ⋈ B_old) ∪ (A_old ⋈ dB) ∪ (dA ⋈ dB)

so each trigger touches three joins in which at least one side is
delta-sized — broadcastable — and the accumulated sides are probed by
join key only (bucket the state tables by the key at write time and the
probe is shuffle-free partition pruning).  The view is append-only:
``dV`` rows are appended, never rewritten.

Contrast with :mod:`streaming.joins` (the native stream-stream join):
that shape holds join state in the STREAMING STATE STORE, bounded by
watermark + lag — right for real-time matching windows.  This shape
holds state in the LAKE, unbounded and exact over all history — right
for materialized enrichment views where "old" rows must still match
(a signup from last year joining today's purchase).  Same split as
q_range_join_events (batch backfill) vs the live path.

Bag semantics throughout: duplicate rows multiply matches exactly as
the batch join would (tests compare multisets).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState


def join_view_delta(
    a_state: DataFrame | None,
    b_state: DataFrame | None,
    da: DataFrame | None,
    db: DataFrame | None,
    on: Sequence[str],
) -> DataFrame | None:
    """The view delta for one trigger: rows ``A ⋈ B`` gains when ``da``
    and ``db`` are appended to ``a_state``/``b_state`` (either may be
    None/empty).  Inner equi-join on ``on``; non-key columns must be
    disjoint between the two sides (standard enrichment-view layout)."""
    on = list(on)
    parts = []
    if da is not None and b_state is not None:
        parts.append(da.join(b_state, on))
    if a_state is not None and db is not None:
        parts.append(a_state.join(db, on))
    if da is not None and db is not None:
        parts.append(da.join(db, on))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def start_streaming_join_view(
    stream: DataFrame,
    split: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
    on: Sequence[str],
    read_state: ReadState,
    write_state: WriteState,
    append_view: Callable[[DataFrame | None], None],
):
    """Maintain ``A ⋈ B`` under one interleaved stream whose rows are
    routed to the A/B legs by ``split`` (e.g. by event_type).

    The legs are the state tables ``a`` and ``b`` (streaming/state.py).
    ``append_view`` receives the delta (or None when the trigger
    produced no matches); the view is append-only.  Order matters
    inside the trigger: the delta is computed against the OLD state,
    then the state legs are appended.  Drains the available input and
    stops.  Returns the StreamingQuery."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        da, db = split(batch)
        a_old, b_old = read_state("a"), read_state("b")
        append_view(join_view_delta(a_old, b_old, da, db, on))
        write_state("a", da if a_old is None else a_old.unionByName(da))
        write_state("b", db if b_old is None else b_old.unionByName(db))

    return stream.writeStream.foreachBatch(process_batch).trigger(availableNow=True).start()
