"""Streaming count-min sketch maintenance: fold each micro-batch's
sketch into a persistent (depth, bucket, c) state table.

This is the streaming face of :mod:`ml.cms` and the textbook argument
for sketches at 100 TB: CMS is MERGEABLE — the sketch of a union of
streams is the cell-wise sum of per-stream sketches (same hash family,
no approximation added by merging).  So the per-trigger work is one
map-side-combinable aggregate over the batch (output ≤ d·w rows) plus a
(d·w)-row state merge, regardless of stream volume or key cardinality;
after draining ANY split of the stream the state is COUNTER-IDENTICAL
to the batch-built sketch (tests/test_streaming_sketches.py proves
equality, not approximate agreement).

Heavy-hitter serving from the maintained state uses
:func:`ml.cms.cms_estimate` (d broadcast joins + least).  Estimates can
only over-count, so ``est ≥ T`` has no false negatives; the exact
confirm pass of :func:`ml.cms.heavy_hitters` needs the raw occurrence
table and therefore stays a batch/lakehouse job over candidates only.

State contract: streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from lexam_data_pipeline_spark.ml.cms import DEFAULT_D, DEFAULT_W, cms_build
from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_COLUMNS = ("depth", "bucket", "c")
CMS_STATE_TABLES = ("cms",)


def cms_merge(
    state: DataFrame | None,
    batch: DataFrame,
    key: Column,
    w: int = DEFAULT_W,
    d: int = DEFAULT_D,
) -> DataFrame:
    """Cell-wise sum of the prior sketch and the batch's sketch.

    ``state`` is a prior return value (or None); ``batch`` is raw
    occurrence rows.  Pure batch logic — the streaming loop just calls
    it per trigger."""
    fresh = cms_build(batch, key, w, d)
    if state is None:
        return fresh.select(*STATE_COLUMNS)
    return (
        state.select(*STATE_COLUMNS)
        .unionByName(fresh)
        .groupBy("depth", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def start_streaming_cms(
    stream: DataFrame,
    key: Column,
    read_state: ReadState,
    write_state: WriteState,
    *,
    w: int = DEFAULT_W,
    d: int = DEFAULT_D,
):
    """Maintain a CMS frequency sketch under a micro-batched occurrence
    stream.  Returns the StreamingQuery."""
    return start_fold(
        stream,
        lambda st, batch: {"cms": cms_merge(st["cms"], batch, key, w, d)},
        CMS_STATE_TABLES,
        read_state,
        write_state,
    )


# ── HLL distinct-rollup maintenance ─────────────────────────────────────
#
# The streaming face of q_hll_merge_windows (plans/fixture_queries.py):
# the lake keeps ONE ~1 KB HLL sketch per (day), each micro-batch folds
# in with a register-wise union, and ANY coarser window (week, month,
# lifetime) is a sketch merge over the tiny state table — never a rescan
# of the events.  Like CMS, HLL is mergeable: registers are maxima, so
# union of per-batch sketches has exactly the registers of a single-pass
# build — the drained state's weekly estimates EQUAL the batch build's
# (tests/test_streaming_sketches.py proves equality, and bounds both
# against exact distincts).

HLL_STATE_COLUMNS = ("day", "sk")
HLL_STATE_TABLES = ("hll",)

#: lgConfigK for the per-day sketches (matches q_hll_merge_windows).
HLL_LG_K = 14


def hll_merge(
    state: DataFrame | None,
    batch: DataFrame,
    key: Column,
    *,
    time_col: str = "ts",
    lg_k: int = HLL_LG_K,
) -> DataFrame:
    """Fold a micro-batch into the per-day HLL state: sketch the batch
    at day grain, then register-wise union with the prior state.  Pure
    batch logic (the streaming loop calls it per trigger); output is
    ≤ |days| rows regardless of batch volume."""
    fresh = batch.groupBy(F.date_trunc("day", time_col).alias("day")).agg(
        F.hll_sketch_agg(key, F.lit(lg_k)).alias("sk")
    )
    if state is None:
        return fresh.select(*HLL_STATE_COLUMNS)
    return (
        state.select(*HLL_STATE_COLUMNS)
        .unionByName(fresh)
        .groupBy("day")
        .agg(F.hll_union_agg(F.col("sk")).alias("sk"))
    )


def hll_window_estimates(state: DataFrame, window: str = "week") -> DataFrame:
    """Serve distinct-count estimates at any grain ≥ day from the
    maintained state — the q_hll_merge_windows rollup off the state
    table instead of the raw events."""
    return state.groupBy(F.date_trunc(window, F.col("day")).alias(window)).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk")))
        .cast("bigint")
        .alias("approx_distinct_users")
    )


def start_streaming_hll(
    stream: DataFrame,
    key: Column,
    read_state: ReadState,
    write_state: WriteState,
    *,
    time_col: str = "ts",
    lg_k: int = HLL_LG_K,
):
    """Maintain the per-day HLL distinct sketches under a micro-batched
    event stream.  Returns the StreamingQuery."""
    return start_fold(
        stream,
        lambda st, batch: {
            "hll": hll_merge(st["hll"], batch, key, time_col=time_col, lg_k=lg_k)
        },
        HLL_STATE_TABLES,
        read_state,
        write_state,
    )
