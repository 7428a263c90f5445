"""Streaming SPRT monitor: fold each event micro-batch into the
(day, n, conv) sufficient statistic and re-derive the sequential-test
decision per trigger.

This is the streaming face of ``plans.fixture_queries.q_ab_sequential``
and the reason the SPRT was designed around an exact scaled-BIGINT walk:
the daily count table is MERGEABLE (day counts add), so the per-trigger
work is one aggregate over the batch plus a |days|-row state merge —
independent of stream volume — and after draining ANY micro-batch split
the state is ROW-IDENTICAL to the batch day aggregate, hence the
decision is bit-identical to the batch walk
(tests/test_streaming_sprt.py proves equality, not agreement).

A monitoring pipeline runs this against the live event stream and
alerts the moment ``decision`` leaves ``continue`` — the always-valid
sequential A/B semantics that fixed-horizon q_ab_test cannot give
mid-experiment.

State contract: streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.plans.fixture_queries import sprt_decide
from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_COLUMNS = ("day", "n", "conv")
STATE_TABLES = ("daily",)


def daily_conversion_counts(batch: DataFrame) -> DataFrame:
    """(day, n, conv) for one batch of raw events — the exact aggregate
    q_ab_sequential builds over the whole table."""
    return (
        batch.where(F.col("event_type").isin("purchase", "view"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias(
                "conv"
            ),
        )
    )


def sprt_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold a batch's day counts into the prior state (day-wise sums —
    exact, order- and split-invariant)."""
    fresh = daily_conversion_counts(batch)
    if state is None:
        return fresh.select(*STATE_COLUMNS)
    return (
        state.select(*STATE_COLUMNS)
        .unionByName(fresh)
        .groupBy("day")
        .agg(F.sum("n").alias("n"), F.sum("conv").alias("conv"))
    )


def sprt_from_state(state: DataFrame) -> DataFrame:
    """Current decision row from the maintained state — the same walk
    the batch key runs (shared ``sprt_decide``)."""
    return sprt_decide(state.select(*STATE_COLUMNS))


def start_streaming_sprt(
    stream: DataFrame, read_state: ReadState, write_state: WriteState
):
    """Maintain the SPRT sufficient statistic under a micro-batched
    event stream.  Returns the StreamingQuery."""
    return start_fold(
        stream,
        lambda st, batch: {"daily": sprt_merge(st["daily"], batch)},
        STATE_TABLES,
        read_state,
        write_state,
    )
