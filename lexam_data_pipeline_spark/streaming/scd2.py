"""Streaming SCD2 dimension maintenance: fold arriving events into the
type-2 interval table that ``q_scd2_intervals`` builds from scratch.

State = the interval table itself (user, version, event_type,
valid_from_us, valid_to_us, n_events, is_current) — bounded by run
count, never by event count.  The merge exploits that run collapse is
associative over ordered segments: each user's CURRENT interval
re-enters the collapse as a single weighted block (weight = its
n_events, start = its valid_from) alongside the batch's raw events, one
window pass re-collapses the boundary (a run continuing across the
trigger boundary merges; a type change closes the old run), and version
numbers continue from the user's closed-run count.  Closed intervals
are immutable — they pass through untouched.

After draining ANY in-order micro-batch split of the event stream, the
state table is row-identical to the from-scratch batch build
(tests/test_streaming_scd2.py proves it for several splits).

Delivery contract: events must arrive in (ts, event_id) order per user
across triggers (the foreachBatch checkpoint guarantees each batch is
processed once; an out-of-order source needs a watermark+sort stage
first).  State contract: streaming/state.py.

100 TB: per-trigger work is one window over (state current rows ∪ batch
events) partitioned by user — the state side contributes ONE row per
active user, so the shuffle is the batch plus a current-pointer table;
closed history never moves.  State lives bucketed by user in the lake
and swaps atomically (streaming/state.parquet_state_store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

#: interval-table schema (matches q_scd2_intervals output)
STATE_COLUMNS = (
    "user_id",
    "version",
    "event_type",
    "valid_from_us",
    "valid_to_us",
    "n_events",
    "is_current",
)
STATE_TABLES = ("intervals",)


def scd2_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold one micro-batch of raw events into the SCD2 interval table.

    ``batch`` needs columns ``user_id, event_type, ts, event_id``;
    ``state`` is a prior return value (or None).  Pure batch logic —
    the streaming loop just calls it per trigger.
    """
    blocks = batch.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("start_us"),
        F.lit(1).cast("bigint").alias("weight"),
        F.lit(1).alias("src"),  # state block sorts before same-ts events
        F.col("event_id").cast("bigint").alias("tie"),
    )
    if state is not None:
        cur = state.filter(F.col("is_current") == 1)
        closed = state.filter(F.col("is_current") == 0)
        blocks = blocks.unionByName(
            cur.select(
                "user_id",
                "event_type",
                F.col("valid_from_us").alias("start_us"),
                F.col("n_events").cast("bigint").alias("weight"),
                F.lit(0).alias("src"),
                F.lit(-1).cast("bigint").alias("tie"),
            )
        )
        base = closed.groupBy("user_id").agg(
            F.max("version").alias("base_version")
        )
    else:
        closed = None
        base = None

    w = Window.partitionBy("user_id").orderBy("start_us", "src", "tie")
    runs = (
        blocks.withColumn(
            "changed",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("run_seq", F.sum("changed").over(w))
        .groupBy("user_id", "run_seq")
        .agg(
            F.first("event_type").alias("event_type"),
            F.min("start_us").alias("valid_from_us"),
            F.sum("weight").alias("n_events"),
        )
    )
    if base is not None:
        runs = runs.join(base, "user_id", "left").withColumn(
            "base_version", F.coalesce(F.col("base_version"), F.lit(0))
        )
    else:
        runs = runs.withColumn("base_version", F.lit(0))
    w_runs = Window.partitionBy("user_id").orderBy("run_seq")
    fresh = (
        runs.withColumn(
            "version", (F.col("base_version") + F.col("run_seq")).cast("bigint")
        )
        .withColumn("valid_to_us", F.lead("valid_from_us").over(w_runs))
        .withColumn(
            "is_current", F.when(F.col("valid_to_us").isNull(), 1).otherwise(0)
        )
        .select(*STATE_COLUMNS)
    )
    if closed is None:
        return fresh
    return closed.select(*STATE_COLUMNS).unionByName(fresh)


def start_streaming_scd2(
    stream: DataFrame, read_state: ReadState, write_state: WriteState
):
    """Maintain the SCD2 interval table under a micro-batched event
    stream.  Returns the StreamingQuery."""
    return start_fold(
        stream,
        lambda st, batch: {"intervals": scd2_merge(st["intervals"], batch)},
        STATE_TABLES,
        read_state,
        write_state,
    )
