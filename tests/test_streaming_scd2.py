"""Streaming SCD2 maintenance must equal the from-scratch batch build
(q_scd2_intervals) after draining any in-order micro-batch split."""

from __future__ import annotations

import os

from pyspark.sql import Window, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.plans.fixture_queries import q_scd2_intervals
from lexam_data_pipeline_spark.streaming import read_events_stream
from lexam_data_pipeline_spark.streaming.scd2 import (
    STATE_COLUMNS,
    scd2_merge,
    start_streaming_scd2,
)


def _rows(df) -> set:
    return {tuple(r[c] for c in STATE_COLUMNS) for r in df.collect()}


def _write_ordered_chunks(spark, sf_dir: str, out_dir: str, n_chunks: int):
    """Split events into n_chunks files along the global (ts, event_id)
    order — per-user in-order delivery holds by construction."""
    ev = load_table(spark, sf_dir, "events")
    ranked = ev.withColumn(
        "rk", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    n = ranked.count()
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        (
            ranked.filter(
                (F.col("rk") > i * per) & (F.col("rk") <= (i + 1) * per)
            )
            .drop("rk")
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )


def test_drained_state_equals_batch_build(spark, sf_small, tmp_path, state_store):
    chunk_dir = str(tmp_path / "ev_chunks")
    _write_ordered_chunks(spark, sf_small, chunk_dir, 3)
    holder = state_store()
    stream = read_events_stream(spark, chunk_dir, max_files_per_trigger=1)
    q = start_streaming_scd2(stream, holder.read, holder.write)
    q.awaitTermination(120)
    assert _rows(holder.read("intervals")) == _rows(q_scd2_intervals(spark, sf_small))


def test_merge_is_split_invariant(spark, sf_small, state_store):
    """Folding in 1 batch vs 4 sequential batches gives identical state
    (associativity of run collapse over ordered segments)."""
    ev = load_table(spark, sf_small, "events").orderBy("ts", "event_id")
    one = scd2_merge(None, ev)

    n = ev.count()
    per = (n + 3) // 4
    ranked = ev.withColumn("rk", F.row_number().over(Window.orderBy("ts", "event_id")))
    state = None
    holder = state_store()
    for i in range(4):
        chunk = ranked.filter(
            (F.col("rk") > i * per) & (F.col("rk") <= (i + 1) * per)
        ).drop("rk")
        holder.write("intervals", scd2_merge(state, chunk))
        state = holder.read("intervals")  # materialize between folds like a real sink
    assert _rows(state) == _rows(one)


def test_run_continues_across_boundary(spark, state_store):
    """An unchanged event_type across the batch boundary must EXTEND the
    current interval (no phantom version), a changed type must close it."""
    import pandas as pd

    def mk(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return spark.createDataFrame(pdf)

    b0 = mk([(1, "2024-01-01 10:00", 7, "a", 1.0, "{}"),
             (2, "2024-01-01 11:00", 7, "a", 1.0, "{}")])
    b1 = mk([(3, "2024-01-01 12:00", 7, "a", 1.0, "{}"),
             (4, "2024-01-01 13:00", 7, "b", 1.0, "{}")])
    s1 = scd2_merge(None, b0)
    holder = state_store()
    holder.write("intervals", s1)
    s2 = scd2_merge(holder.read("intervals"), b1)
    got = sorted(
        (r["version"], r["event_type"], r["n_events"], r["is_current"])
        for r in s2.collect()
    )
    assert got == [(1, "a", 3, 0), (2, "b", 1, 1)]
