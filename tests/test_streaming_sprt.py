"""Streaming SPRT maintenance must yield a state ROW-IDENTICAL to the
batch day aggregate after draining any micro-batch split — and hence a
decision row bit-identical to q_ab_sequential's batch walk."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.plans.fixture_queries import q_ab_sequential
from lexam_data_pipeline_spark.streaming import read_events_stream
from lexam_data_pipeline_spark.streaming.sprt import (
    STATE_COLUMNS,
    daily_conversion_counts,
    sprt_from_state,
    sprt_merge,
    start_streaming_sprt,
)


def _days(df) -> dict:
    return {r["day"]: (r["n"], r["conv"]) for r in df.collect()}


def test_drained_state_and_decision_equal_batch(spark, sf_small, tmp_path, state_store):
    ev = load_table(spark, sf_small, "events")
    chunk_dir = str(tmp_path / "ev_chunks")
    for i in range(3):
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    holder = state_store()
    stream = read_events_stream(spark, chunk_dir, max_files_per_trigger=1)
    q = start_streaming_sprt(stream, holder.read, holder.write)
    q.awaitTermination(120)
    assert _days(holder.read("daily")) == _days(daily_conversion_counts(ev))
    got = sprt_from_state(holder.read("daily")).collect()
    want = q_ab_sequential(spark, sf_small).collect()
    assert got == want  # bit-identical decision, not approximate


def test_merge_is_split_invariant(spark, sf_small, state_store):
    ev = load_table(spark, sf_small, "events")
    one = sprt_merge(None, ev)
    state = None
    holder = state_store()
    for i in range(4):
        chunk = ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
        holder.write("daily", sprt_merge(state, chunk))
        state = holder.read("daily")
    assert _days(state.select(*STATE_COLUMNS)) == _days(one)


def test_empty_batch_is_identity(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    state = sprt_merge(None, ev)
    rows = state.collect()
    state2 = sprt_merge(
        spark.createDataFrame(rows, "day timestamp, n long, conv long"),
        ev.limit(0),
    )
    assert _days(state2) == _days(state)
