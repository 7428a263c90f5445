"""Streaming aggregate-state maintenance must equal from-scratch batch
aggregation after draining the stream (the q_incremental_agg property,
under micro-batched arrival)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from lexam_data_pipeline_spark.operators.incremental import partial_state
from lexam_data_pipeline_spark.streaming import read_events_stream
from lexam_data_pipeline_spark.streaming.incremental import start_streaming_aggregate


def test_streaming_state_equals_batch_aggregate(spark, sf_small, tmp_path_factory, state_store):
    from tests.test_streaming import _write_event_chunks

    chunk_dir = str(tmp_path_factory.mktemp("events_inc"))
    _write_event_chunks(spark, sf_small, chunk_dir, n_chunks=4)

    # in-memory store standing in for the bucketed state table
    store, writes = state_store(), []

    def write_state(name: str, df: DataFrame) -> None:
        store.write(name, df)
        writes.append(name)

    q = start_streaming_aggregate(
        read_events_stream(spark, chunk_dir),
        ["event_type"],
        "value",
        store.read,
        write_state,
    )
    q.awaitTermination(120)

    assert len(writes) >= 2, "expected multiple micro-batches"
    got = {
        r["event_type"]: (r["n"], float(r["sum_dec"])) for r in store.rows["agg"]
    }
    batch = spark.read.parquet(chunk_dir)
    expect = {
        r["event_type"]: (r["n"], float(r["sum_dec"]))
        for r in partial_state(batch, ["event_type"], "value").collect()
    }
    assert got == expect
