"""Streaming CMS maintenance must be COUNTER-IDENTICAL to the batch
sketch after draining any micro-batch split (mergeability is exact)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.ml.cms import cms_build, cms_estimate
from lexam_data_pipeline_spark.streaming import read_events_stream
from lexam_data_pipeline_spark.streaming.sketches import (
    STATE_COLUMNS,
    cms_merge,
    start_streaming_cms,
)

W, D = 256, 4  # small sketch → plenty of collisions → merge bugs visible


def _cells(df) -> dict:
    return {(r["depth"], r["bucket"]): r["c"] for r in df.collect()}


def test_drained_state_equals_batch_sketch(spark, sf_small, tmp_path, state_store):
    ev = load_table(spark, sf_small, "events")
    chunk_dir = str(tmp_path / "ev_chunks")
    for i in range(3):  # 3 files → 3 micro-batches under maxFilesPerTrigger=1
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    holder = state_store()
    stream = read_events_stream(spark, chunk_dir, max_files_per_trigger=1)
    q = start_streaming_cms(
        stream, F.col("event_type"), holder.read, holder.write, w=W, d=D
    )
    q.awaitTermination(120)
    batch = cms_build(ev, F.col("event_type"), w=W, d=D)
    assert _cells(holder.read("cms")) == _cells(batch)


def test_merge_is_split_invariant(spark, sf_small, state_store):
    ev = load_table(spark, sf_small, "events")
    one = cms_merge(None, ev, F.col("event_type"), w=W, d=D)
    holder = state_store()
    state = None
    for i in range(4):
        chunk = ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
        holder.write("cms", cms_merge(state, chunk, F.col("event_type"), w=W, d=D))
        state = holder.read("cms")  # materialize between folds like a real sink
    assert _cells(state) == _cells(one)


def test_estimates_from_maintained_state_upper_bound_truth(spark, sf_small, state_store):
    """Serving path: estimates off the folded state can only OVER-count
    (the no-false-negative property heavy-hitter extraction relies on)."""
    ev = load_table(spark, sf_small, "events")
    holder = state_store()
    state = None
    for i in range(2):
        chunk = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == i)
        holder.write("cms", cms_merge(state, chunk, F.col("event_type"), w=W, d=D))
        state = holder.read("cms")
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    probes = spark.createDataFrame([(k,) for k in truth], "event_type string")
    est = cms_estimate(probes, F.col("event_type"), state, w=W, d=D)
    for r in est.collect():
        assert r["cms_est"] >= truth[r["event_type"]]


def test_state_columns_stable():
    assert STATE_COLUMNS == ("depth", "bucket", "c")


# ── HLL distinct-rollup maintenance ─────────────────────────────────────


def _weekly(df) -> dict:
    return {r[0]: r["approx_distinct_users"] for r in df.collect()}


def test_drained_hll_state_weekly_equals_batch_build(spark, sf_small, tmp_path, state_store):
    """Register-wise union is exact: after draining any micro-batch
    split, weekly estimates off the state EQUAL the batch
    q_hll_merge_windows output."""
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_hll_merge_windows,
    )
    from lexam_data_pipeline_spark.streaming.sketches import (
        hll_window_estimates,
        start_streaming_hll,
    )

    ev = load_table(spark, sf_small, "events")
    chunk_dir = str(tmp_path / "ev_chunks_hll")
    for i in range(3):
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    holder = state_store()
    stream = read_events_stream(spark, chunk_dir, max_files_per_trigger=1)
    q = start_streaming_hll(stream, F.col("user_id"), holder.read, holder.write)
    q.awaitTermination(120)
    got = _weekly(hll_window_estimates(holder.read("hll")))
    want = _weekly(q_hll_merge_windows(spark, sf_small))
    assert got == want


def test_hll_merge_is_split_invariant_and_error_bounded(spark, sf_small, state_store):
    """Folding in 4 splits equals one-shot state; weekly estimates land
    within the HLL error bound (3% at lgK=14) of exact distincts."""
    from lexam_data_pipeline_spark.streaming.sketches import (
        hll_merge,
        hll_window_estimates,
    )

    ev = load_table(spark, sf_small, "events")
    one = hll_merge(None, ev, F.col("user_id"))
    holder = state_store()
    state = None
    for i in range(4):
        chunk = ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i)
        holder.write("hll", hll_merge(state, chunk, F.col("user_id")))
        state = holder.read("hll")
    assert _weekly(hll_window_estimates(state)) == _weekly(
        hll_window_estimates(one)
    )
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = _weekly(hll_window_estimates(state))
    assert set(est) == set(exact)
    for wk, n in exact.items():
        assert abs(est[wk] - n) <= max(0.03 * n, 1), (wk, est[wk], n)
