"""Incremental join-view maintenance must reproduce the batch join as a
multiset after draining any split — including matches whose two sides
arrived in different micro-batches, and duplicate-key fan-out."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.streaming import read_events_stream
from lexam_data_pipeline_spark.streaming.ivm import (
    join_view_delta,
    start_streaming_join_view,
)


def _split(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    left = batch.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id")
    )
    right = batch.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    return left, right


def _batch_expected(spark, sf_dir: str) -> Counter:
    ev = load_table(spark, sf_dir, "events")
    l, r = _split(ev)
    return Counter(
        (row["user_id"], row["signup_id"], row["purchase_id"])
        for row in l.join(r, ["user_id"]).collect()
    )


def test_drained_view_equals_batch_join(spark, sf_small, tmp_path, state_store):
    ev = load_table(spark, sf_small, "events")
    ranked = ev.withColumn("rk", F.row_number().over(Window.orderBy("ts", "event_id")))
    n = ranked.count()
    chunk_dir = str(tmp_path / "ev_chunks")
    per = (n + 3) // 4
    for i in range(4):
        ranked.filter(
            (F.col("rk") > i * per) & (F.col("rk") <= (i + 1) * per)
        ).drop("rk").coalesce(1).write.mode("append").parquet(chunk_dir)

    legs = state_store()
    view: Counter = Counter()

    def append_view(delta):
        if delta is not None:
            view.update(
                (r["user_id"], r["signup_id"], r["purchase_id"])
                for r in delta.collect()
            )

    stream = read_events_stream(spark, chunk_dir, max_files_per_trigger=1)
    q = start_streaming_join_view(
        stream, _split, ["user_id"], legs.read, legs.write, append_view
    )
    q.awaitTermination(180)
    expected = _batch_expected(spark, sf_small)
    assert expected, "fixture must produce at least one signup-purchase match"
    assert view == expected


def test_delta_rule_no_double_count_and_bag_semantics(spark):
    """Two triggers, duplicate keys on both sides: every (a_i, b_j) pair
    must appear exactly once across the drained deltas."""
    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    a1 = df([(1, 10), (1, 11)], "k long, a long")        # trigger 1 left
    b1 = df([(1, 100)], "k long, b long")                # trigger 1 right
    a2 = df([(1, 12)], "k long, a long")                 # trigger 2 left
    b2 = df([(1, 101), (1, 101)], "k long, b long")      # dup right rows

    d1 = join_view_delta(None, None, a1, b1, ["k"])
    state_a, state_b = a1, b1
    d2 = join_view_delta(state_a, state_b, a2, b2, ["k"])
    got = Counter(
        (r["a"], r["b"]) for d in (d1, d2) for r in d.collect()
    )
    want = Counter()
    for a in (10, 11, 12):
        want[(a, 100)] += 1
        want[(a, 101)] += 2  # duplicated right row -> two matches each
    assert got == want


def test_empty_trigger_sides(spark):
    a = spark.createDataFrame([(1, 10)], "k long, a long")
    assert join_view_delta(None, None, None, None, ["k"]) is None
    d = join_view_delta(None, None, a, None, ["k"])
    assert d is None  # left-only rows with no right state: no matches yet
