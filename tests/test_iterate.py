"""operators/iterate.fixpoint: checkpoint cadence, stop rules, and where
the convergence probe runs."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.operators.iterate import fixpoint


@pytest.fixture
def counted(spark, monkeypatch):
    """A one-row state whose step bumps ``x`` and the round counter, and
    a log of the round count at every ``localCheckpoint``."""
    log = {"round": 0, "checkpoints": []}
    init = spark.range(1).select(F.lit(0).alias("x"))
    frame_class = type(init)  # the concrete class of this session's frames
    real = frame_class.localCheckpoint

    def spy(df, *args, **kwargs):
        log["checkpoints"].append(log["round"])
        return real(df, *args, **kwargs)

    monkeypatch.setattr(frame_class, "localCheckpoint", spy)

    def step(df):
        log["round"] += 1
        return df.select((F.col("x") + 1).alias("x"))

    return init, step, log


def _x(df: DataFrame) -> int:
    return df.collect()[0]["x"]


def test_cadence_checkpoints_every_k_rounds_but_never_the_last(counted):
    init, step, log = counted
    out, rounds = fixpoint(init, step, every=5, bound=12)
    assert (rounds, _x(out)) == (12, 12)
    assert log["checkpoints"] == [5, 10]

    log.update(round=0, checkpoints=[])
    out, rounds = fixpoint(init, step, every=5, bound=10)
    assert (rounds, _x(out)) == (10, 10)
    assert log["checkpoints"] == [5]  # round 10 is the last: no checkpoint

    log.update(round=0, checkpoints=[])
    fixpoint(init, step, every=1, bound=3)
    assert log["checkpoints"] == [1, 2]


def test_cadence_checkpoints_every_frame_of_a_tuple_state(counted):
    init, step, log = counted

    def pair_step(state):
        a, b = state
        return step(a), b.select((F.col("x") * 2).alias("x"))

    (a, b), rounds = fixpoint((init, init.select(F.lit(1).alias("x"))), pair_step,
                              every=2, bound=5)
    assert (rounds, _x(a), _x(b)) == (5, 5, 32)
    assert log["checkpoints"] == [2, 2, 4, 4]


def test_stops_at_its_bound_and_on_the_probe(counted):
    init, step, log = counted
    assert fixpoint(init, step, every=3, bound=0)[1] == 0
    with pytest.raises(ValueError):
        fixpoint(init, step, every=1)  # no bound and no probe never ends

    # unbounded: stops on the probe, right after that round's checkpoint
    out, rounds = fixpoint(
        init, step, every=1,
        probe=lambda df, _: (df, [F.max("x").alias("m")]),
        stop=lambda got, _: got["m"] >= 7,
    )
    assert (rounds, _x(out)) == (7, 7)
    assert log["checkpoints"][-1] == 7

    # a bound reached before the probe fires ends the loop too
    out, rounds = fixpoint(
        init, step, every=2, bound=5,
        probe=lambda df, _: (df, [F.max("x").alias("m")]),
        stop=lambda got, _: got["m"] >= 7,
    )
    assert (rounds, _x(out)) == (5, 5)


def test_default_stop_is_unchanged_metrics_seeded_by_seen(spark):
    init = spark.range(1).select(F.lit(0).alias("x"))

    def saturating(df):
        return df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))

    probe = lambda df, _: (df, [F.max("x").alias("m")])  # noqa: E731
    # x: 1, 2, 3, 3 — the metrics first repeat after round 4
    assert fixpoint(init, saturating, every=1, probe=probe)[1] == 4
    # the caller's initial metrics count as the previous boundary's
    at3 = init.select(F.lit(3).alias("x"))
    assert fixpoint(at3, saturating, every=1, probe=probe, seen={"m": 3})[1] == 1


def test_probe_runs_at_boundaries_only_and_sees_the_last_checkpoint(counted):
    init, step, log = counted
    calls = []

    def probe(df, last):
        calls.append((log["round"], None if last is None else _x(last)))
        return df, [F.max("x").alias("m")]

    out, rounds = fixpoint(
        init, step, every=3, bound=10, probe=probe, stop=lambda got, _: False
    )
    assert (rounds, _x(out)) == (10, 10)
    assert calls == [(3, None), (6, 3), (9, 6)]
    assert log["checkpoints"] == [3, 6, 9]
