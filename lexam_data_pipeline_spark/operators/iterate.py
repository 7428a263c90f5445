"""One fixpoint loop for the lineage-truncating iterative solvers.

PageRank (float and fixed-point), BFS and label propagation in
``ml/graph.py`` and both connected-components solvers in ``ml/dedup.py``
(Kiveris et al., SoCC'14) share one loop shape: advance the state one
round, ``localCheckpoint`` it every k rounds so the plan depth stays
O(k) however long the run, and optionally stop once a convergence probe
says so.  :func:`fixpoint` owns that loop; each solver keeps its own
step, round bound and k.

The probe has one shape: its aggregate metrics ride the boundary's
checkpoint job as an ``Observation`` (:func:`checkpoint_observed`), so
probing adds no job.  Solvers whose rounds are not lineage-bound stay
out: kmeans, logreg and boosted stumps collect once per round over a
persisted base, and PCA, IVF and PQ iterate in numpy on the driver.
"""

from __future__ import annotations

import operator
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation

from lexam_data_pipeline_spark.operators.observe import observed_within

#: Seconds a boundary waits for its observed metrics after the
#: checkpoint job returned.  They normally land within milliseconds;
#: past this bound the boundary recomputes them with an explicit
#: aggregate instead of blocking forever.
_OBSERVE_WAIT_S = 10.0


def checkpoint_observed(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` ``df`` and return it with the aggregate
    ``metrics`` over its rows.

    The metrics ride the checkpoint job as an ``Observation``: one job
    instead of checkpoint + a separate aggregate job.  Observation
    metrics fire on ``Dataset.localCheckpoint`` because it runs under
    ``withAction``.  The wait for them is bounded
    (:func:`observed_within`); when they do not arrive, the same metrics
    are computed by ``agg(...).collect()`` over the checkpointed rows, so
    the result never depends on which path delivered them."""
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint()
    got = observed_within(obs, time.monotonic() + _OBSERVE_WAIT_S)
    if got is None:
        got = out.agg(*metrics).collect()[0].asDict()
    return out, got


def fixpoint(
    state: DataFrame | tuple,
    step: Callable[[DataFrame | tuple], DataFrame | tuple],
    *,
    every: int,
    bound: int | None = None,
    probe: Callable[[DataFrame, DataFrame | None], tuple[DataFrame, list[Column]]]
    | None = None,
    stop: Callable[[dict, dict | None], bool] = operator.eq,
    seen: dict | None = None,
) -> tuple[DataFrame | tuple, int]:
    """Run ``state = step(state)`` for at most ``bound`` rounds (no bound:
    until the probe stops it); returns ``(state, rounds run)``.

    Cadence: after rounds ``every``, ``2·every``, … the state is
    checkpointed — never after round ``bound``, whose state the caller
    consumes lazily.  A tuple state checkpoints each frame, the first
    one first.

    Probe: at each of those boundaries ``probe(frame, last)`` returns
    the frame to checkpoint in place of the state's first frame and the
    aggregate metric columns observed on that checkpoint; ``last`` is the
    frame checkpointed at the previous boundary (None at the first).
    The loop stops right after the checkpoint when ``stop(metrics,
    previous metrics)`` holds — by default when the metrics did not
    change; ``seen`` gives the previous metrics for the first boundary
    (those of an initial state the caller checkpointed itself).  The
    other frames of a stopped tuple state stay uncheckpointed."""
    if bound is None and probe is None:
        raise ValueError("an unbounded fixpoint needs a probe")
    frames = isinstance(state, tuple)
    last = None
    rounds = 0
    while bound is None or rounds < bound:
        rounds += 1
        state = step(state)
        if rounds % every or rounds == bound:
            continue
        head, *rest = state if frames else (state,)
        if probe is None:
            head = head.localCheckpoint()
        else:
            frame, metrics = probe(head, last)
            head, got = checkpoint_observed(frame, *metrics)
            if stop(got, seen):
                return ((head, *rest) if frames else head), rounds
            last, seen = head, got
        rest = [f.localCheckpoint() for f in rest]
        state = (head, *rest) if frames else head
    return state, rounds
