"""Pipeline observability: per-gate row accounting via ``Observation``.

A curation pipeline is a chain of destructive gates (quality filter →
dedup → decontamination → sampling); operating one at 100 TB requires
knowing how many rows each gate admitted WITHOUT paying an extra action
per gate.  Spark's ``Observation`` API is the native answer: observed
metrics are computed as task-side accumulators during the ONE action
that runs the pipeline — zero extra jobs, zero extra scans (the
reference's progress store, progress.py:17-72, polls row counts with
extra queries; this is the plan-integrated version).

Usage::

    audit = PipelineAudit()
    docs = audit.gate(docs, "ingest")
    kept = audit.gate(quality_filter(docs), "quality")
    deduped = audit.gate(dedup(kept), "dedup")
    deduped.write.parquet(out)          # the one action
    audit.report()                      # {'ingest': {'rows': ...}, ...}

Caveats (enforced here): a gate name is bound to one Observation per
pipeline run, an Observation only yields metrics after an action
touches its subtree, and ``Observation.get`` blocks until then —
``report(timeout)`` surfaces gates whose subtree never executed as
``None`` instead of hanging.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F


class PipelineAudit:
    def __init__(self) -> None:
        self._gates: dict[str, Observation] = {}

    def gate(self, df: DataFrame, name: str, *extra_metrics: Column) -> DataFrame:
        """Attach a named observation point; returns the observed frame.

        Default metric is the admitted row count; pass extra aggregate
        columns (e.g. ``F.sum("n_tokens").alias("tokens")``) for richer
        accounting.  All metrics ride the next action's tasks.
        """
        if name in self._gates:
            raise ValueError(f"gate {name!r} already observed in this audit")
        obs = Observation(name)
        self._gates[name] = obs
        metrics = [F.count(F.lit(1)).alias("rows"), *extra_metrics]
        return df.observe(obs, *metrics)

    def report(self, timeout_s: float = 5.0) -> dict[str, dict | None]:
        """Metrics per gate, in registration order.  A gate whose
        subtree no action executed reports ``None``.

        Metrics land via a QueryExecutionListener a beat AFTER the
        action returns, so completion is POLLED (bounded by
        ``timeout_s`` across all gates) — and polled via the
        observation's JVM future, because ``Observation.get`` blocks
        forever on a never-executed subtree."""
        import time

        deadline = time.monotonic() + timeout_s
        out: dict[str, dict | None] = {}
        for name, obs in self._gates.items():
            out[name] = observed_within(obs, deadline)
        return out

    def retention(
        self, upstream: str, downstream: str, timeout_s: float = 5.0
    ) -> float | None:
        """Fraction of ``upstream`` rows surviving to ``downstream``."""
        rep = self.report(timeout_s)
        up, down = rep.get(upstream), rep.get(downstream)
        if not up or not down or not up.get("rows"):
            return None
        return down["rows"] / up["rows"]


def observed_within(obs: Observation, deadline: float) -> dict | None:
    """Fetch one observation's metrics, or ``None`` once ``deadline``
    (a ``time.monotonic()`` value) passes — ``Observation.get`` itself
    blocks forever on a subtree no action executed.

    Preferred path polls the observation's JVM future — a private
    attribute (``Observation._jo``) stable across the PySpark
    3.3→4.x line but still internal, so any AttributeError/py4j
    surprise degrades to racing the blocking ``Observation.get``
    against the deadline on a daemon thread (daemon so a
    never-executed subtree can't pin interpreter exit) instead of
    raising or silently stalling the caller.
    """
    import time

    try:
        jo = obs._jo
        # metrics usually land within milliseconds of the action: poll
        # fast first, backing off to 50 ms
        pause = 0.001
        while not (jo is not None and jo.future().isCompleted()):
            if time.monotonic() >= deadline:
                return None
            time.sleep(pause)
            pause = min(2 * pause, 0.05)
        return dict(obs.get)
    except Exception:
        import threading

        box: list[dict] = []
        t = threading.Thread(target=lambda: box.append(dict(obs.get)), daemon=True)
        t.start()
        t.join(timeout=max(0.0, deadline - time.monotonic()))
        return box[0] if box else None
