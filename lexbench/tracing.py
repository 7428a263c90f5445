"""Spans, Spark job groups and event-log counters for traced runs.

A traced op sets one Spark job group per layer call
(``<op>|<layer>|<name>``), so every job Spark runs is attributed to the op
and the layer call that caused it.  Spans (name, layer, op, parent, start,
end) are kept in memory and written once, when the run ends.  Stage, task
and plan counters come from Spark's own event log (uncompressed,
non-rolling), parsed with ``json`` after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SEP = "|"
# Final-plan node names that run an exchange.  ReusedExchange re-reads an
# exchange that already ran in the same plan, so it is not counted.
EXCHANGE_NODES = ("Exchange", "BroadcastExchange", "ShuffleExchange")
INMEMORY_NODES = ("InMemoryTableScan",)
# Per-op counters that should repeat exactly for one seed (the regression
# signal); checked by ``layer_diff.py --counters``.
EXACT_COUNTERS = ("jobs", "stages", "tasks", "exchanges", "shuffle_read_bytes", "shuffle_write_bytes")


class Tracer:
    """In-memory spans; a no-op unless ``enabled``."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_stats: dict[str, dict] = defaultdict(dict)
        self._stack: list[int] = []

    @contextmanager
    def span(self, op: str, layer: str, name: str):
        if not self.enabled:
            yield
            return
        group = f"{op}{SEP}{layer}{SEP}{name}"
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"op": op, "layer": layer, "name": name, "parent": parent, "group": group}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]["group"]
                self.sc.setJobGroup(outer, outer, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def record(self, op: str, **values) -> None:
        """Attach observations made outside Spark jobs (Catalyst phases, storage) to an op."""
        if self.enabled:
            for k, v in values.items():
                self.op_stats[op][k] = self.op_stats[op].get(k, 0) + v

    def catalyst(self, op: str, df) -> None:
        """Add the analysis/optimization/planning time of ``df``'s query
        execution (forces planning; the execution that follows reuses it
        when it runs through the same Dataset)."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)  # a Scala Option[PhaseSummary]
            out[f"catalyst_{phase}_ms"] = (
                float(summary.get().durationMs()) if summary.isDefined() else 0.0
            )
        self.record(op, **out)

    def storage(self, op: str, jsc) -> None:
        """Live persisted RDDs and their stored bytes after an op."""
        if not self.enabled:
            return
        infos = jsc.sc().getRDDStorageInfo()
        stored = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        self.record(op, live_persists=len(infos), storage_bytes=stored)


def _count_nodes(plan: dict, names: tuple[str, ...]) -> int:
    n = 1 if plan.get("nodeName") in names else 0
    return n + sum(_count_nodes(c, names) for c in plan.get("children", []))


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group counters from the (single) event log under ``log_dir``.

    Returns ``{group: {jobs, stages, tasks, exchanges, inmemory_scans,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, gc_ms,
    task_run_ms, task_cpu_ms, scheduler_delay_ms, single_task_stage_ms,
    stage_ms, job_ms}}``; jobs without a group are dropped."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        files = glob.glob(os.path.join(log_dir, "*"))
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if not group:
                        continue
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = float(ev.get("Submission Time", 0))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    out[group]["jobs"] += 1
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    if group is not None:
                        out[group]["job_ms"] += float(ev.get("Completion Time", 0)) - job_start[ev["Job ID"]]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    g = out[group]
                    g["stages"] += 1
                    dur = float(info.get("Completion Time", 0) - info.get("Submission Time", 0))
                    g["stage_ms"] += dur
                    if info.get("Number of Tasks") == 1:
                        g["single_task_stage_ms"] += dur
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = out[group]
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    run = float(m.get("Executor Run Time", 0))
                    g["task_run_ms"] += run
                    g["task_cpu_ms"] += float(m.get("Executor CPU Time", 0)) / 1e6
                    g["gc_ms"] += float(m.get("JVM GC Time", 0))
                    g["spill_bytes"] += float(m.get("Memory Bytes Spilled", 0)) + float(
                        m.get("Disk Bytes Spilled", 0)
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += float(sr.get("Remote Bytes Read", 0)) + float(
                        sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += float(sw.get("Shuffle Bytes Written", 0))
                    duration = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    fetch = info.get("Getting Result Time", 0)
                    fetch = float(info["Finish Time"] - fetch) if fetch else 0.0
                    overhead = (
                        run
                        + float(m.get("Executor Deserialize Time", 0))
                        + float(m.get("Result Serialization Time", 0))
                        + fetch
                    )
                    g["scheduler_delay_ms"] += max(0.0, duration - overhead)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    # the last plan seen for an execution is its final plan
                    plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    for eid, group in exec_group.items():
        plan = plans.get(eid)
        if plan is not None:
            out[group]["exchanges"] += _count_nodes(plan, EXCHANGE_NODES)
            out[group]["inmemory_scans"] += _count_nodes(plan, INMEMORY_NODES)
    return {g: dict(v) for g, v in out.items()}


def op_counters(groups: dict[str, dict]) -> dict[str, dict]:
    """Fold per-group counters to per-op counters (group = op|layer|name)."""
    ops: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for group, vals in groups.items():
        op = group.split(SEP, 1)[0]
        for k, v in vals.items():
            ops[op][k] += v
    return {op: dict(v) for op, v in ops.items()}


def write_trace(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
