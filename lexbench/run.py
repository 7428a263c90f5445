#!/usr/bin/env python3
"""Benchmark entry point.

    python3 lexbench/run.py --workload serve|batch --seed N --seconds S \
        --trace 0|1 [--sf 0.1]

Run from the repository root.  Generates the run's inputs from ``--seed``
under ``.lexbench/`` in the working directory, starts one Spark session
through the engine's ``session.get_spark``, runs the workload from a single
caller thread, checks every op's output after the timed window, and prints
one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns Spark's
event log on, runs traced and untraced copies of the ops (see ``measure``),
reports the per-layer metrics and writes spans and per-op counters to
``.lexbench/traces/``.  See ``lexbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

MAX_CORES = 4
SETUP_REPEATS = 3
SERVING_FNS = (
    "questions_page",
    "filter_facets",
    "dashboard",
    "experiment_stats",
    "get_question",
    "top_courses_for_search",
)
PIPELINE_TIMED_STEPS = ("generate", "judge", "stats", "resume", "delete")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _cpu_ticks(stat: bytes) -> tuple[int, int]:
    """(parent pid, utime + stime + cutime + cstime) from a ``stat`` line."""
    fields = stat[stat.rindex(b")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process under
    it (Spark's JVM, the PySpark daemon and its Python workers), counting
    the children each has reaped, so a worker that exits is not lost.
    Time the host steals from the VM is not counted."""
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                parent[int(name)], used[int(name)] = _cpu_ticks(fh.read())
        except OSError:  # exited meanwhile
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads (kept
    alive for the JVM's life by ``-XX:-UseDynamicNumberOfCompilerThreads``,
    so none of their time leaves with an exited thread)."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm", "rb") as fh:
                if not fh.read().startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat", "rb") as fh:
                total += _cpu_ticks(fh.read())[1]
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: str, cores: int, trace: bool):
    from lexam_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so the JVM's resident peak does not depend
        # on when the JVM chose to grow it; JIT compiler threads that live
        # as long as the JVM, so their CPU time can be told apart
        "spark.driver.extraJavaOptions": "-Xms2g -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="lexbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run_op(wl, op, tracer, traced: bool, sc) -> dict:
    tracer.enabled = traced
    jvm = sc._gateway.proc.pid
    cpu, jit = tree_cpu_s(os.getpid()), jit_cpu_s(jvm)
    s = time.perf_counter()
    result, error = None, None
    try:
        with tracer.span(op.id, "op", op.kind):
            result = wl.execute(op, tracer)
    except Exception as exc:  # one broken op must not end the run
        error = f"{type(exc).__name__}: {exc}"[:400]
    latency = time.perf_counter() - s
    cpu_end, jit_end = tree_cpu_s(os.getpid()), jit_cpu_s(jvm)
    rec = {
        "op": op,
        "traced": traced,
        "latency": latency,
        "cpu": cpu_end - cpu,
        "jit": jit_end - jit,
        "result": result,
        "error": error,
    }
    if traced:
        tracer.storage(op.id, sc._jsc)
        if op.kind in workloads.STEPS:
            rec["files"], rec["bytes"] = wl.journey.scan_files()
            if op.kind == "resume":
                rec["live_bytes"] = wl.journey.live_bytes()
    tracer.enabled = False
    return rec


def measure(wl, seconds: float, trace: bool, tracer, sc) -> list[dict]:
    """Run the workload's ops; returns the op records.

    ``serve`` sends ``round(seconds / wl.pass_s)`` (at least one) whole
    cycles of its request mix, so every run of one ``--seconds`` does the
    same work; traced, it runs every request twice, untraced and traced,
    alternating which goes first.  ``batch`` runs its one pass; traced, it
    runs the pass traced (cold, as untraced runs do), then repeats the
    light keys untraced and traced in alternation, which gives
    ``trace.overhead_frac``."""
    if not wl.cyclic:
        ops = wl.ops()
        recs = [run_op(wl, op, tracer, trace, sc) for op in ops]
        if trace:
            light = [op for op in ops if op.kind in workloads.LIGHT_KEYS]
            for i, op in enumerate(light):
                for traced in (False, True) if i % 2 == 0 else (True, False):
                    again = workloads.Op(f"{op.id}.r", op.kind, op.params)
                    recs.append({**run_op(wl, again, tracer, traced, sc), "repeat": True})
        return recs
    recs = []
    n = max(1, round(seconds / wl.pass_s)) * wl.pass_size
    for i, op in enumerate(itertools.islice(wl.ops(), n)):
        order = ((False, True) if i % 2 == 0 else (True, False)) if trace else (False,)
        recs.extend(run_op(wl, op, tracer, traced, sc) for traced in order)
    return recs


def end_to_end(wl, recs: list[dict], setup: dict, rss: float) -> dict:
    """Costs in CPU seconds of the process tree, not wall-clock seconds,
    which the host's CPU steal moves by up to 2x between runs (see README,
    "Why CPU time")."""
    per_pass = (wl.pass_size or len(recs)) / len(recs)
    return {
        "setup_s": (setup["session_s"] + setup["inputs_s"] + setup["warmup_s"], "s"),
        "cpu_s": (sum(r["cpu"] for r in recs) * per_pass, "s"),
        "peak_rss_mb": (rss, "MB"),
    }


def wall_clock(wl, recs: list[dict]) -> dict:
    """Wall-clock time per pass and per op: what a caller waits, reported
    without a regression bound."""
    lat = [r["latency"] for r in recs]
    per_pass = (wl.pass_size or len(lat)) / max(len(lat), 1)
    return {
        "wall.pass_s": (sum(lat) * per_pass, "s"),
        "wall.op_p50_ms": (quantile(lat, 0.5) * 1e3, "ms"),
    }


def per_layer(wl, recs, setup, groups, tracer, cores) -> dict:
    ops = [r for r in recs if r["traced"] and not r.get("repeat")]
    traced_ids = {r["op"].id for r in ops}
    n = len(ops) / (wl.pass_size or max(len(ops), 1)) or 1.0  # traced passes
    spans = [s for s in tracer.spans if s["op"] in traced_ids]
    groups = {g: v for g, v in groups.items() if g.split(tracing.SEP, 1)[0] in traced_ids}

    def span_s(layers, pred=lambda s: True) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["layer"] in layers and pred(s))

    def jobs_of(layers, pred=lambda s: True) -> float:
        wanted = {s["group"] for s in spans if s["layer"] in layers and pred(s)}
        return sum(groups.get(g, {}).get("jobs", 0) for g in wanted)

    total = {}
    for vals in groups.values():
        for key, v in vals.items():
            total[key] = total.get(key, 0.0) + v
    stats = [v for op, v in tracer.op_stats.items() if op in traced_ids]
    busy_ms = sum(r["latency"] for r in ops) * 1e3
    m = {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.inputs_s": (setup["inputs_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "plans.construct_ms": (span_s({"plans", "serving"}) * 1e3 / n, "ms"),
        "plans.construct_jobs": (jobs_of({"plans", "serving"}) / n, "count"),
    }
    for phase in ("analysis", "optimization", "planning"):
        v = sum(s.get(f"catalyst_{phase}_ms", 0.0) for s in stats)
        m[f"catalyst.{phase}_ms"] = (v / n, "ms")
    m["spark.exec_ms"] = (total.get("job_ms", 0.0) / n, "ms")
    for key, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("exchanges", "count"),
        ("shuffle_read_bytes", "B"),
        ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"),
        ("gc_ms", "ms"),
        ("task_run_ms", "ms"),
        ("task_cpu_ms", "ms"),
        ("scheduler_delay_ms", "ms"),
        ("single_task_stage_ms", "ms"),
    ):
        m[f"spark.{key}"] = (total.get(key, 0.0) / n, unit)
    m["spark.core_busy_frac"] = (total.get("task_run_ms", 0.0) / max(busy_ms * cores, 1e-9), "ratio")
    m["caching.live_persists"] = (max((s.get("live_persists", 0) for s in stats), default=0), "count")
    m["caching.inmemory_scans"] = (total.get("inmemory_scans", 0.0) / n, "count")
    m["caching.storage_bytes"] = (max((s.get("storage_bytes", 0) for s in stats), default=0), "B")

    for fn in SERVING_FNS:
        lat = [r["latency"] * 1e3 for r in ops if wl.name == "serve" and r["op"].kind == fn]
        m[f"serving.{fn}.p50_ms"] = (median(lat), "ms")
    m["serving.jobs_per_request"] = (total.get("jobs", 0.0) / len(ops) if wl.name == "serve" and ops else 0.0, "count")

    iterative = lambda s: s["name"] in workloads.ITERATIVE_KEYS  # noqa: E731
    m["ml.iterative.construct_s"] = (span_s({"plans"}, iterative) / n, "s")
    m["ml.iterative.exec_s"] = (span_s({"spark"}, iterative) / n, "s")
    m["ml.iterative.jobs"] = (jobs_of({"plans", "spark"}, iterative) / n, "count")

    steps = [r for r in ops if r["op"].kind in workloads.STEPS]
    for step in PIPELINE_TIMED_STEPS:
        m[f"pipeline.{step}_s"] = (median(r["latency"] for r in steps if r["op"].kind == step), "s")
    llm = [r for r in steps if r["op"].kind in ("generate", "judge")]
    llm_s = sum(r["latency"] for r in llm)
    m["pipeline.llm_rows_per_s"] = (sum(r["result"] or 0 for r in llm) / llm_s if llm_s else 0.0, "1/s")
    written = sum(r.get("bytes", 0) for r in steps)
    live = sum(r.get("live_bytes", 0) for r in steps)
    m["pipeline.files_written"] = (sum(r.get("files", 0) for r in steps) / n, "count")
    m["pipeline.bytes_written"] = (written / n, "B")
    m["pipeline.write_amp"] = (written / live if live else 0.0, "ratio")

    pairs = [r for r in recs if r.get("repeat") or wl.cyclic]
    t_sum = sum(r["latency"] for r in pairs if r["traced"])
    u_sum = sum(r["latency"] for r in pairs if not r["traced"])
    m["trace.overhead_frac"] = (t_sum / u_sum - 1.0 if u_sum else 0.0, "ratio")
    # batch: the median registry key, not the median op, which falls
    # between the light keys and the few heavy ops and jumps between them
    keys = [r["cpu"] for r in ops if r["op"].kind not in workloads.STEPS]
    m["cpu.op_p50_ms"] = (quantile(keys, 0.5) * 1e3, "ms")
    m["jvm.jit_cpu_s"] = (sum(r["jit"] for r in ops) / n, "s")
    # serve: the untraced copies; batch: its (traced) pass
    m.update(wall_clock(wl, [r for r in recs if not r["traced"] and not r.get("repeat")] or ops))
    m["wall.setup_s"] = (setup["wall_s"], "s")
    return m


def run(args) -> dict:
    wl_cls = workloads.WORKLOADS[args.workload]
    base = os.path.join(os.getcwd(), ".lexbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse", "eventlog", "derby"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    spark = None
    try:
        # set-up costs in CPU seconds, as the ops are measured;
        # the wall-clock total goes to wall.setup_s
        root = os.path.join(work, "inputs")
        t_start, cpus = time.perf_counter(), []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(root, ignore_errors=True)
            c0 = tree_cpu_s(os.getpid())
            lx = inputs.make_inputs(root, args.seed, args.sf, fixture=wl_cls.fixture)
            cpus.append(tree_cpu_s(os.getpid()) - c0)
        setup = {"inputs_s": median(cpus)}
        t_inputs = (time.perf_counter() - t_start) / SETUP_REPEATS
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        spark = start_session(work, cores, args.trace)
        jvm = spark.sparkContext._gateway.proc.pid
        setup["session_s"] = tree_cpu_s(os.getpid()) - c0
        c0 = tree_cpu_s(os.getpid())
        wl = wl_cls(spark, root, lx, args.seed)
        wl.warmup()
        setup["warmup_s"] = tree_cpu_s(os.getpid()) - c0
        setup["wall_s"] = t_inputs + time.perf_counter() - t0
        print("setup: " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()), file=sys.stderr)

        tracer = tracing.Tracer(spark.sparkContext, enabled=False)
        recs = measure(wl, args.seconds, bool(args.trace), tracer, spark.sparkContext)
        rss = vm_hwm_mb(jvm)

        failed = 0
        for rec in recs:
            if rec["error"] is None:
                try:
                    rec["error"] = wl.check(rec["op"], rec["result"])
                except Exception as exc:
                    rec["error"] = f"check raised {type(exc).__name__}: {exc}"[:400]
            if rec["error"] is not None:
                failed += 1
                print(f"FAILED {rec['op'].id} {rec['op'].kind}: {rec['error']}", file=sys.stderr)
        attempted = len(recs)
        stop_session(spark)
        spark = None

        if args.trace:
            groups = tracing.parse_event_log(os.path.join(work, "eventlog"))
            metrics = per_layer(wl, recs, setup, groups, tracer, cores)
            counters = tracing.op_counters(groups)
            path = os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}-{os.getpid()}.json"
            )
            tracing.write_trace(
                path,
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "sf": args.sf,
                    "spans": tracer.spans,
                    "groups": groups,
                    "ops": {
                        r["op"].id: {
                            "kind": r["op"].kind,
                            "latency_ms": r["latency"] * 1e3,
                            "cpu_ms": r["cpu"] * 1e3,
                            **counters.get(r["op"].id, {}),
                            **tracer.op_stats.get(r["op"].id, {}),
                        }
                        for r in recs
                        if r["traced"]
                    },
                    "metrics": {k: v for k, (v, _) in metrics.items()},
                },
            )
            print(f"trace written to {os.path.relpath(path)}", file=sys.stderr)
        else:
            metrics = end_to_end(wl, recs, setup, rss)
            wall = wall_clock(wl, recs)
            print("wall clock: " + ", ".join(f"{k} {v:.3f} {u}" for k, (v, u) in wall.items()), file=sys.stderr)
        print(
            f"{args.workload}: {attempted} ops, failed_frac={failed / max(attempted, 1):.4f}",
            file=sys.stderr,
        )
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="input scale factor (tests use 0.001)")
    args = ap.parse_args(argv)
    try:
        import lexam_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        out = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
