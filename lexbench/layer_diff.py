#!/usr/bin/env python3
"""Compare traced runs layer by layer.

    python3 lexbench/layer_diff.py --base A.json [A2.json ...] --change B.json [...]
    python3 lexbench/layer_diff.py --counters RUN1.json RUN2.json

The inputs are the trace files ``run.py --trace 1`` writes under
``.lexbench/traces/``, all of one workload and seed.

Default mode: per layer (the span layer: ``op``, ``serving``, ``exec``,
``plans``, ``spark``, ``pipeline``), counts are compared exactly over the
ops both sides ran (from the first file of each side), and span times are
compared as median and IQR over every span of the layer in all files of a
side.  A later performance change shows with it where its saving lands.

``--counters``: the exact-counter check.  Two traced runs of the same code
and seed must give identical per-op jobs, stages, tasks, exchanges and
shuffle bytes.  Every counter that differs on any op is listed as
non-deterministic; such a counter is not a regression signal.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

from tracing import EXACT_COUNTERS, SEP


def load(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def counter_check(a: dict, b: dict) -> dict[str, list[str]]:
    """``{counter: [op ids where the two runs differ]}`` over common ops."""
    common = sorted(set(a["ops"]) & set(b["ops"]))
    return {
        c: [op for op in common if a["ops"][op].get(c, 0) != b["ops"][op].get(c, 0)] for c in EXACT_COUNTERS
    }


def layer_counts(trace: dict, ops: set[str]) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = {}
    for group, vals in trace["groups"].items():
        op, layer, _ = group.split(SEP, 2)
        if op not in ops:
            continue
        acc = out.setdefault(layer, {})
        for c in EXACT_COUNTERS:
            acc[c] = acc.get(c, 0.0) + vals.get(c, 0.0)
    return out


def layer_times(traces: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for t in traces:
        for s in t["spans"]:
            out.setdefault(s["layer"], []).append((s["end"] - s["start"]) * 1e3)
    return out


def med_iqr(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0] if xs else 0.0), 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q2, q3 - q1


def diff(base: list[dict], change: list[dict]) -> str:
    common = set(base[0]["ops"]) & set(change[0]["ops"])
    lines = [f"workload {base[0]['workload']}, {len(common)} common ops", "", "counts (exact):"]
    ca, cb = layer_counts(base[0], common), layer_counts(change[0], common)
    for layer in sorted(set(ca) | set(cb)):
        for c in EXACT_COUNTERS:
            x, y = ca.get(layer, {}).get(c, 0.0), cb.get(layer, {}).get(c, 0.0)
            mark = "" if x == y else "  CHANGED"
            lines.append(f"  {layer:9s} {c:20s} {x:14.0f} -> {y:14.0f} ({y - x:+.0f}){mark}")
    lines += ["", "span times, ms (median [IQR]):"]
    ta, tb = layer_times(base), layer_times(change)
    for layer in sorted(set(ta) | set(tb)):
        (ma, ia), (mb, ib) = med_iqr(ta.get(layer, [])), med_iqr(tb.get(layer, []))
        rel = f"{(mb / ma - 1) * 100:+.1f}%" if ma else "n/a"
        lines.append(f"  {layer:9s} {ma:10.1f} [{ia:8.1f}] -> {mb:10.1f} [{ib:8.1f}]  {rel}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--counters", nargs=2, metavar="TRACE", help="exact-counter check of two runs")
    ap.add_argument("--base", nargs="+", default=[], metavar="TRACE")
    ap.add_argument("--change", nargs="+", default=[], metavar="TRACE")
    args = ap.parse_args(argv)
    if args.counters:
        a, b = (load(f) for f in args.counters)
        n = len(set(a["ops"]) & set(b["ops"]))
        for c, ops in counter_check(a, b).items():
            label = "exact" if not ops else f"NON-DETERMINISTIC ({len(ops)} of {n} ops differ)"
            print(f"{c:20s} {label}")
        return 0
    if not args.base or not args.change:
        ap.error("give --base and --change trace files (or --counters)")
    base = [load(f) for f in args.base]
    change = [load(f) for f in args.change]
    print(diff(base, change))
    return 0


if __name__ == "__main__":
    sys.exit(main())
