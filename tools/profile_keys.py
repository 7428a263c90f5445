#!/usr/bin/env python
"""Per-key construct / exec split with bench.py's harness (same session
factory, warm-up, noop sink, ``release_all`` + forced GC between runs).

    python tools/profile_keys.py q_item_similarity q_dedup_clusters [--runs N]

For each key and run it prints one JSON line: construct seconds (the
driver-side Python plus any Spark jobs the key's query function runs),
the number of those construct-time jobs (construction runs in its own
job group, read back through ``statusTracker``), then the first noop write of the built
frame (Catalyst analysis + codegen + execution) and a repeat write of
the same frame (execution + re-plan of an analyzed tree).  A key is
driver-bound when construct or first-minus-repeat dominates, data-bound
when repeat does.

An A/B of two commits: two ``git archive`` copies, this tool run in
each, alternating which goes first; compare per-key minima.

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

from bench import noop_write, settle, warm_up  # noqa: E402
from lexam_data_pipeline_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from lexam_data_pipeline_spark.plans.registry import build_queries  # noqa: E402
from lexam_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    sf_dir = DEFAULT_SF_DIR
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    queries = build_queries()
    unknown = [k for k in args.keys if k not in queries]
    if unknown:
        sys.exit(f"unknown key(s): {unknown}")
    warm_up(spark, queries, args.keys[0], sf_dir)

    for name in args.keys:
        for i in range(args.runs):
            group = f"construct:{name}:{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, sf_dir)
            finally:
                sc.setJobGroup(None, None)
            construct = time.perf_counter() - t0
            row = {
                "key": name,
                "run": i,
                "construct_s": round(construct, 3),
                "construct_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "first_exec_s": round(noop_write(df), 3),
                "repeat_exec_s": round(noop_write(df), 3),
            }
            settle(spark)
            print(json.dumps(row), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
