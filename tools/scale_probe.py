#!/usr/bin/env python
"""Scale probe: synthesize ~10× fixtures and measure how the
scale-designed operators actually scale (evidence for SCALE.md).

10× tables are unions of sf0.1 with id offsets (written to /tmp) — row
counts grow 10×, key cardinality grows 10×, and duplicated content makes
the dedup operators work *harder* (denser candidate graphs), so the
ratios below are pessimistic for real corpora.

Usage: python tools/scale_probe.py [KEY ...]  (prints a markdown table;
no keys = every key bench.py times)
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from lexam_data_pipeline_spark.catalog import load_table  # noqa: E402
from lexam_data_pipeline_spark.plans.registry import (  # noqa: E402
    bench_keys,
    build_queries,
)
from lexam_data_pipeline_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
SCALE_DIR = "/tmp/spark-graft-scale10"
COPIES = 10

#: queries measured: bench.py's key list (pass keys to probe a subset)
PROBES = bench_keys()

OFFSETS = {
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
    "events": ("event_id", 10_000_000),
    "orders": ("o_orderkey", 100_000_000),
    "lineitem": ("l_orderkey", 100_000_000),
}


def build_scaled(spark) -> None:
    if os.path.exists(SCALE_DIR):
        shutil.rmtree(SCALE_DIR)
    os.makedirs(SCALE_DIR)
    for name in ("region", "nation", "customer", "supplier", "part"):
        load_table(spark, BASE_SF, name).write.parquet(f"{SCALE_DIR}/{name}.parquet")
    for name, (id_col, step) in OFFSETS.items():
        base = load_table(spark, BASE_SF, name)
        parts = [
            base.withColumn(id_col, F.col(id_col) + F.lit(i * step)) for i in range(COPIES)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # user_id/custkey cardinality also grows so group counts scale
        if name == "events":
            out = out.withColumn(
                "user_id",
                F.col("user_id") + F.floor(F.col("event_id") / F.lit(10_000_000)) * 1_000_000,
            )
        out.write.parquet(f"{SCALE_DIR}/{name}.parquet")


def main() -> None:
    probes = PROBES
    if len(sys.argv) > 1:  # optional key filter: scale_probe.py q_a q_b
        unknown = [k for k in sys.argv[1:] if k not in PROBES]
        if unknown:
            sys.exit(f"unknown probe key(s): {unknown} — see PROBES")
        probes = [k for k in PROBES if k in sys.argv[1:]]
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark)
    queries = build_queries()

    def run(key: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run(probes[0], BASE_SF)  # session warmup
    print("| query | 1× (s) | 10× (s) | ratio |")
    print("|---|---|---|---|")
    for key in probes:
        t1 = min(run(key, BASE_SF) for _ in range(2))
        t10 = run(key, SCALE_DIR)
        print(f"| {key} | {t1:.2f} | {t10:.2f} | {t10 / t1:.1f}× |")
    spark.stop()


if __name__ == "__main__":
    main()
