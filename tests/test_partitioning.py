"""Partition-count operators (operators/partitioning +
catalog.FANOUT_KEYS).

The fixture parquet files are single-row-group, so a raw scan is ONE
task; fan_out must widen it to the session's default parallelism — and
must be a strict no-op when the plan is already at least that wide
(the production multi-row-group case) so cluster plans never pay an
extra exchange.  narrow must collapse a small file scan to one
partition and leave every other input — too large, or not a bare file
scan — exactly as it was.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import FANOUT_KEYS, load_table
from lexam_data_pipeline_spark.operators.partitioning import (
    fan_out,
    narrow,
    scan_size_estimate,
)


def _unknown_stats_frame(spark):
    """One partition whose size estimate is unknown (Long.MaxValue)."""
    rdd = spark.sparkContext.parallelize([(i, i % 7) for i in range(200)], 1)
    return spark.createDataFrame(rdd, "k long, g long")


def _non_scans(spark, sf_small):
    """Plans built over inputs that are not a bare file scan."""
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    unknown = _unknown_stats_frame(spark)
    return {
        "join": unknown.join(F.broadcast(orders.select(F.col("o_orderkey").alias("k"))), "k"),
        "explode": unknown.select("k", F.explode(F.array("k", "g")).alias("e")),
        "scan_join": orders.join(orders.select("o_orderkey"), "o_orderkey"),
        "scan_explode": orders.select(F.explode(F.array("o_orderkey", "o_custkey"))),
        "aggregate": orders.groupBy("o_custkey").count(),
        "in_memory": spark.createDataFrame([(1,)], "a int"),
    }


def test_fanout_widens_single_partition_scan(spark, sf_small):
    raw = spark.read.parquet(f"{sf_small}/orders.parquet")
    assert raw.rdd.getNumPartitions() == 1
    wide = fan_out(raw, "o_orderkey")
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fanout_noop_when_already_wide(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n)
    assert fan_out(df, "id") is df
    wider = spark.range(0, 1000, 1, n + 3)
    assert fan_out(wider, "id") is wider


def test_fanout_preserves_rows_exactly(spark, sf_small):
    raw = spark.read.parquet(f"{sf_small}/orders.parquet")
    wide = fan_out(raw, "o_orderkey")
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, wide.collect()))


def test_catalog_fan_is_per_call_opt_in(spark, sf_small):
    for name, key in FANOUT_KEYS.items():
        df = load_table(spark, sf_small, name, fan=True)
        assert key in df.columns
        assert (
            df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        ), name
        # default stays the raw scan (single partition on the fixture)
        raw = load_table(spark, sf_small, name)
        assert raw.rdd.getNumPartitions() == 1, name


def test_pushdown_survives_fanout(spark, sf_small):
    """Filter pushdown and column pruning must reach the parquet scan
    THROUGH the repartition (guide §6: PushedFilters / ReadSchema)."""
    df = (
        load_table(spark, sf_small, "lineitem", fan=True)
        .where(F.col("l_shipdate") >= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_scan_size_estimate_only_for_bare_file_scans(spark, sf_small):
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    full = scan_size_estimate(orders)
    assert full is not None and full > 0
    pruned = scan_size_estimate(orders.filter("o_orderkey > 3").select("o_orderkey"))
    assert pruned is not None and pruned < full
    for name, df in _non_scans(spark, sf_small).items():
        assert scan_size_estimate(df) is None, name


@pytest.mark.parametrize("kind", ["join", "explode"])
def test_fanout_widens_unknown_stats_input(spark, sf_small, kind):
    """A join or explode over an input with unknown statistics estimates
    Long.MaxValue bytes; the size shortcut must not read that as "already
    wide" — the one-partition input is widened."""
    df = _non_scans(spark, sf_small)[kind]
    assert df.rdd.getNumPartitions() == 1
    n = spark.sparkContext.defaultParallelism
    assert fan_out(df, "k").rdd.getNumPartitions() == n


def test_narrow_collapses_small_scan(spark, sf_small):
    raw = spark.read.parquet(f"{sf_small}/orders.parquet", f"{sf_small}/orders.parquet")
    assert raw.rdd.getNumPartitions() > 1
    small = narrow(raw.filter("o_orderkey > 3").select("o_orderkey", "o_custkey"))
    assert small.rdd.getNumPartitions() == 1
    agg = small.groupBy("o_custkey").count()
    assert "Exchange hashpartitioning" not in agg._jdf.queryExecution().executedPlan().toString()
    assert narrow(small) is small


def test_narrow_leaves_non_scans_unchanged(spark, sf_small):
    for name, df in _non_scans(spark, sf_small).items():
        assert narrow(df) is df, name


def test_narrow_leaves_scan_above_threshold_unchanged(spark, sf_small):
    raw = spark.read.parquet(f"{sf_small}/orders.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(scan_size_estimate(raw) - 1))
        assert narrow(raw) is raw
        spark.conf.set(key, "-1")
        assert narrow(raw) is raw
        spark.conf.set(key, str(scan_size_estimate(raw)))
        assert narrow(raw) is not raw
    finally:
        spark.conf.set(key, prev)
