"""SparkSession factory with scale-oriented defaults.

The reference delegates all planning to PostgreSQL (SURVEY.md §4); our
analog is to hand Catalyst a fully declarative plan and enable the runtime
re-planning knobs (AQE) that matter at cluster scale:

* ``spark.sql.adaptive.enabled`` — runtime shuffle-partition coalescing,
  broadcast-join conversion and skew-join splitting at 100 TB.
* Arrow execution for every pandas UDF / ``applyInPandas`` stage.
* ``spark.sql.legacy.parquet.nanosAsLong`` — the ``events`` fixture stores
  ``timestamp[ns]`` which Spark's parquet reader otherwise rejects; the
  catalog converts the raw nanos back to a proper timestamp column
  (see :mod:`lexam_data_pipeline_spark.catalog`).
* ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_ENTRIES`
  — Spark's LRU cache of Janino-compiled whole-stage classes defaults to
  100 entries, but one cycle of the serving request mix generates about
  260 distinct classes, so at the default every class was evicted and
  recompiled on every cycle (``CodegenMetrics`` compile count per warm
  ten-request cycle of ``lexbench`` ``serve`` at sf0.1: 258–264 at 100
  entries, 4–25 at 1000).  The cache is JVM-wide and static, so it only
  takes effect when this factory builds the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: Janino class-cache size: about four serving request cycles' worth of
#: generated classes (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "lexam_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    In local test mode we run ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster the caller passes ``master=None`` and lets spark-submit decide.
    All settings below are safe on both.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode shares one heap across all task threads; the 1 GiB
        # default leaves little headroom at 32 threads.  Every query is
        # still verified 1 GiB-safe under a vanilla session (the driver's
        # own harness uses one) — this is bench/test headroom only.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Deterministic session timezone so timestamp arithmetic matches the
        # DuckDB oracle regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
