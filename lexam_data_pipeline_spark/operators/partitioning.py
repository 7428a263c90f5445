"""Partition-count operators: ``fan_out`` widens a narrow scan, ``narrow``
collapses a small one.

Why ``fan_out`` exists: parquet scans can only split BETWEEN row groups.  A
table written as one row group per file (exactly the shape of the
fixture inputs, and of any ingest that buffered a whole file before
flushing) yields ONE scan task per file no matter what
``spark.sql.files.maxPartitionBytes`` says — so every narrow stage
chained onto the scan (explode + partial aggregation, md5 fan-outs,
Arrow/pandas kernels, wide codegen projections) runs on a single core
while the rest of the cluster idles.  That is guide §2 stragglers in
their purest form: not skew between partitions, but a partition COUNT
below the hardware.

``fan_out`` repartitions such an input up to the session's default
parallelism — an explicit hash exchange of the scanned rows (cheap:
the rows were about to be shuffled or reduced anyway; the exchange
carries only the columns the downstream stage selected) that buys a
cluster-wide map stage.  It is deliberately scale-adaptive, NOT a
local[32] constant:

* the target is ``sparkContext.defaultParallelism`` — total cores on a
  real cluster, ``$SPARK_GRAFT_CPUS`` locally — so the driver's
  low-core bench re-runs and any production deployment each get their
  own right number;
* it is a NO-OP whenever the plan already has at least that many
  partitions (the 100 TB case: thousands of row groups → thousands of
  scan tasks), so production plans never pay an extra exchange.

Hash-partitioning on a caller-chosen key (never round-robin) keeps the
exchange deterministic under task retries (guide §2.5: round-robin
repartition pays a sort-before-repartition per task and risks
SPARK-38388-style retry divergence; a hash on a stable id does
neither).  Callers pick keys with enough distinct values to spread
(doc ids, order keys — 20-100x the partition count, per guide §2.5).

``narrow`` is the opposite move, for the serving layer: an interactive
request over a small table is bound by per-job planning and scheduling,
not by data volume, so every shuffle its aggregates, sorts and
semi-joins add costs more than the parallelism it buys.  When the input
is small enough that Spark would already copy it whole into every task
(at or under ``spark.sql.autoBroadcastJoinThreshold``), ``narrow``
returns ``df.coalesce(1)``: a single-partition child satisfies every
clustered and ordered distribution, so EnsureRequirements plans no
shuffle downstream and AQE has no shuffle stages to split off as extra
jobs.  Anything larger keeps its plan unchanged.

Both operators decide from the optimizer's size estimate, which is only
meaningful on a bare file scan — a join, generate or aggregate has no
file statistics and estimates ``Long.MaxValue`` or a product of its
inputs.  :func:`scan_size_estimate` checks that precondition (one
``HadoopFsRelation`` leaf under projections and filters only) and
returns ``None`` for every other plan, so neither shortcut can fire on
an input it cannot bound.

Correctness posture: a repartition or coalesce changes only row
placement.  Every oracled query in this engine aggregates with exact
integer/decimal arithmetic or per-row expressions, both order- and
partitioning-independent, so plans change shape without moving a
single output bit (re-verified by the parity sweep at sf0.01 and sf0.1
over every key each operator touches — see OPTIMIZATION_r11.md for
fan_out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

#: logical nodes that keep a file scan's size estimate an upper bound
_SCAN_WRAPPERS = ("Project", "Filter")


def scan_size_estimate(df: DataFrame) -> int | None:
    """The optimizer's size estimate (bytes) of ``df`` when its optimized
    plan is one file scan under projections and filters only; ``None``
    for any other plan (joins, generates, aggregates, cached or
    in-memory relations), whose estimate bounds nothing."""
    plan = df._jdf.queryExecution().optimizedPlan()
    node = plan
    while node.nodeName() in _SCAN_WRAPPERS:
        node = node.children().apply(0)
    if (
        node.nodeName() != "LogicalRelation"
        or node.relation().getClass().getSimpleName() != "HadoopFsRelation"
    ):
        return None
    return int(str(plan.stats().sizeInBytes()))


def fan_out(df: DataFrame, *keys: "Column | str") -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism by
    hash of ``keys`` — a no-op when the plan is already at least that
    wide (production scans) or when parallelism is 1 (nothing to gain).

    ``keys`` must be stable, high-cardinality columns of ``df``.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if n <= 1:
        return df
    # Production fast path (r11 VERDICT item 5): deciding "already wide
    # enough" via ``df.rdd.getNumPartitions()`` materializes the full
    # logical→physical conversion on the driver — on a 100 TB catalog
    # that includes listing every input file.  For a file scan the size
    # estimate divided by the scan split size bounds the partition count
    # from BELOW (Spark packs at most maxPartitionBytes per split), so
    # when it alone clears defaultParallelism the exchange is provably a
    # no-op.  Other plans and small scans fall through to the exact
    # check, whose driver cost is bounded by their size.
    est = scan_size_estimate(df)
    max_split = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if est is not None and est // max_split >= n:
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *keys)


def narrow(df: DataFrame) -> DataFrame:
    """``df.coalesce(1)`` when ``df`` is a file scan whose size estimate is
    at or under ``spark.sql.autoBroadcastJoinThreshold``; ``df`` itself
    otherwise (larger or non-scan inputs keep their plans, and a
    threshold of -1 disables the move).  Idempotent: a narrowed frame is
    no longer a bare scan."""
    est = scan_size_estimate(df)
    threshold = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if est is None or est > threshold:
        return df
    return df.coalesce(1)
