"""Table catalog: loading the fixture star schema and the LEXam model.

Scans are plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition pruning natively (reference analog: Postgres
B-tree indexes, SURVEY.md §4). The one normalization done here is the
``events.ts`` column: the fixture stores parquet ``timestamp[ns]`` which
Spark cannot read natively, so the session enables
``spark.sql.legacy.parquet.nanosAsLong`` and this module converts the raw
nanos ``long`` into a microsecond-precision timestamp — the same truncation
DuckDB applies, so oracle comparisons agree to the microsecond.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

#: Scan fan-out keys (guide §2 stragglers): the fixture tables are
#: single-row-group parquet files, so every scan is exactly ONE task no
#: matter what ``maxPartitionBytes`` says — and every narrow stage
#: chained onto the scan (md5 fan-outs, decimal moment products, Arrow
#: codec kernels, shingle explodes, partial aggregation) runs on one
#: core while the other 31 idle.  ``fan_out`` (operators/partitioning)
#: hash-repartitions such a scan up to the session's default
#: parallelism, keyed on the table's stable unique id so the exchange
#: is deterministic under task retries.  It is a NO-OP whenever the
#: scan already has >= defaultParallelism partitions — i.e. on any
#: production table with real row groups — so this is a local-layout
#: fix that costs production plans nothing.  Only fact-sized tables
#: fan out; the dimension tables ride broadcast joins where an extra
#: exchange under the BroadcastExchange would be pure overhead.
FANOUT_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Resolved-DataFrame cache keyed by (application id, sf_dir, table).
#: The fixture tables are immutable, so the logical plan (including its
#: file listing and inferred schema) can be built once per session and
#: reused by every query — the local analog of a metastore catalog entry.
#: Without it each of the ~76 contract queries re-lists the directory and
#: re-reads parquet footers on every call (~0.1 s of driver latency per
#: table per query, pure overhead at any scale).
_TABLE_CACHE: dict[tuple[str, str, str, bool], DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, fan: bool = False
) -> DataFrame:
    """Load one fixture table, normalizing types where needed.

    ``fan=True`` applies the scan fan-out (see :data:`FANOUT_KEYS`) —
    an OPT-IN per call site, because the extra exchange + AQE stage is
    only worth it where heavy narrow work rides the scan: the measured
    break-even on this fixture is roughly >1 s of post-scan map/partial
    aggregation work (full interleaved A/B table in
    OPTIMIZATION_r11.md; e.g. Arrow codec decode 3.8→1.3 s ON, but
    multi-scan HLL profiling 2.0→3.2 s ON)."""
    # Engine-wide UTC semantics: fixture timestamps are TZ-naive and every
    # consumer (including the DuckDB oracle) treats them as wall-clock.  A
    # caller-provided session in a non-UTC zone would otherwise shift
    # year()/date_trunc() results.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    do_fan = fan and name in FANOUT_KEYS
    cache_key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
        do_fan,
    )
    cached = _TABLE_CACHE.get(cache_key)
    if cached is not None:
        return cached
    if name == "events":
        # Set at runtime too: a caller-provided session (e.g. the driver's)
        # won't have the session factory's config, and without it Spark
        # rejects the nanos timestamp column outright.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → micros truncation (identical to DuckDB's parquet reader).
        # Integer `div`, NOT `/`: float division routes ~1.7e18 nanos
        # through a double (exact only to 2^53) and lands ±1 µs off.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Parquet `timestamp[us]` (no UTC flag) arrives as TIMESTAMP_NTZ when
    # the reader's NTZ inference is on — a session-level setting this
    # engine can't assume.  Under the UTC pin above the cast is the
    # identity on the stored micros, and it restores the TIMESTAMP type
    # that `unix_micros`/interval arithmetic require.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if do_fan:
        from lexam_data_pipeline_spark.operators.partitioning import fan_out

        df = fan_out(df, FANOUT_KEYS[name])
    _TABLE_CACHE[cache_key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def local_rows(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver-side rows as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>, schema)`` parallelizes the list
    as a Python RDD: every action over it runs ``defaultParallelism``
    tasks through Python workers (on a 4-core VM, about 1 s of worker
    CPU per call for an 11-row frame).  The same rows sent as one Arrow
    table become a ``LocalRelation`` instead: no Python worker, no job to
    build it, and the optimizer can fold or prune it (an empty relation
    removes the joins against it).

    Values go through ``schema.toInternal`` first, the conversion the
    list path applies, so ``None``, NaN, arrays, nested structs, maps and
    naive ``datetime`` values (local time, like the list path) arrive as
    the same Spark values.  ``schema`` is a ``StructType`` or a DDL
    string; the frame's schema is exactly the declared one, nullability
    included.  Works whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says: an Arrow table always takes the Arrow path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    internal = [schema.toInternal(row) for row in rows]
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([row[i] for row in internal], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
