"""Structured Streaming surface (SURVEY §2.9, §7.7).

The reference is batch-only; its streaming-shaped traits (progress
telemetry ST2, incremental idempotency ST3) have first-class Spark
equivalents, and the `events` fixture carries the windowed-aggregation
extension.  Everything here is the *streaming twin* of an oracle-checked
batch query in :mod:`lexam_data_pipeline_spark.plans.fixture_queries`:

| streaming builder      | batch twin          | semantics              |
|------------------------|---------------------|------------------------|
| ``tumbling_counts``    | q_events_tumbling   | 1 h tumbling windows   |
| ``sliding_counts``     | q_events_sliding    | 1 h / 30 min sliding   |
| ``session_counts``     | q_session_window    | 30 min gap sessions    |

Each builder takes any events DataFrame — batch or stream — so tests can
assert stream-equals-batch on identical input, which is Structured
Streaming's own correctness model (incrementalized batch query).

Scale notes: all three are watermarked stateful aggregations; state-store
size is bounded by (watermark horizon / slide) × key cardinality.  The
2-hour default watermark bounds state to 2 windows of live keys per
event_type; session state is bounded per (user, open session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# exact decimal sum cast to double — the batch queries' parity rule
# (order-independent across micro-batches)
from lexam_data_pipeline_spark.plans.fixture_queries import _dec_sum

#: schema of the events fixture after catalog normalization (ts in micros)
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

DEFAULT_WATERMARK = "2 hours"


def read_events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    The micro-batch boundary is the file boundary
    (``maxFilesPerTrigger=1``) — the test harness splits the fixture into
    ordered chunk files to drive deterministic multi-batch runs."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )


def tumbling_counts(events: DataFrame, watermark: str | None = DEFAULT_WATERMARK) -> DataFrame:
    """1-hour tumbling count+sum per event_type (twin of
    q_events_tumbling; ``hour_ts`` = window start = date_trunc hour)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("hour_ts"), "event_type", "n_events", "total_value")
    )


def sliding_counts(events: DataFrame, watermark: str | None = DEFAULT_WATERMARK) -> DataFrame:
    """1-hour windows every 30 minutes (twin of q_events_sliding)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "total_value")
    )


def session_counts(events: DataFrame, watermark: str | None = DEFAULT_WATERMARK) -> DataFrame:
    """30-minute-gap sessions per user (twin of q_session_window): one row
    per session with start/end and event count."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    *,
    output_mode: str = "complete",
) -> "StreamingQueryHandle":
    """Run a streaming aggregation into an in-memory table and block until
    every available input file is processed.  Returns a handle exposing
    the result table and the live query (for feeding more files)."""
    query = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    query.processAllAvailable()
    return StreamingQueryHandle(name=name, query=query)


class StreamingQueryHandle:
    def __init__(self, name: str, query):
        self.name = name
        self.query = query

    def table(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.name)

    def process_new_input(self) -> None:
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()
