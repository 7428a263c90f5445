"""Streaming-ingest deduplication (north star: a training-data pipeline
ingests continuously; duplicates must be dropped ON ARRIVAL, not in a
nightly batch).

Streaming twin of :func:`lexam_data_pipeline_spark.ml.dedup.q_dedup_exact`
— same identity (the 128-bit content hash), incrementalized:

* ``stream_dedup_exact`` — ``dropDuplicates`` on the content hash.
  Exactly-once emission of first-seen documents, but state holds every
  hash ever seen — correct and acceptable while hash cardinality × 16 B
  fits the state store.
* ``stream_dedup_exact_within_watermark`` — the 100 TB posture:
  ``dropDuplicatesWithinWatermark`` bounds state to the watermark
  horizon.  Duplicates virtually always arrive close together in ingest
  time (re-crawls, retry storms, double-submits), so a horizon of hours
  catches them while the state store stays O(arrival rate × horizon).
  Far-apart duplicates are the batch tiers' job (``ml/dedup``) — this is
  the standard stream/batch split, not a shortcut.

State is keyed by the 16-byte hash, never the document body — the same
shuffle-weight rule as the batch tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: schema of the documents fixture (catalog-normalized)
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


def read_documents_stream(
    spark: SparkSession, docs_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a directory of documents parquet files
    (micro-batch per file, same harness convention as events)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )


def with_content_hash(docs: DataFrame) -> DataFrame:
    """The dedup identity: md5 of the body (16 B of state per distinct
    document, same as the batch tier's group key)."""
    return docs.withColumn("content_hash", F.md5(F.col("text")))


def stream_dedup_exact(docs: DataFrame) -> DataFrame:
    """First-seen-wins exact dedup across ALL micro-batches (unbounded
    state; see module docstring for when that's acceptable)."""
    return with_content_hash(docs).dropDuplicates(["content_hash"])


def stream_dedup_exact_within_watermark(
    docs: DataFrame,
    *,
    event_time_col: str = "ingest_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exact dedup with state bounded by the watermark horizon.

    ``event_time_col`` must be an event-time timestamp column on the
    stream (for ingest dedup, the arrival time stamped at the source).
    State per key is dropped once the watermark passes it, so the store
    holds O(arrival rate × horizon) hashes regardless of corpus size.
    """
    return (
        docs.withWatermark(event_time_col, watermark)
        .withColumn("content_hash", F.md5(F.col("text")))
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def stream_curate_corpus(
    docs: DataFrame,
    *,
    min_words: int = 25,
    max_words: int = 80,
    sample_rate: float | None = None,
) -> DataFrame:
    """Streaming twin of :func:`lexam_data_pipeline_spark.ml.curation.
    curate_corpus` — curate ON ARRIVAL instead of in a nightly batch.

    The stateless stages are literally the batch tier's Column
    expressions (quality gate, PII redaction, md5-threshold sample);
    structured streaming runs map-only expressions unchanged, so batch
    and stream cannot drift.  The one stateful stage swaps the batch
    "min doc_id per content hash" window (a blocking operation over the
    whole corpus) for first-SEEN-wins ``dropDuplicates`` state — the
    standard batch→stream policy shift, keyed by the same 16-byte hash.

    Emits ``doc_id, lang, n_words, clean_text`` (redacted body).
    """
    from lexam_data_pipeline_spark.functions.text import word_count
    from lexam_data_pipeline_spark.ml.curation import hash_sample, redact_pii

    gated = docs.withColumn("n_words", word_count(F.col("text")).cast("int")).where(
        F.col("n_words").between(min_words, max_words)
    )
    deduped = with_content_hash(gated).dropDuplicates(["content_hash"])
    if sample_rate is not None:
        deduped = hash_sample(deduped, F.col("doc_id"), sample_rate)
    return deduped.select(
        "doc_id", "lang", "n_words", redact_pii(F.col("text")).alias("clean_text")
    )


def start_streaming_decontamination(
    docs_stream: DataFrame,
    benchmark: DataFrame,
    sink,
    *,
    n: int = 4,
):
    """Decontaminate ON ARRIVAL: each micro-batch runs the batch
    :func:`lexam_data_pipeline_spark.ml.decontam.decontaminate` operator
    against the static benchmark and hands only CLEAN documents to
    ``sink`` — the ``foreachBatch`` pattern this repo uses wherever a
    streaming stage needs a multi-step batch plan (see
    streaming/generation.py).

    Absence-of-overlap cannot be proven by an append-mode stream join
    (a doc is clean only when NONE of its grams hit), so the per-batch
    anti-join is the correct streaming shape; the benchmark gram set is
    broadcast once per batch and the batch is bounded by the trigger,
    exactly like the 100 TB batch posture.  Drains the available input
    and stops (streaming/state.py, Triggers).  Returns the
    StreamingQuery.
    """
    from lexam_data_pipeline_spark.ml.decontam import decontaminate

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        dirty = decontaminate(batch_docs, benchmark, n=n).select("doc_id")
        sink(batch_docs.join(dirty, "doc_id", "left_anti"))

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
