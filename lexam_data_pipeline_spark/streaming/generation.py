"""Streaming LLM generation (SURVEY §2.9 ST1/ST3 streaming form).

The batch pipeline (pipeline/generation.py) processes a fixed working
set; this wrapper runs the SAME plan incrementally over a stream of
variant files — new exam variants land as parquet drops, each micro-batch
flows through prompt-build → LLM map → extraction, and ``foreachBatch``
appends through the idempotent sink (anti-join on deterministic ids), so:

* re-delivered input (file re-listing, task retry) produces no duplicate
  answer rows — the ST3 exactly-once-ish story, now under streaming
  re-delivery semantics too;
* the sink consulted is the LIVE answers table, so a restart resumes
  where it stopped with no checkpoint-state coupling to results
  (the checkpoint only tracks source offsets).

At 100 TB this is the shape of a continuous corpus-annotation service:
bounded micro-batches (`maxFilesPerTrigger`), LLM-call parallelism bounded
by ``parallelism`` partitions per batch, progress via the same
accumulators the batch path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lexam_data_pipeline_spark.model import VARIANTS_SCHEMA
from lexam_data_pipeline_spark.pipeline.experiment import ExperimentStore
from lexam_data_pipeline_spark.pipeline.generation import run_generation


def read_variants_stream(
    spark: SparkSession, variants_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(VARIANTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(variants_dir)
    )


def start_streaming_generation(
    variants_stream: DataFrame,
    questions: DataFrame,
    experiment: dict,
    store: ExperimentStore,
    *,
    client_spec: dict,
    parallelism: int | None = None,
    completed_acc=None,
    failed_acc=None,
):
    """Run generation over a variants stream, appending new answer rows
    through the idempotent sink.  Drains the available input and stops
    (a batch-like run of the streaming plan; streaming/state.py,
    Triggers).  Returns the StreamingQuery."""

    def process_batch(batch_variants: DataFrame, batch_id: int) -> None:
        new_rows = run_generation(
            experiment,
            batch_variants,
            questions,
            client_spec=client_spec,
            existing_answers=store.answers(),
            completed_acc=completed_acc,
            failed_acc=failed_acc,
            parallelism=parallelism,
        )
        store.append_answers(new_rows)

    return (
        variants_stream.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_judging(
    answers_stream: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    experiment: dict,
    judge_model: str,
    store: ExperimentStore,
    *,
    client_spec: dict,
    parallelism: int | None = None,
):
    """Judging over a stream of answer rows (e.g. the generation sink's
    output directory watched as a file stream): each micro-batch anti-joins
    the LIVE judgments sink per judge, so re-delivered answers or restarts
    never double-judge — the same ST3 shape as streaming generation.
    Drains the available input and stops.  Returns the StreamingQuery."""
    from lexam_data_pipeline_spark.pipeline.judging import run_judging

    def process_batch(batch_answers: DataFrame, batch_id: int) -> None:
        new_rows = run_judging(
            experiment,
            batch_answers,
            variants,
            questions,
            judge_model,
            client_spec=client_spec,
            existing_judgments=store.judgments(),
            parallelism=parallelism,
        )
        store.append_judgments(new_rows)

    return (
        answers_stream.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
