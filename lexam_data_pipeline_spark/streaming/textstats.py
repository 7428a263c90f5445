"""Streaming readability maintenance: fold each micro-batch of
documents into a persistent per-source (n_docs, words, sentences,
syllables) state table, and serve q_readability's Flesch report off
that state.

The streaming face of the text-quality tier (q_readability in
plans.fixture_queries): a corpus ingests continuously, and the
per-source quality dashboard should NOT rescan it per refresh.  All
four statistics are integer counts — associative, commutative, exactly
mergeable — so after draining ANY micro-batch split of the corpus the
state is cell-identical to the batch aggregate and the served Flesch
rows EQUAL q_readability's batch output row-for-row
(tests/test_streaming_textstats.py proves both equalities).

Per-trigger cost: one regexp-count aggregate over the batch (output
≤ |sources| rows) plus a |sources|-row state merge — independent of
corpus volume.  State contract: streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_COLUMNS = ("source", "n_docs", "words", "sentences", "syllables")
STATE_TABLES = ("counts",)


def batch_counts(batch: DataFrame) -> DataFrame:
    """Per-source integer count sums of one batch — the exact posture
    of q_readability's aggregate (shared helper:
    functions/text.readability_counts, so the regexes and floors cannot
    diverge between the batch key and this fold)."""
    from lexam_data_pipeline_spark.functions.text import readability_counts

    return readability_counts(batch)


def readability_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Cell-wise sum of the prior state and the batch's counts.  Pure
    batch logic — the streaming loop calls it per trigger."""
    fresh = batch_counts(batch)
    if state is None:
        return fresh.select(*STATE_COLUMNS)
    return (
        state.select(*STATE_COLUMNS)
        .unionByName(fresh)
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("words").alias("words"),
            F.sum("sentences").alias("sentences"),
            F.sum("syllables").alias("syllables"),
        )
    )


def readability_report(state: DataFrame) -> DataFrame:
    """Serve the Flesch report off the maintained state — the
    q_readability closing over the same integer totals."""
    wd = F.col("words").cast("double")
    flesch = (
        F.lit(206.835)
        - 1.015 * wd / F.col("sentences").cast("double")
        - 84.6 * F.col("syllables").cast("double") / wd
    )
    return state.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("words").cast("bigint").alias("words"),
        F.col("sentences").cast("bigint").alias("sentences"),
        F.col("syllables").cast("bigint").alias("syllables"),
        F.round(F.when(F.col("words") > 0, flesch), 4).alias("flesch"),
    ).orderBy("source")


def start_streaming_readability(
    stream: DataFrame, read_state: ReadState, write_state: WriteState
):
    """Maintain the per-source count state under a micro-batched
    document stream.  Returns the StreamingQuery."""
    return start_fold(
        stream,
        lambda st, batch: {"counts": readability_merge(st["counts"], batch)},
        STATE_TABLES,
        read_state,
        write_state,
    )
