"""Incremental dashboard maintenance must serve a report row-identical
to the batch contract key (q_dashboard_suite) after draining ANY
micro-batch split — including the exact median computed over
the word-count histogram cells."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.plans.fixture_queries import (
    _lexam_projection,
    q_dashboard_suite,
)
from lexam_data_pipeline_spark.streaming.dashboard import (
    STATE_TABLES,
    dashboard_merge,
    dashboard_report,
    start_streaming_dashboard,
)

CONFIGS = ["mcq_4_choices", "open_question"]


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.slowsuite
def test_drained_report_equals_batch_key(spark, sf_small, k, state_store):
    questions, variants = _lexam_projection(spark, sf_small)
    holder = state_store()
    for i in range(k):
        cond = F.pmod(F.col("id").cast("bigint"), F.lit(k)) == i
        qb = questions.filter(cond)
        vb = variants.filter(
            F.pmod(F.col("question_id").cast("bigint"), F.lit(k)) == i
        )
        new_state = dashboard_merge(holder.state(STATE_TABLES), qb, vb, configs=CONFIGS)
        for t in STATE_TABLES:
            holder.write(t, new_state[t])
    got = _rows(dashboard_report(holder.state(STATE_TABLES)))
    want = _rows(q_dashboard_suite(spark, sf_small))
    assert got == want


def test_streaming_drain_equals_batch_key(spark, sf_small, tmp_path, state_store):
    """End-to-end through foreachBatch: the documents stream in 3 files;
    each batch derives its questions+variants via the same projection
    (a question's variants arrive atomically with it — the maintainer
    contract)."""
    docs = load_table(spark, sf_small, "documents")
    chunk_dir = str(tmp_path / "doc_chunks")
    for i in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(chunk_dir)

    from lexam_data_pipeline_spark.plans.fixture_queries import (
        _lexam_projection_from,
    )

    holder = state_store()
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )

    query = start_streaming_dashboard(
        stream,
        _lexam_projection_from,
        holder.read,
        holder.write,
        configs=CONFIGS,
    )
    query.awaitTermination(180)
    got = _rows(dashboard_report(holder.state(STATE_TABLES)))
    want = _rows(q_dashboard_suite(spark, sf_small))
    assert got == want
