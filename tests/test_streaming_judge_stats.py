"""Incremental compare-judges / by-question maintenance must serve a
report cell-identical to the batch q_compare_judges flatten after
draining ANY micro-batch split — including the answer-id fold
semantics (FIRST answer's config, LAST non-NULL mcq_correct) when the
deciding answers land in DIFFERENT batches, which is the part an
append-order fold gets wrong."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.plans.fixture_queries import (
    _lexam_answers_projection,
    q_compare_judges,
)
from lexam_data_pipeline_spark.streaming.judge_stats import (
    STATE_TABLES,
    judge_stats_fold_answers,
    judge_stats_fold_judgments,
    judge_stats_report,
    start_streaming_judge_stats,
)


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


def _drain(holder, proj, k: int, order=None):
    questions, variants, answers, judgments = proj
    for i in order if order is not None else range(k):
        a_chunk = answers.filter(F.pmod(F.col("id"), F.lit(k)) == i)
        st = judge_stats_fold_answers(
            holder.state(STATE_TABLES), a_chunk, variants, questions,
            experiment_id=1, model_name="model-a",
        )
        j_chunk = judgments.join(
            a_chunk.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        st = judge_stats_fold_judgments(st, j_chunk)
        for t in STATE_TABLES:
            holder.write(t, st[t])
    return holder


@pytest.fixture(scope="module")
def proj(spark, sf_small):
    q, v, a, j = _lexam_answers_projection(spark, sf_small)
    return q, v, a.cache(), j.cache()


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.slowsuite
def test_drained_report_equals_batch_key(spark, sf_small, proj, k, state_store):
    holder = _drain(state_store(), proj, k)
    got = _rows(judge_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_compare_judges(spark, sf_small))
    assert got == want


@pytest.mark.slowsuite
def test_split_order_invariance(spark, sf_small, proj, state_store):
    holder = _drain(state_store(), proj, 3, order=(2, 0, 1))
    got = _rows(judge_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_compare_judges(spark, sf_small))
    assert got == want


def test_cross_batch_first_last_fold(spark, state_store):
    """The min-id/max-non-NULL-id folds must pick the right answer when
    the FIRST answer (config source) arrives in a LATER batch and the
    LAST non-NULL mcq_correct in an EARLIER one."""
    a_schema = (
        "id long, experiment_id int, variant_id long, model_name string, "
        "error string, extracted_letter string, mcq_correct boolean, "
        "input_tokens long, output_tokens long"
    )
    variants = spark.createDataFrame(
        [(10, "q1", "c-first"), (11, "q1", "c-later")],
        "id long, question_id string, config string",
    )
    questions = spark.createDataFrame(
        [("q1", "law", "Private")], "id string, course string, area string"
    )
    j_empty = spark.createDataFrame(
        [], "answer_id long, judge_model string, score double, "
        "input_tokens long, output_tokens long"
    )
    holder = state_store()
    # batch 1 carries the LATER answer (id 5, variant 11, mcq False)
    b1 = spark.createDataFrame(
        [(5, 1, 11, "m", None, "B", False, 1, 1)], a_schema
    )
    st = judge_stats_fold_answers(
        holder.state(STATE_TABLES), b1, variants, questions, experiment_id=1
    )
    st = judge_stats_fold_judgments(st, j_empty)
    for t in STATE_TABLES:
        holder.write(t, st[t])
    # batch 2 carries the FIRST answer (id 2, variant 10, mcq True)
    b2 = spark.createDataFrame(
        [(2, 1, 10, "m", None, "A", True, 1, 1)], a_schema
    )
    st = judge_stats_fold_answers(
        holder.state(STATE_TABLES), b2, variants, questions, experiment_id=1
    )
    st = judge_stats_fold_judgments(st, j_empty)
    for t in STATE_TABLES:
        holder.write(t, st[t])
    flat = judge_stats_report(holder.state(STATE_TABLES)).collect()
    cells = {
        (r["section"], r["key"], r["metric"]): (r["value_num"], r["value_str"])
        for r in flat
    }
    # config comes from answer id 2 (the global FIRST), even though it
    # arrived second; mcq_correct from answer id 5 (the global LAST)
    assert cells[("by_question", "q1", "config")][1] == "c-first"
    assert cells[("by_question", "q1", "mcq_correct")][0] == 0.0
    assert cells[("by_question", "q1", "answer_count")][0] == 2.0


@pytest.mark.slowsuite
def test_adversarial_scores_judge_cells_hard_bounded(spark, state_store):
    """Round-9 verdict item 5 (judge side): arbitrary-precision float
    scores snap onto the 1e-5 cell grid — per-judge cell count is
    hard-bounded, and the served per-judge avg/median stay within the
    quantization bound."""
    n = 10_000
    answers = spark.range(n).select(
        F.col("id"),
        F.lit(1).alias("experiment_id"),
        (F.col("id") % 31).alias("variant_id"),
        F.lit("m").alias("model_name"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("string").alias("extracted_letter"),
        F.lit(None).cast("boolean").alias("mcq_correct"),
        F.lit(1).cast("long").alias("input_tokens"),
        F.lit(1).cast("long").alias("output_tokens"),
    )
    judgments = spark.range(n).select(
        F.col("id").alias("answer_id"),
        F.lit("j").alias("judge_model"),
        (F.col("id") * F.lit(1e-7)).alias("score"),  # 10k distinct raws
        F.lit(1).cast("long").alias("input_tokens"),
        F.lit(1).cast("long").alias("output_tokens"),
    )
    variants = spark.createDataFrame(
        [(i, "q", "cfg") for i in range(31)],
        "id long, question_id string, config string",
    )
    questions = spark.createDataFrame(
        [("q", "law", "A")], "id string, course string, area string"
    )
    holder = state_store()
    for i in range(2):
        a_chunk = answers.filter(F.pmod(F.col("id"), F.lit(2)) == i)
        st = judge_stats_fold_answers(
            holder.state(STATE_TABLES), a_chunk, variants, questions, experiment_id=1
        )
        j_chunk = judgments.join(
            a_chunk.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        st = judge_stats_fold_judgments(st, j_chunk)
        for t in STATE_TABLES:
            holder.write(t, st[t])
    n_cells = len(holder.rows["judge_cells"])
    assert n_cells <= 101, n_cells  # 1e-5 grid over [0, 0.001]
    assert sum(r["n"] for r in holder.rows["judge_cells"]) == n
    flat = judge_stats_report(holder.state(STATE_TABLES)).collect()
    judged = next(
        r["value_num"] for r in flat
        if r["section"] == "judges" and r["metric"] == "judged"
    )
    assert judged == float(n)
    avg = next(
        r["value_num"] for r in flat
        if r["section"] == "judges" and r["metric"] == "avg_score"
    )
    true_avg = sum(i * 1e-7 for i in range(n)) / n
    assert abs(avg - round(true_avg, 4)) <= 1e-4


def test_streaming_drain_equals_batch(spark, sf_small, proj, tmp_path, state_store):
    """End-to-end through foreachBatch with maxFilesPerTrigger=1."""
    questions, variants, answers, judgments = proj
    chunk_dir = str(tmp_path / "answer_chunks_js")
    for i in range(3):
        answers.filter(F.pmod(F.col("id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(chunk_dir)
    stream = (
        spark.readStream.schema(answers.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    holder = state_store()
    q = start_streaming_judge_stats(
        stream, judgments, variants, questions,
        holder.read, holder.write,
        experiment_id=1, model_name="model-a",
    )
    q.awaitTermination(120)
    got = _rows(judge_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_compare_judges(spark, sf_small))
    assert got == want
