"""Incremental compare-judges / by-question maintenance — the
streaming twin of :func:`plans.fixture_queries.q_compare_judges` (the
20th maintainer; with streaming/experiment_stats.py it puts an
incremental door on BOTH round-9 serving composites, so every
driver-oracled serving composite in the repo now has one).

Each micro-batch is counted into the compare-judges cell tables with the
batch endpoints' own builders (serving/stats.py):

* ``judge_cells (judge_model, score, n)`` — non-NULL-score judgments of
  experiment answers, keyed on ROUND(score, 5)
  (``state.SCORE_CELL_PRECISION`` — identity for every in-contract
  score, a 10^5+1-per-judge hard bound against adversarial float
  streams) and summed into the state (:func:`streaming.state.sum_cells`)
* ``byq_cells (question_id, …)`` — the by-question fold: course/area/
  config of the MIN answer id, mcq_correct of the MAX answer id with a
  non-NULL value, additive answer_count / judgment_count / exact
  score_sum; merged with :func:`serving.stats.merge_byq`, which gives
  the same cells for any split because the fold key (answer id) is total

and two appended routing tables: ``exp_ids (answer_id)`` — the
experiment's answer ids (NO error or model filter — compare-judges'
semi-join is experiment-only, ref experiment_stats.py:117-136) — and
``q_map (answer_id, question_id)``, the model-filtered answers' question
routing for judgment folds.

The served report is the batch endpoints' own sections
(:func:`serving.stats.judge_sections`) over the state, closed by the
shared :func:`serving.stats.flatten_compare_judges` — drained output is
CELL-IDENTICAL to q_compare_judges over the union of all batches for
ANY micro-batch split (tests/test_streaming_judge_stats.py; score sums
are binary-exact by the projection's 1/32 quantization — the
dashboard-maintainer exactness contract).

Contract: answers and judgments arrive exactly once; a judgment no
earlier than its answer (generate→judge ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.serving.stats import (
    _by_judge,
    _filtered_answers,
    byq_cells,
    flatten_compare_judges,
    judge_cells,
    judge_sections,
    merge_byq,
    question_answers,
)
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
    sum_cells,
)

STATE_TABLES = ("exp_ids", "judge_cells", "q_map", "byq_cells")

_SCHEMAS = {
    "exp_ids": "answer_id long",
    "judge_cells": "judge_model string, score double, n long",
    "q_map": "answer_id long, question_id string",
    "byq_cells": (
        "question_id string, first_id long, course string, area string, "
        "config string, mc_id long, mcq_correct boolean, answer_count long, "
        "judgment_count long, score_sum double"
    ),
}


def judge_stats_fold_answers(
    state: dict[str, DataFrame | None],
    batch: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    model_name: str | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new answers into the state cells."""
    st = {t: or_empty(batch.sparkSession, state.get(t), s) for t, s in _SCHEMAS.items()}
    exp_ids = batch.filter(F.col("experiment_id") == experiment_id).select(
        F.col("id").alias("answer_id")
    )
    enr = persist_slot(
        question_answers(_filtered_answers(batch, experiment_id, model_name), variants, questions),
        "jstats.enr",
    )
    return {
        **st,
        "exp_ids": st["exp_ids"].unionByName(exp_ids),
        "q_map": st["q_map"].unionByName(enr.select(F.col("id").alias("answer_id"), "question_id")),
        "byq_cells": merge_byq(st["byq_cells"].unionByName(byq_cells(answers=enr))),
    }


def judge_stats_fold_judgments(
    state: dict[str, DataFrame | None],
    batch: DataFrame,
    *,
    judge_model: str | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new judgments.  Only the cell KEY is
    quantized; the by-question score_sum stays raw — it is one row per
    question, never a cell-count concern."""
    st = {t: or_empty(batch.sparkSession, state.get(t), s) for t, s in _SCHEMAS.items()}
    scored = persist_slot(batch.filter(F.col("score").isNotNull()), "jstats.scored")
    routed = _by_judge(scored, judge_model).select("answer_id", "score").join(st["q_map"], "answer_id")
    return {
        **st,
        "judge_cells": sum_cells(
            st["judge_cells"], judge_cells(scored, st["exp_ids"]), ("judge_model", "score")
        ),
        "byq_cells": merge_byq(st["byq_cells"].unionByName(byq_cells(judgments=routed))),
    }


def judge_stats_report(state: dict[str, DataFrame | None]) -> DataFrame:
    """Serve the flattened compare-judges + by-question payload off the
    maintained cells: the batch endpoints' sections, closed by the
    shared flatten."""
    if any(state.get(t) is None for t in STATE_TABLES):
        raise ValueError("no judge-stats state yet")
    return flatten_compare_judges(**judge_sections(state))


def start_streaming_judge_stats(
    answers_stream: DataFrame,
    judgments_source: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    experiment_id: int,
    model_name: str | None = None,
):
    """Maintain the cells under a micro-batched ANSWER stream; each
    trigger folds that batch's judgments from ``judgments_source`` (the
    generate→judge ordering).  Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "jstats.batch")
        st = judge_stats_fold_answers(
            state,
            batch,
            variants,
            questions,
            experiment_id=experiment_id,
            model_name=model_name,
        )
        jbatch = judgments_source.join(
            batch.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        return judge_stats_fold_judgments(st, jbatch)

    return start_fold(answers_stream, fold, STATE_TABLES, read_state, write_state)
