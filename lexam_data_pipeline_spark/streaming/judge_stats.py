"""Incremental compare-judges / by-question maintenance — the
streaming twin of :func:`plans.fixture_queries.q_compare_judges` (the
20th maintainer; with streaming/experiment_stats.py it puts an
incremental door on BOTH round-9 serving composites, so every
driver-oracled serving composite in the repo now has one).

State cells (all additive or order-fold-mergeable):

* ``exp_ids (answer_id)`` — experiment-filtered answer ids (NO error or
  model filter — compare-judges' semi-join is experiment-only, ref
  experiment_stats.py:117-136)
* ``judge_cells (judge_model, score, n)`` — non-NULL-score judgments of
  experiment answers, keyed on ROUND(score, 5)
  (``experiment_stats.SCORE_CELL_PRECISION`` — identity for every
  in-contract score, a 10^5+1-per-judge hard bound against adversarial
  float streams) → judged/avg and the exact per-judge median (the
  reference re-fetches every judge's scores per median; here the cells
  ARE that multiset, compressed)
* ``q_map (answer_id, question_id)`` — the model-filtered answers'
  question routing for judgment folds
* ``byq_cells (question_id, …)`` — the by-question fold state: course/
  area/config carried with the MIN answer id seen (the reference folds
  in answer-id order: FIRST answer wins), mcq_correct with the MAX
  non-NULL-valued answer id (LAST non-NULL wins), plus the additive
  answer_count / judgment_count / exact score_sum.  min_by/max_by over
  the union of state and batch re-derives the same fold for any split —
  order-fold-mergeable because the fold key (answer id) is total.

Serving rebuilds the :func:`serving.stats.compare_judges` and
:func:`serving.stats.stats_by_question` frame shapes from the cells and
pushes them through the SHARED
:func:`serving.stats.flatten_compare_judges` — drained output is
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
from lexam_data_pipeline_spark.serving.stats import flatten_compare_judges
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
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


def _merge_byq(cells: DataFrame) -> DataFrame:
    """Merge by-question fold rows: min-id-carried firsts, max-non-NULL
    -id-carried last mcq_correct, additive counters."""
    return cells.groupBy("question_id").agg(
        F.min("first_id").alias("first_id"),
        F.min_by("course", "first_id").alias("course"),
        F.min_by("area", "first_id").alias("area"),
        F.min_by("config", "first_id").alias("config"),
        F.max("mc_id").alias("mc_id"),
        F.max_by("mcq_correct", F.when(F.col("mc_id").isNotNull(), F.col("mc_id"))).alias(
            "mcq_correct"
        ),
        F.sum("answer_count").cast("long").alias("answer_count"),
        F.sum("judgment_count").cast("long").alias("judgment_count"),
        F.sum("score_sum").alias("score_sum"),
    )


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
    exp = batch.filter(F.col("experiment_id") == experiment_id)
    exp_ids1 = st["exp_ids"].unionByName(exp.select(F.col("id").alias("answer_id")))

    fa = exp.filter(F.col("error").isNull())
    if model_name:
        fa = fa.filter(F.col("model_name") == model_name)
    dims = variants.select(F.col("id").alias("variant_id"), "question_id", "config").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), "course", "area")),
        "question_id",
        "left_outer",
    )
    enr = persist_slot(
        fa.join(F.broadcast(dims), "variant_id", "left_outer").withColumn(
            "question_id", F.coalesce(F.col("question_id"), F.lit("unknown"))
        ),
        "jstats.enr",
    )
    q_map1 = st["q_map"].unionByName(
        enr.select(F.col("id").alias("answer_id"), "question_id")
    )
    batch_cells = enr.groupBy("question_id").agg(
        F.min("id").alias("first_id"),
        F.min_by("course", "id").alias("course"),
        F.min_by("area", "id").alias("area"),
        F.min_by("config", "id").alias("config"),
        F.max(F.when(F.col("mcq_correct").isNotNull(), F.col("id"))).alias("mc_id"),
        F.max_by("mcq_correct", F.when(F.col("mcq_correct").isNotNull(), F.col("id"))).alias(
            "mcq_correct"
        ),
        F.count(F.lit(1)).alias("answer_count"),
        F.lit(0).cast("long").alias("judgment_count"),
        F.lit(0.0).alias("score_sum"),
    )
    byq_cells1 = _merge_byq(st["byq_cells"].unionByName(batch_cells))
    return {**st, "exp_ids": exp_ids1, "q_map": q_map1, "byq_cells": byq_cells1}


def judge_stats_fold_judgments(
    state: dict[str, DataFrame | None],
    batch: DataFrame,
    *,
    judge_model: str | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new judgments."""
    st = {t: or_empty(batch.sparkSession, state.get(t), s) for t, s in _SCHEMAS.items()}
    scored = persist_slot(
        batch.filter(F.col("score").isNotNull()), "jstats.scored"
    )
    from lexam_data_pipeline_spark.streaming.experiment_stats import (
        SCORE_CELL_PRECISION,
    )

    # cell KEY quantization only (identity in-contract, state bound
    # against adversarial floats); the by-question score_sum below stays
    # raw — it is one row per question, never a cell-count concern
    judge_cells1 = (
        st["judge_cells"]
        .unionByName(
            scored.join(st["exp_ids"], "answer_id", "left_semi")
            .groupBy(
                "judge_model",
                F.round("score", SCORE_CELL_PRECISION).alias("score"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        .groupBy("judge_model", "score")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    jb = scored
    if judge_model:
        jb = jb.filter(F.col("judge_model") == judge_model)
    delta = (
        jb.select("answer_id", "score")
        .join(st["q_map"], "answer_id")
        .groupBy("question_id")
        .agg(
            F.lit(None).cast("long").alias("first_id"),
            F.lit(None).cast("string").alias("course"),
            F.lit(None).cast("string").alias("area"),
            F.lit(None).cast("string").alias("config"),
            F.lit(None).cast("long").alias("mc_id"),
            F.lit(None).cast("boolean").alias("mcq_correct"),
            F.lit(0).cast("long").alias("answer_count"),
            F.count(F.lit(1)).alias("judgment_count"),
            F.sum("score").alias("score_sum"),
        )
    )
    # judgment deltas only touch questions already in byq_cells (their
    # answers arrived first), and min_by/max_by ignore NULL fold keys —
    # the NULL-carrying delta rows cannot displace the answer-side folds
    byq_cells1 = _merge_byq(st["byq_cells"].unionByName(delta))
    return {**st, "judge_cells": judge_cells1, "byq_cells": byq_cells1}


def judge_stats_report(state: dict[str, DataFrame | None]) -> DataFrame:
    """Serve the flattened compare-judges + by-question payload off the
    maintained cells."""
    st = {t: state.get(t) for t in STATE_TABLES}
    if any(v is None for v in st.values()):
        raise ValueError("no judge-stats state yet")

    # per-judge exact medians: the batch key's percentile(score, 0.5)
    # with the cell count as frequency, in the same aggregate
    judges = (
        st["judge_cells"]
        .groupBy("judge_model")
        .agg(
            F.sum("n").cast("long").alias("judged"),
            F.round(F.sum(F.col("score") * F.col("n")) / F.sum("n"), 4).alias(
                "avg_score"
            ),
            F.round(F.percentile("score", F.lit(0.5), F.col("n")), 4).alias(
                "median_score"
            ),
        )
        .orderBy("judge_model")
    )
    byq = st["byq_cells"].select(
        "question_id",
        "course",
        "area",
        "config",
        "mcq_correct",
        F.when(
            F.col("judgment_count") > 0,
            F.round(F.col("score_sum") / F.col("judgment_count"), 4),
        ).alias("avg_score"),
        "judgment_count",
        "answer_count",
    )
    return flatten_compare_judges(judges, byq)


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
