"""Incremental /stats maintenance must serve a report cell-identical to
the batch q_experiment_stats flatten after draining ANY micro-batch
split of the answers/judgments streams — including the open-answer
semi-join discipline (a judgment counts only once its NULL-letter
answer is known) and the exact median computed over the score
cells."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.plans.fixture_queries import (
    _lexam_answers_projection,
    q_experiment_stats,
)
from lexam_data_pipeline_spark.streaming.experiment_stats import (
    STATE_TABLES,
    experiment_stats_fold_answers,
    experiment_stats_fold_judgments,
    experiment_stats_report,
    start_streaming_experiment_stats,
)


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


def _drain(holder, proj, k: int, order=None):
    questions, variants, answers, judgments = proj
    for i in order if order is not None else range(k):
        a_chunk = answers.filter(F.pmod(F.col("id"), F.lit(k)) == i)
        st = experiment_stats_fold_answers(
            holder.state(STATE_TABLES), a_chunk, variants, questions, experiment_id=1
        )
        # the generate→judge ordering: this trigger's judgments are the
        # ones referencing this trigger's answers
        j_chunk = judgments.join(
            a_chunk.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        st = experiment_stats_fold_judgments(st, j_chunk)
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
    got = _rows(experiment_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_experiment_stats(spark, sf_small))
    assert got == want


@pytest.mark.slowsuite
def test_split_order_invariance(spark, sf_small, proj, state_store):
    holder = _drain(state_store(), proj, 3, order=(2, 0, 1))
    got = _rows(experiment_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_experiment_stats(spark, sf_small))
    assert got == want


@pytest.mark.slowsuite
def test_judgment_lags_answer_by_a_trigger(spark, sf_small, proj, state_store):
    """Judgments folded one trigger AFTER their answers (the other legal
    ordering under the contract) must converge to the same cells."""
    questions, variants, answers, judgments = proj
    holder = state_store()
    k = 3
    prev_ids = None
    for i in range(k + 1):
        if i < k:
            a_chunk = answers.filter(F.pmod(F.col("id"), F.lit(k)) == i)
        else:
            a_chunk = answers.filter(F.lit(False))  # drain trigger
        st = experiment_stats_fold_answers(
            holder.state(STATE_TABLES), a_chunk, variants, questions, experiment_id=1
        )
        if prev_ids is not None:
            j_chunk = judgments.join(prev_ids, "answer_id", "left_semi")
            st = experiment_stats_fold_judgments(st, j_chunk)
        for t in STATE_TABLES:
            holder.write(t, st[t])
        prev_ids = a_chunk.select(F.col("id").alias("answer_id"))
    got = _rows(experiment_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_experiment_stats(spark, sf_small))
    assert got == want


def test_score_cell_quantization_is_identity_in_contract(spark):
    """ROUND(score, 5) must be the IDENTITY on every in-contract score:
    the reference's [[x.x]] single-decimal grid and the oracle fixture's
    1/32 grid (k/32 = k·3125/1e5 — exactly 5 decimal digits).  This is
    the lemma that makes cell-key quantization lossless for every
    fold-equality proof in this file."""
    from lexam_data_pipeline_spark.streaming.state import SCORE_CELL_PRECISION

    grid = [k / 32.0 for k in range(33)] + [k / 10.0 for k in range(11)]
    df = spark.createDataFrame([(s,) for s in grid], "s double")
    out = df.select(
        F.sum((F.round("s", SCORE_CELL_PRECISION) != F.col("s")).cast("int"))
    ).collect()[0][0]
    assert out == 0


@pytest.mark.slowsuite
def test_adversarial_scores_state_hard_bounded(spark, state_store):
    """Round-9 verdict item 5: a stream of arbitrary-precision float
    scores must NOT grow one cell per distinct float — the quantized key
    bounds cells at the 1e-5 grid, and the report still serves (no
    collect-guard raise) with avg within the 5e-6 quantization bound."""
    from lexam_data_pipeline_spark.streaming.experiment_stats import (
        experiment_stats_fold_answers,
        experiment_stats_fold_judgments,
        experiment_stats_report,
    )

    n = 20_000
    answers = spark.range(n).select(
        F.col("id"),
        F.lit(1).alias("experiment_id"),
        (F.col("id") % 97).alias("variant_id"),
        F.lit("m").alias("model_name"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("string").alias("extracted_letter"),
        F.lit(None).cast("boolean").alias("mcq_correct"),
        F.lit(1).cast("long").alias("input_tokens"),
        F.lit(1).cast("long").alias("output_tokens"),
    )
    # 20k DISTINCT raw doubles in [0, 0.002) — 7-decimal resolution, so
    # quantization is NOT identity here; they snap onto ≤ 201 grid points
    judgments = spark.range(n).select(
        F.col("id").alias("answer_id"),
        F.lit("j").alias("judge_model"),
        (F.col("id") * F.lit(1e-7)).alias("score"),
        F.lit(1).cast("long").alias("input_tokens"),
        F.lit(1).cast("long").alias("output_tokens"),
    )
    variants = spark.createDataFrame(
        [(i, "q") for i in range(97)], "id long, question_id string"
    )
    questions = spark.createDataFrame(
        [("q", "A", "C")], "id string, area string, course string"
    )
    holder = state_store()
    for i in range(2):
        a_chunk = answers.filter(F.pmod(F.col("id"), F.lit(2)) == i)
        st = experiment_stats_fold_answers(
            holder.state(STATE_TABLES), a_chunk, variants, questions, experiment_id=1
        )
        j_chunk = judgments.join(
            a_chunk.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        st = experiment_stats_fold_judgments(st, j_chunk)
        for t in STATE_TABLES:
            holder.write(t, st[t])
    n_cells = len(holder.rows["jscore_cells"])
    assert n_cells <= 201, n_cells  # 1e-5 grid over [0, 0.002]
    assert sum(r["n"] for r in holder.rows["jscore_cells"]) == n
    flat = experiment_stats_report(holder.state(STATE_TABLES), n_answers=1).collect()
    avg = next(
        r["value_num"] for r in flat
        if r["section"] == "open" and r["metric"] == "avg_score"
    )
    true_avg = sum(i * 1e-7 for i in range(n)) / n
    assert abs(avg - round(true_avg, 4)) <= 1e-4  # 4-dp edge round ± grid snap


def test_median_interpolation_formula(spark):
    """The cell median is Spark's percentile(0.5) with the cell count as
    frequency: even-count midpoint interpolated, odd-count exact value,
    empty → 0 after the reports' coalesce."""
    median = F.percentile("score", F.lit(0.5), F.col("n"))
    sets = {
        1: ([(0.5, 3)], 0.5),
        2: ([(0.0, 1), (1.0, 1)], 0.5),
        3: ([(0.0, 2), (0.25, 1), (1.0, 2)], 0.25),
        4: ([(0.0, 1), (0.25, 1), (0.75, 1), (1.0, 1)], 0.5),
    }
    cells = spark.createDataFrame(
        [(i, s, n) for i, (c, _) in sets.items() for s, n in c],
        "set int, score double, n long",
    )
    got = {r["set"]: r["m"] for r in cells.groupBy("set").agg(median.alias("m")).collect()}
    assert got == {i: want for i, (_, want) in sets.items()}
    empty = spark.createDataFrame([], "score double, n long")
    assert empty.agg(F.coalesce(median, F.lit(0.0))).first()[0] == 0.0


def test_reports_build_without_jobs(spark):
    """Both cell reports build lazily: the medians are percentile
    aggregates, so building a report runs no Spark job (no driver-side
    collect of the score cells)."""
    from lexam_data_pipeline_spark.streaming import experiment_stats, judge_stats

    cases = [
        (
            experiment_stats._SCHEMAS,
            experiment_stats.experiment_stats_report,
            {
                "overall": [(3, 1, 1, 2, 30, 30)],
                "open_names": [(2, "area", "A"), (3, "area", "A")],
                "variant_letters": [(1, "A")],
                "jscore_cells": [(0.25, 1), (0.75, 1)],
                "jtokens": [(4, 4)],
                "mcq_cells": [("area", "A", 1, 1)],
                "open_cells": [("area", "A", 0.25, 1), ("area", "A", 0.75, 1)],
            },
        ),
        (
            judge_stats._SCHEMAS,
            judge_stats.judge_stats_report,
            {
                "exp_ids": [(1,), (2,)],
                "judge_cells": [("j", 0.25, 1), ("j", 0.75, 1)],
                "q_map": [(1, "q"), (2, "q")],
                "byq_cells": [("q", 1, "c", "A", "open_question", None, None, 2, 2, 1.0)],
            },
        ),
    ]
    sc = spark.sparkContext
    for schemas, report, rows in cases:
        state = {t: spark.createDataFrame(r, schemas[t]) for t, r in rows.items()}
        grp = f"report-build-{report.__name__}"
        sc.setJobGroup(grp, "report build")
        try:
            df = report(state)
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(grp)
        assert not jobs, f"{report.__name__} ran {len(jobs)} job(s) at build"
        medians = [r["value_num"] for r in df.collect() if r["metric"] == "median_score"]
        assert medians == [0.5]


def test_zero_scores_report_equals_batch_empty_key(spark, sf_small, proj, state_store):
    """The zero-scores edge streams too (round-9 verdict item 2):
    experiment 2 under a judge that never ran ('judge-z'), n_answers=1 —
    the served report must equal q_experiment_stats_empty exactly, i.e.
    NO score_distribution and NO self_consistency rows (the reference's
    ``if scores:`` / ``n_answers > 1`` gates, experiment_stats.py:55-61
    and :87-89)."""
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_experiment_stats_empty,
    )

    questions, variants, answers, judgments = proj
    holder = state_store()
    for i in range(2):
        a_chunk = answers.filter(F.pmod(F.col("id"), F.lit(2)) == i)
        st = experiment_stats_fold_answers(
            holder.state(STATE_TABLES), a_chunk, variants, questions, experiment_id=2
        )
        j_chunk = judgments.join(
            a_chunk.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        st = experiment_stats_fold_judgments(st, j_chunk, judge_model="judge-z")
        for t in STATE_TABLES:
            holder.write(t, st[t])
    got = _rows(experiment_stats_report(holder.state(STATE_TABLES), n_answers=1))
    want = _rows(q_experiment_stats_empty(spark, sf_small))
    assert got == want
    sections = {r[0] for r in got}
    assert "score_distribution" not in sections
    assert "self_consistency" not in sections
    assert "overall" in sections and "tokens" in sections


def test_streaming_drain_equals_batch(spark, sf_small, proj, tmp_path, state_store):
    """End-to-end through foreachBatch: answer files arrive one per
    trigger; each trigger folds that batch's judgments from the
    judgment source (generate→judge ordering)."""
    questions, variants, answers, judgments = proj
    chunk_dir = str(tmp_path / "answer_chunks")
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
    q = start_streaming_experiment_stats(
        stream, judgments, variants, questions,
        holder.read, holder.write, experiment_id=1,
    )
    q.awaitTermination(120)
    got = _rows(experiment_stats_report(holder.state(STATE_TABLES)))
    want = _rows(q_experiment_stats(spark, sf_small))
    assert got == want
