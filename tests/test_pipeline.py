"""End-to-end LLM pipeline tests (SURVEY §2.10 UD2/UD3, §2.9 ST1-ST5)
with the deterministic mock client — counts, extraction, failure
isolation, idempotent resume, and the full orchestrated lifecycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.model import EXPERIMENTS_SCHEMA, JUDGMENTS_SCHEMA
from lexam_data_pipeline_spark.pipeline.experiment import (
    ConcurrentStageError,
    ExperimentRunner,
    ExperimentStore,
)
from lexam_data_pipeline_spark.pipeline.generation import run_generation
from lexam_data_pipeline_spark.pipeline.judging import run_judging
from tests.lexam_data import lexam_tables

MCQ_PROMPT = "Course: {course_name}\n\n{question}\n\nAnswer with ###X###."
OPEN_PROMPT = "Course: {course_name}\n\n{question}\n\nAnswer fully."
JUDGE_PROMPT = "Question: {question_fact}\nReference: {ref_answer}\nAnswer: {model_answer}\nScore as [[x.x]]."

EXPERIMENT = {
    "id": 7,
    "name": "e2e",
    "filter_config": {},
    "mcq_prompt": MCQ_PROMPT,
    "open_question_prompt": OPEN_PROMPT,
    "judge_prompt": JUDGE_PROMPT,
    "judge_system_prompt": "You are a strict grader.",
    "model_name": "mock-model",
    "temperature": 0.0,
    "max_tokens": 64,
    "n_answers": 2,
}

MOCK_MCQ = {"kind": "mock", "mode": "mcq", "n_choices": 4}
MOCK_JUDGE = {"kind": "mock", "mode": "judge"}


@pytest.fixture(scope="module")
def t(spark):
    return lexam_tables(spark)


def test_generation_counts_and_extraction(spark, t):
    out = run_generation(
        EXPERIMENT, t["variants"], t["questions"], client_spec=MOCK_MCQ
    ).cache()
    # 10 variants × n_answers=2
    assert out.count() == 20
    assert out.select("id").distinct().count() == 20  # deterministic unique ids
    mcq = out.filter(F.col("extracted_letter").isNotNull())
    # 6 MCQ variants × 2 runs; mock always answers ###X###
    assert mcq.count() == 12
    # mock is deterministic per prompt → both runs of a variant agree
    unanimity = (
        mcq.groupBy("variant_id")
        .agg(F.countDistinct("extracted_letter").alias("k"))
        .agg(F.max("k"))
        .collect()[0][0]
    )
    assert unanimity == 1
    # correctness computed only for MCQ rows; open rows NULL letter
    assert out.filter(F.col("extracted_letter").isNull()).count() == 8
    assert out.filter(F.col("input_tokens") > 0).count() == 20
    out.unpersist()


def test_generation_filter_config(spark, t):
    exp = dict(EXPERIMENT, filter_config={"area": ["Public"], "config": ["open_question"]})
    out = run_generation(exp, t["variants"], t["questions"], client_spec=MOCK_MCQ)
    # open variants of Public questions: v6 (q4), v9 (q6) × 2 runs
    assert out.count() == 4
    assert set(r["variant_id"] for r in out.select("variant_id").collect()) == {6, 9}


def test_generation_failure_isolation(spark, t):
    spec = dict(MOCK_MCQ, fail_marker="Strafrecht")
    out = run_generation(EXPERIMENT, t["variants"], t["questions"], client_spec=spec).cache()
    failed = out.filter(F.col("error").isNotNull())
    # q3's open variant (v5) fails × 2 runs; everything else survives
    assert failed.count() == 2
    assert set(r["variant_id"] for r in failed.select("variant_id").collect()) == {5}
    assert failed.filter(F.col("answer_text").isNull()).count() == 2
    assert out.filter(F.col("error").isNull()).count() == 18
    out.unpersist()


def test_generation_idempotent_resume(spark, t):
    first = run_generation(EXPERIMENT, t["variants"], t["questions"], client_spec=MOCK_MCQ)
    again = run_generation(
        EXPERIMENT,
        t["variants"],
        t["questions"],
        client_spec=MOCK_MCQ,
        existing_answers=first,
    )
    assert again.count() == 0
    # partial resume: half the work already done → only the rest runs
    half = first.filter(F.col("run_index") == 0)
    rest = run_generation(
        EXPERIMENT,
        t["variants"],
        t["questions"],
        client_spec=MOCK_MCQ,
        existing_answers=half,
    )
    assert rest.count() == 10
    assert rest.filter(F.col("run_index") == 1).count() == 10


def test_judging_scores_and_dedup(spark, t):
    answers = run_generation(
        EXPERIMENT, t["variants"], t["questions"], client_spec=MOCK_MCQ
    ).cache()
    judgments = run_judging(
        EXPERIMENT,
        answers,
        t["variants"],
        t["questions"],
        "mock-judge",
        client_spec=MOCK_JUDGE,
    ).cache()
    # only open-question answers are judged: 4 open variants × 2 runs
    assert judgments.count() == 8
    scores = [r["score"] for r in judgments.select("score").collect()]
    assert all(s is not None and 0.0 <= s <= 1.0 for s in scores)
    # idempotent re-run: everything already judged by this judge
    again = run_judging(
        EXPERIMENT,
        answers,
        t["variants"],
        t["questions"],
        "mock-judge",
        client_spec=MOCK_JUDGE,
        existing_judgments=judgments,
    )
    assert again.count() == 0
    # a different judge model still gets fresh work
    other = run_judging(
        EXPERIMENT,
        answers,
        t["variants"],
        t["questions"],
        "other-judge",
        client_spec=MOCK_JUDGE,
        existing_judgments=judgments,
    )
    assert other.count() == 8
    answers.unpersist()
    judgments.unpersist()


def test_orchestrated_lifecycle(spark, t, tmp_path):
    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    runner = ExperimentRunner(
        store, t["variants"], t["questions"], client_spec=MOCK_MCQ
    )
    store.save_experiment(EXPERIMENT)
    assert store.get_experiment(7)["status"] == "created"

    runner.generate(7)
    assert store.get_experiment(7)["status"] == "generated"
    assert store.answers().count() == 20

    # re-generate: sink anti-join → no duplicate rows
    runner.generate(7)
    assert store.answers().count() == 20

    runner.client_spec = MOCK_JUDGE
    runner.judge(7, "mock-judge")
    assert store.get_experiment(7)["status"] == "completed"
    assert store.judgments().count() == 8

    # 409 guard
    store.set_status(7, "generating")
    with pytest.raises(ConcurrentStageError):
        runner.generate(7)
    with pytest.raises(ConcurrentStageError):
        runner.judge(7, "mock-judge")

    # reset recomputes from data (answers + judgments exist → completed)
    assert runner.reset_status(7) == "completed"

    # predicate delete: one judge's rows only
    store.delete_judgments(7, judge_model="mock-judge")
    assert store.judgments().count() == 0

    # cascade delete
    store.delete_experiment(7)
    assert store.answers().count() == 0
    assert store.experiments().count() == 0


def test_errored_rows_retried_on_resume(spark, t, tmp_path):
    """ADVICE r1 (medium): an errored answer must not occupy its
    deterministic id — a resume purges it and retries the call, so a
    transient failure never becomes a permanent gap (ref generation.py
    rolls failed calls back, so re-running retries them)."""
    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    runner = ExperimentRunner(
        store,
        t["variants"],
        t["questions"],
        client_spec=dict(MOCK_MCQ, fail_marker="Strafrecht"),
    )
    store.save_experiment(EXPERIMENT)
    runner.generate(7)
    assert store.answers().count() == 20
    assert store.answers().filter(F.col("error").isNotNull()).count() == 2

    # resume with a healthy client: errored rows purged + retried, no dupes
    runner.client_spec = MOCK_MCQ
    runner.generate(7)
    ans = store.answers()
    assert ans.count() == 20
    assert ans.filter(F.col("error").isNotNull()).count() == 0
    assert ans.select("id").distinct().count() == 20

    # successful rows from the first run were NOT re-generated (still the
    # anti-join path): judge stage sees only error-free answers
    runner.client_spec = MOCK_JUDGE
    runner.judge(7, "mock-judge")
    assert store.judgments().filter(F.col("error").isNotNull()).count() == 0


def test_errored_judgments_retried_on_resume(spark, t, tmp_path):
    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    runner = ExperimentRunner(
        store, t["variants"], t["questions"], client_spec=MOCK_MCQ
    )
    store.save_experiment(EXPERIMENT)
    runner.generate(7)

    # judge with a flaky client: some judgments carry an error
    runner.client_spec = dict(MOCK_JUDGE, fail_marker="Reference:")
    runner.judge(7, "mock-judge")
    j1 = store.judgments()
    assert j1.count() == 8
    assert j1.filter(F.col("error").isNotNull()).count() == 8

    # resume with a healthy judge: errored judgments purged + retried
    runner.client_spec = MOCK_JUDGE
    runner.judge(7, "mock-judge")
    j2 = store.judgments()
    assert j2.count() == 8
    assert j2.filter(F.col("error").isNotNull()).count() == 0
    assert j2.filter(F.col("score").isNotNull()).count() == 8


def test_stats_exclude_errored_answers(spark, t):
    """Errored rows don't exist in the reference's stats — an errored MCQ
    answer must not inflate open_total."""
    from lexam_data_pipeline_spark.serving.stats import experiment_stats

    out = run_generation(
        EXPERIMENT,
        t["variants"],
        t["questions"],
        client_spec=dict(MOCK_MCQ, fail_marker="Strafrecht"),
    ).cache()
    empty_j = spark.createDataFrame(
        [], "answer_id long, judge_model string, score double, "
        "input_tokens long, output_tokens long, error string"
    )
    stats = experiment_stats(out, empty_j, experiment_id=7, n_answers=2)
    overall = stats["overall"].collect()[0]
    assert overall["total_answers"] == 18  # 2 errored rows excluded
    assert overall["mcq_total"] == 12
    assert overall["open_total"] == 6  # not 8: errored opens don't count
    out.unpersist()


def test_store_recover_after_crash_mid_swap(spark, t, tmp_path):
    """_overwrite_atomic's sink swap is not crash-atomic: simulate a crash
    between the two renames of the judgments sink (final moved to .old,
    tmp never promoted) and assert recover() restores the newest
    snapshot."""
    import os

    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    row = (1, 2, "mock-judge", "[[1.0]]", 1.0, 3, 4, None, None)
    store.append_judgments(local_rows(spark, [row], JUDGMENTS_SCHEMA))
    assert store.judgments().count() == 1

    # crash simulation: demote live dir to .old, leave a stale .tmp
    root = store.root
    os.rename(
        os.path.join(root, "judgments"),
        os.path.join(root, ".judgments.old-deadbeef"),
    )
    os.makedirs(os.path.join(root, ".judgments.tmp-cafe0000"))

    assert store.recover("judgments") is True
    assert store.judgments().count() == 1
    assert not any(e.startswith(".judgments.tmp-") for e in os.listdir(root))
    # idempotent when healthy
    assert store.recover("judgments") is False


def test_control_file_crash_leaves_live_file_intact(spark, tmp_path, monkeypatch):
    """The control table is one JSON file replaced with os.replace: a
    crash before the replace leaves a stale .tmp file and the old live
    file untouched; recover() removes the stale file."""
    import os

    from lexam_data_pipeline_spark.pipeline import experiment

    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    store.save_experiment(EXPERIMENT)

    def crash(src, dst):
        raise OSError("simulated crash before the commit")

    monkeypatch.setattr(experiment.os, "replace", crash)
    with pytest.raises(OSError):
        store.set_status(7, "generating")
    monkeypatch.undo()

    root = store.root
    assert [e for e in os.listdir(root) if e.startswith(".experiments.tmp-")]
    assert store.get_experiment(7)["status"] == "created"
    assert store.experiments().count() == 1

    assert store.recover("experiments") is False  # nothing to restore
    assert not any(e.startswith(".experiments.tmp-") for e in os.listdir(root))
    assert store.get_experiment(7)["status"] == "created"


def test_control_table_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """save/get/set_status and the control-row delete of
    delete_experiment are driver-side file operations: the statusTracker
    job count does not move.  experiments() serves the rows as a
    LocalRelation with EXPERIMENTS_SCHEMA, also without a job."""
    sc = spark.sparkContext
    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    # the sinks' cascade is Spark work, measured elsewhere
    monkeypatch.setattr(store, "delete_answers", lambda exp_id: None)
    group = "control-table-no-jobs"

    sc.setJobGroup(group, group)
    try:
        store.save_experiment(EXPERIMENT)
        store.save_experiment(dict(EXPERIMENT, id=8, name="other"))
        got = store.get_experiment(7)
        store.set_status(7, "generated")
        exps = store.experiments()
        store.delete_experiment(8)
        after = store.get_experiment(8)
    finally:
        sc.setJobGroup(None, None)
    assert not (sc.statusTracker().getJobIdsForGroup(group) or [])

    assert got["filter_config"] == {} and got["status"] == "created"
    assert got["updated_at"] is None and got["temperature"] == 0.0
    assert after is None
    assert exps.schema == EXPERIMENTS_SCHEMA
    assert exps._jdf.queryExecution().analyzed().getClass().getSimpleName() == (
        "LocalRelation"
    )
    rows = {r["id"]: r for r in exps.collect()}
    assert set(rows) == {7, 8}
    assert rows[7]["status"] == "generated"
    assert rows[7]["updated_at"] == store.get_experiment(7)["updated_at"]
    assert [r["id"] for r in store.experiments().collect()] == [7]


def test_save_experiment_rejects_a_mistyped_row(spark, tmp_path):
    store = ExperimentStore(spark, str(tmp_path / "exp_store"))
    with pytest.raises(TypeError):
        store.save_experiment(dict(EXPERIMENT, temperature="hot"))
    assert store.get_experiment(7) is None
