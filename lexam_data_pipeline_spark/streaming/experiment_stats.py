"""Incremental /stats maintenance — the streaming twin of
:func:`plans.fixture_queries.q_experiment_stats` (the 19th maintainer;
closes the round-9 serving family's streaming posture: every
driver-oracled serving composite now has an incremental door).

The reference recomputes the whole /stats payload per request (7 Python
passes + N+1 judgment lookups); at 100 TB of answers the equivalent
batch recompute rescans the corpus per refresh.  This maintainer counts
each micro-batch of NEW answers and judgments into the /stats cell
tables with the batch endpoints' own builders (serving/stats.py) and
sums them into bounded state (:func:`streaming.state.sum_cells`):

* ``overall (1 row)``, ``jtokens (1 row)`` — counts and token sums
* ``variant_letters (variant_id, letter)`` — the distinct pairs feeding
  self-consistency (≤ |variants| × |letters|)
* ``jscore_cells (score, n)``, ``open_cells (field, name, score, n)`` —
  judged scores, overall and per breakdown name, keyed on ROUND(score,
  5) (``state.SCORE_CELL_PRECISION``: identity for every in-contract
  score, a hard bound against adversarial float streams)
* ``mcq_cells (field, name, mcq_total, mcq_correct)`` — breakdown MCQ
  side
* ``open_names (answer_id, field, name)`` — the open (NULL-letter)
  answers' breakdown names; the ONLY per-row table, appended, and the
  semi-join target for judgment folds

The served report is the batch endpoints' own sections
(:func:`serving.stats.stats_sections`) over the state, closed by the
shared :func:`serving.stats.flatten_experiment_stats` — so the drained
report is CELL-IDENTICAL to q_experiment_stats over the union of all
batches for ANY micro-batch split
(tests/test_streaming_experiment_stats.py), and builds lazily with no
Spark job.

Contract: answers and judgments arrive exactly once, and a judgment
arrives no earlier than its answer (the generate→judge pipeline
ordering — judgments reference existing answers, ref
routers/experiments.py).  Dimension frames (questions, variants) are
slowly-changing lookups passed at fold time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.serving.stats import (
    _by_judge,
    _filtered_answers,
    flatten_experiment_stats,
    jscore_cells,
    jtokens,
    mcq_cells,
    open_cells,
    open_names,
    overall_cells,
    stats_sections,
    tag_answers,
    variant_letters,
)
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
    sum_cells,
)

STATE_TABLES = (
    "overall",
    "open_names",
    "variant_letters",
    "jscore_cells",
    "jtokens",
    "mcq_cells",
    "open_cells",
)

_SCHEMAS = {
    "overall": (
        "total_answers long, mcq_total long, mcq_correct long, "
        "open_total long, generation_input long, generation_output long"
    ),
    "open_names": "answer_id long, field string, name string",
    "variant_letters": "variant_id long, letter string",
    "jscore_cells": "score double, n long",
    "jtokens": "judge_input long, judge_output long",
    "mcq_cells": "field string, name string, mcq_total long, mcq_correct long",
    "open_cells": "field string, name string, score double, n long",
}

#: the key columns of each summed cell table
_KEYS = {
    "overall": (),
    "variant_letters": ("variant_id", "letter"),
    "jscore_cells": ("score",),
    "jtokens": (),
    "mcq_cells": ("field", "name"),
    "open_cells": ("field", "name", "score"),
}


def _merge(state: dict[str, DataFrame], delta: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {**state, **{t: sum_cells(state[t], d, _KEYS[t]) for t, d in delta.items()}}


def experiment_stats_fold_answers(
    state: dict[str, DataFrame | None],
    batch: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    fields: tuple[str, ...] = ("area", "course"),
    model_name: str | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new answers into the state cells."""
    st = {t: or_empty(batch.sparkSession, state.get(t), s) for t, s in _SCHEMAS.items()}
    tagged = persist_slot(
        tag_answers(_filtered_answers(batch, experiment_id, model_name), variants, questions, fields),
        "xstats.enr",
    )
    one_per_answer = tagged.filter(F.col("field") == fields[0])
    merged = _merge(
        st,
        {
            "overall": overall_cells(one_per_answer),
            "variant_letters": variant_letters(one_per_answer),
            "mcq_cells": mcq_cells(tagged),
        },
    )
    return {**merged, "open_names": st["open_names"].unionByName(open_names(tagged))}


def experiment_stats_fold_judgments(
    state: dict[str, DataFrame | None],
    batch: DataFrame,
    *,
    judge_model: str | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new judgments: only judgments of known
    OPEN answers count (the batch semantics' semi-join — the contract
    guarantees the answer arrived first)."""
    st = {t: or_empty(batch.sparkSession, state.get(t), s) for t, s in _SCHEMAS.items()}
    open_ids = st["open_names"].select("answer_id").distinct()
    sem = persist_slot(
        _by_judge(batch, judge_model).join(open_ids, "answer_id", "left_semi"), "xstats.jsem"
    )
    return _merge(
        st,
        {
            "jtokens": jtokens(sem),
            "jscore_cells": jscore_cells(sem),
            "open_cells": open_cells(st["open_names"], sem),
        },
    )


def experiment_stats_report(
    state: dict[str, DataFrame | None], *, n_answers: int = 2
) -> DataFrame:
    """Serve the FULL flattened /stats payload off the maintained cells:
    the batch endpoints' sections, closed by the shared flatten."""
    if any(state.get(t) is None for t in STATE_TABLES):
        raise ValueError("no experiment-stats state yet")
    s = stats_sections(state, n_answers=n_answers)
    return flatten_experiment_stats(s, s["breakdown"])


def start_streaming_experiment_stats(
    answers_stream: DataFrame,
    judgments_source: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    experiment_id: int,
    fields: tuple[str, ...] = ("area", "course"),
):
    """Maintain the cells under a micro-batched ANSWER stream; each
    trigger also folds the judgments of that batch's answers from
    ``judgments_source`` (the generate→judge ordering: judgments land
    with or after their answers).  Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "xstats.batch")
        st = experiment_stats_fold_answers(
            state,
            batch,
            variants,
            questions,
            experiment_id=experiment_id,
            fields=fields,
        )
        jbatch = judgments_source.join(
            batch.select(F.col("id").alias("answer_id")), "answer_id", "left_semi"
        )
        return experiment_stats_fold_judgments(st, jbatch)

    return start_fold(answers_stream, fold, STATE_TABLES, read_state, write_state)
