"""Incremental /stats maintenance — the streaming twin of
:func:`plans.fixture_queries.q_experiment_stats` (the 19th maintainer;
closes the round-9 serving family's streaming posture: every
driver-oracled serving composite now has an incremental door).

The reference recomputes the whole /stats payload per request (7 Python
passes + N+1 judgment lookups); at 100 TB of answers the equivalent
batch recompute rescans the corpus per refresh.  This maintainer folds
micro-batches of NEW answers and judgments into bounded state cells
from which the FULL flattened payload is served:

* ``overall (1 row)`` — total/mcq/open counts, generation token sums
* ``open_names (answer_id, field, name)`` — the open (NULL-letter)
  answers' breakdown names; the ONLY per-row table, and the semi-join
  target for judgment folds
* ``variant_letters (variant_id, letter)`` — distinct pairs feeding
  self-consistency (≤ |variants| × |letters|)
* ``jscore_cells (score, n)`` — judged-score histogram keyed on
  ROUND(score, 5) (:data:`SCORE_CELL_PRECISION`): identity for every
  in-contract score — the clamp emits [0,1] values with ≤1 decimal, the
  fixture's 1/32 grid has exactly 5 — so serve-time sums stay
  binary-exact and order-independent (the dashboard maintainer's
  exactness contract), while adversarial float streams are hard-bounded
  at 10^5+1 cells instead of unbounded
* ``jtokens (1 row)`` — judge token sums over ALL semi-joined
  judgments (score-less included, ref experiment_stats.py:74-83)
* ``mcq_cells (field, name, mcq_total, mcq_correct)`` — breakdown MCQ
  side, additive per answer batch
* ``open_cells (field, name, score, n)`` — breakdown open side,
  additive per judgment batch

Serving rebuilds the :func:`serving.stats.experiment_stats` frame dict
from the cells and pushes it through the SHARED
:func:`serving.stats.flatten_experiment_stats` — so the flatten
expressions cannot diverge from the batch key, and the drained report
is CELL-IDENTICAL to q_experiment_stats' flatten over the union of all
batches for ANY micro-batch split
(tests/test_streaming_experiment_stats.py proves it; the exact median
is the batch key's ``percentile(score, 0.5)`` with the cell count as
its frequency, so the report builds lazily, with no driver-side
collect).

Contract: answers and judgments arrive exactly once, and a judgment
arrives no earlier than its answer (the generate→judge pipeline
ordering — judgments reference existing answers, ref
routers/experiments.py).  Dimension frames (questions, variants) are
slowly-changing lookups passed at fold time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.serving.stats import (
    SCORE_BUCKETS,
    flatten_experiment_stats,
)
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
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

#: Score-keyed state cells quantize their key to ROUND(score, 5) at fold
#: time (round-9 verdict item 5).  Why 5: the engine's judge-score
#: extraction clamps to [0,1] and the reference's ``[[x.x]]`` format
#: carries ONE decimal, so every in-contract score satisfies
#: ``round(s, 5) == s`` (so does the oracle fixture's 1/32 grid —
#: k/32 = k·3125/100000, exactly 5 decimal digits) and quantization is
#: the IDENTITY: fold-equality with the batch keys is preserved exactly.
#: Against an adversarial stream of arbitrary floats in [0,1] the cell
#: count is now HARD-BOUNDED at 10^5+1 per group key instead of
#: unbounded.  Out-of-range scores are not bounded by it; the reports
#: aggregate the cells in Spark and never collect them to the driver,
#: so such scores grow only the state tables.
SCORE_CELL_PRECISION = 5

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
    b = batch.filter(F.col("experiment_id") == experiment_id).filter(
        F.col("error").isNull()
    )
    if model_name:
        b = b.filter(F.col("model_name") == model_name)
    is_mcq = F.col("extracted_letter").isNotNull()

    dims = variants.select(F.col("id").alias("variant_id"), "question_id").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), *fields)),
        "question_id",
        "left_outer",
    )
    cells = ", ".join(
        f"'{f}', coalesce(CAST(`{f}` AS STRING), 'unknown')" for f in fields
    )
    enr = persist_slot(
        b.join(F.broadcast(dims), "variant_id", "left_outer").select(
            "id",
            "variant_id",
            "extracted_letter",
            "mcq_correct",
            "input_tokens",
            "output_tokens",
            F.expr(f"stack({len(fields)}, {cells})").alias("field", "name"),
        ),
        "xstats.enr",
    )
    one_per_answer = enr.filter(F.col("field") == fields[0])

    overall1 = st["overall"].unionByName(
        one_per_answer.agg(
            F.count(F.lit(1)).alias("total_answers"),
            F.coalesce(F.sum(is_mcq.cast("int")), F.lit(0)).alias("mcq_total"),
            F.coalesce(
                F.sum(
                    (is_mcq & F.coalesce(F.col("mcq_correct"), F.lit(False))).cast(
                        "int"
                    )
                ),
                F.lit(0),
            ).alias("mcq_correct"),
            F.coalesce(F.sum((~is_mcq).cast("int")), F.lit(0)).alias("open_total"),
            F.coalesce(F.sum(F.coalesce("input_tokens", F.lit(0))), F.lit(0)).alias(
                "generation_input"
            ),
            F.coalesce(F.sum(F.coalesce("output_tokens", F.lit(0))), F.lit(0)).alias(
                "generation_output"
            ),
        )
    ).agg(
        *[F.sum(c).cast("long").alias(c) for c in st["overall"].columns]
    )

    open_names1 = st["open_names"].unionByName(
        enr.filter(~is_mcq).select(F.col("id").alias("answer_id"), "field", "name")
    )
    variant_letters1 = (
        st["variant_letters"]
        .unionByName(
            one_per_answer.filter(is_mcq).select(
                "variant_id", F.col("extracted_letter").alias("letter")
            )
        )
        .distinct()
    )
    mcq_cells1 = (
        st["mcq_cells"]
        .unionByName(
            enr.groupBy("field", "name").agg(
                F.coalesce(F.sum(is_mcq.cast("int")), F.lit(0)).alias("mcq_total"),
                F.coalesce(
                    F.sum(
                        (
                            is_mcq & F.coalesce(F.col("mcq_correct"), F.lit(False))
                        ).cast("int")
                    ),
                    F.lit(0),
                ).alias("mcq_correct"),
            )
        )
        .groupBy("field", "name")
        .agg(
            F.sum("mcq_total").cast("long").alias("mcq_total"),
            F.sum("mcq_correct").cast("long").alias("mcq_correct"),
        )
    )
    return {
        **st,
        "overall": overall1,
        "open_names": open_names1,
        "variant_letters": variant_letters1,
        "mcq_cells": mcq_cells1,
    }


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
    b = batch
    if judge_model:
        b = b.filter(F.col("judge_model") == judge_model)
    open_ids = st["open_names"].select("answer_id").distinct()
    sem = persist_slot(b.join(open_ids, "answer_id", "left_semi"), "xstats.jsem")

    jtokens1 = st["jtokens"].unionByName(
        sem.agg(
            F.coalesce(F.sum("input_tokens"), F.lit(0)).alias("judge_input"),
            F.coalesce(F.sum("output_tokens"), F.lit(0)).alias("judge_output"),
        )
    ).agg(
        F.sum("judge_input").cast("long").alias("judge_input"),
        F.sum("judge_output").cast("long").alias("judge_output"),
    )
    # quantized cell key: identity for in-contract scores, a hard state
    # bound against adversarial ones (see SCORE_CELL_PRECISION)
    scored = sem.filter(F.col("score").isNotNull()).withColumn(
        "score", F.round("score", SCORE_CELL_PRECISION)
    )
    jscore_cells1 = (
        st["jscore_cells"]
        .unionByName(scored.groupBy("score").agg(F.count(F.lit(1)).alias("n")))
        .groupBy("score")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    open_cells1 = (
        st["open_cells"]
        .unionByName(
            scored.select("answer_id", "score")
            .join(st["open_names"], "answer_id")
            .groupBy("field", "name", "score")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        .groupBy("field", "name", "score")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return {
        **st,
        "jtokens": jtokens1,
        "jscore_cells": jscore_cells1,
        "open_cells": open_cells1,
    }


def experiment_stats_report(
    state: dict[str, DataFrame | None], *, n_answers: int = 2
) -> DataFrame:
    """Serve the FULL flattened /stats payload off the maintained cells
    — the shared flatten guarantees shape identity with the batch key."""
    st = {t: state.get(t) for t in STATE_TABLES}
    if any(v is None for v in st.values()):
        raise ValueError("no experiment-stats state yet")
    cells = st["jscore_cells"]

    overall = st["overall"].select(
        "*",
        F.when(
            F.col("mcq_total") > 0,
            F.round(F.col("mcq_correct") / F.col("mcq_total"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("mcq_accuracy"),
    )
    # open score stats off the cells in one aggregate; the exact median
    # is the batch key's percentile(0.5) with the cell count as frequency
    open_stats = cells.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("judged"),
        F.coalesce(
            F.round(F.sum(F.col("score") * F.col("n")) / F.sum("n"), 4), F.lit(0.0)
        ).alias("avg_score"),
        F.coalesce(
            F.round(F.percentile("score", F.lit(0.5), F.col("n")), 4), F.lit(0.0)
        ).alias("median_score"),
    )
    bucket_spec = local_rows(
        cells.sparkSession,
        [(label,) for _, _, label in SCORE_BUCKETS], "range string"
    )
    bucket = F.least(F.floor(F.col("score") * 10), F.lit(10)).cast("int")
    labels = F.array(*[F.lit(label) for _, _, label in SCORE_BUCKETS])
    # emitted only when judged scores exist — the batch twin's
    # ``if scores:`` gate (ref experiment_stats.py:55-61), the same
    # broadcast 0-or-1-row aggregate as the batch key's
    any_scores = (
        cells.agg(F.count(F.lit(1)).alias("__cells"))
        .where(F.col("__cells") > 0)
        .select(F.lit(1).alias("__has_scores"))
    )
    score_distribution = (
        bucket_spec.join(
            cells.select(F.element_at(labels, bucket + 1).alias("range"), "n")
            .groupBy("range")
            .agg(F.sum("n").alias("count")),
            "range",
            "left_outer",
        )
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(any_scores))
        .drop("__has_scores")
    )

    per_variant = st["variant_letters"].groupBy("variant_id").agg(
        (F.countDistinct("letter") == 1).cast("int").alias("unanimous")
    )
    consistency = per_variant.agg(
        F.count(F.lit(1)).alias("total_variants"),
        F.coalesce(F.sum("unanimous"), F.lit(0)).alias("unanimous"),
        F.coalesce(F.round(F.avg("unanimous"), 4), F.lit(0.0)).alias("unanimous_rate"),
    )
    open_agg = st["open_cells"].groupBy("field", "name").agg(
        F.round(F.sum(F.col("score") * F.col("n")) / F.sum("n"), 4).alias(
            "open_avg_score"
        ),
        F.sum("n").alias("open_total"),
    )
    breakdown = (
        st["mcq_cells"]
        .join(open_agg, ["field", "name"], "left_outer")
        .select(
            "field",
            "name",
            F.when(
                F.col("mcq_total") > 0,
                F.round(F.col("mcq_correct") / F.col("mcq_total"), 4),
            ).alias("mcq_accuracy"),
            "mcq_total",
            "open_avg_score",
            F.coalesce("open_total", F.lit(0)).alias("open_total"),
        )
    )
    s = {
        "overall": overall,
        "open": open_stats,
        "judge_tokens": st["jtokens"],
        "score_distribution": score_distribution,
    }
    # n_answers ≤ 1 → no self_consistency section, matching the batch
    # twin and ref experiment_stats.py:87-89
    if n_answers and n_answers > 1:
        s["self_consistency"] = consistency
    return flatten_experiment_stats(s, breakdown)


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
