"""Serving parity: paginated answer/judgment listings with dimension
enrichment (ref backend/app/routers/generation.py:30-70,
judging.py:35-79).

The reference pages by primary key then issues 2-3 point lookups PER ROW
(J7, the N+1 anti-pattern).  Here enrichment is two broadcast joins
applied to the ≤500-row page — the page is tiny, the dimensions join
onto it, and the fact scan pays only the filter + order + page.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.functions.extract import gold_choice
from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.operators.partitioning import narrow

MAX_LIST_LIMIT = 500  # ref generation.py:34 / judging.py:39

ISO = "yyyy-MM-dd'T'HH:mm:ss"


@dataclass
class ListingPage:
    total: int
    offset: int
    limit: int
    rows: DataFrame


def _dims(variants: DataFrame, questions: DataFrame) -> DataFrame:
    return variants.select(
        F.col("id").alias("variant_id"),
        "question_id",
        "config",
        F.col("answer").alias("gold_answer"),
        F.col("gold").alias("gold_index"),
        "choices",
        # F13: the gold answer's display text (ref ExperimentDetail.jsx:620)
        gold_choice(F.col("choices"), F.col("gold")).alias("gold_choice_text"),
    ).join(
        F.broadcast(
            questions.select(
                F.col("id").alias("question_id"),
                "course",
                "area",
                F.col("question").alias("question_text"),
            )
        ),
        "question_id",
        "left_outer",
    )


def answers_page(
    answers: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    offset: int = 0,
    limit: int = 50,
) -> ListingPage:
    """list_answers: ordered by answer id, enriched page (ref
    generation.py:30-70)."""
    answers, variants, questions = narrow(answers), narrow(variants), narrow(questions)
    limit = max(1, min(int(limit), MAX_LIST_LIMIT))
    offset = max(0, int(offset))
    # the persist must outlive this call: count and the caller's lazy
    # ``rows`` both read it (serving/questions.py's page_base slot shape)
    base = persist_slot(
        answers.filter(F.col("experiment_id") == experiment_id), "serving.answers.page_base"
    )
    total = base.count()
    page = base.orderBy("id").offset(offset).limit(limit)
    rows = (
        page.join(F.broadcast(_dims(variants, questions)), "variant_id", "left_outer")
        .select(
            "id",
            "variant_id",
            "question_id",
            "config",
            "course",
            "area",
            "question_text",
            "gold_answer",
            "gold_index",
            "choices",
            "gold_choice_text",
            "run_index",
            "model_name",
            "answer_text",
            "extracted_letter",
            "mcq_correct",
            "input_tokens",
            "output_tokens",
            F.date_format("created_at", ISO).alias("created_at"),
        )
        .orderBy("id")
    )
    return ListingPage(total=total, offset=offset, limit=limit, rows=rows)


def judgments_page(
    judgments: DataFrame,
    answers: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    judge_model: str | None = None,
    offset: int = 0,
    limit: int = 50,
) -> ListingPage:
    """list_judgments: experiment-scoped via the answers join, optional
    judge filter, ordered by judgment id (ref judging.py:35-79)."""
    judgments, answers = narrow(judgments), narrow(answers)
    variants, questions = narrow(variants), narrow(questions)
    limit = max(1, min(int(limit), MAX_LIST_LIMIT))
    offset = max(0, int(offset))
    exp_answers = answers.filter(F.col("experiment_id") == experiment_id).select(
        F.col("id").alias("answer_id"),
        "variant_id",
        # ref judging.py:70: empty answer text serializes as None (Python
        # truthiness), not ""
        F.nullif(F.col("answer_text"), F.lit("")).alias("model_answer"),
    )
    base = judgments.join(F.broadcast(exp_answers), "answer_id", "left_semi")
    if judge_model:
        base = base.filter(F.col("judge_model") == judge_model)
    base = persist_slot(base, "serving.judgments.page_base")
    total = base.count()
    page = base.orderBy("id").offset(offset).limit(limit)
    rows = (
        page.join(F.broadcast(exp_answers), "answer_id", "left_outer")
        .join(F.broadcast(_dims(variants, questions)), "variant_id", "left_outer")
        .select(
            "id",
            "answer_id",
            "question_id",
            "config",
            "course",
            "area",
            "question_text",
            "gold_answer",
            "model_answer",
            "judge_model",
            "judgment_text",
            "score",
            "input_tokens",
            "output_tokens",
            F.date_format("created_at", ISO).alias("created_at"),
        )
        .orderBy("id")
    )
    return ListingPage(total=total, offset=offset, limit=limit, rows=rows)
