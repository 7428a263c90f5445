"""Serving parity layer (SURVEY §7.6): each reference REST endpoint's
result shape as a DataFrame program.

Scale notes: every endpoint first passes its table arguments through
:func:`operators.partitioning.narrow`.  A table that is a bare file scan
at or under ``spark.sql.autoBroadcastJoinThreshold`` becomes one
partition, so the request's aggregates, sorts and semi-joins plan no
shuffle (only the explicit broadcasts remain) and AQE splits off no
extra jobs — an interactive request over a small question bank is bound
by per-job overhead, not data volume.  Larger tables, and inputs that
are not bare file scans (joins, explodes, cached or in-memory frames),
keep exactly the plans they had before: shuffled, AQE-coalesced, and
spread over the cluster.
"""

from lexam_data_pipeline_spark.serving.dashboard import (
    answer_length_histogram,
    course_summary,
    dashboard,
)
from lexam_data_pipeline_spark.serving.facets import facet_frame, filter_facets
from lexam_data_pipeline_spark.serving.listings import (
    ListingPage,
    answers_page,
    judgments_page,
)
from lexam_data_pipeline_spark.serving.questions import (
    QuestionsPage,
    filtered_questions,
    get_question,
    questions_page,
    top_courses_for_search,
)
from lexam_data_pipeline_spark.serving.summary import (
    corpus_stats,
    judge_summary,
    question_count,
    search_summary,
)
from lexam_data_pipeline_spark.serving.stats import (
    breakdown_by_field,
    compare_judges,
    experiment_stats,
    stats_by_question,
)

__all__ = [
    "ListingPage",
    "QuestionsPage",
    "answers_page",
    "judgments_page",
    "answer_length_histogram",
    "breakdown_by_field",
    "compare_judges",
    "course_summary",
    "dashboard",
    "search_summary",
    "question_count",
    "judge_summary",
    "get_question",
    "corpus_stats",
    "experiment_stats",
    "facet_frame",
    "filter_facets",
    "filtered_questions",
    "questions_page",
    "stats_by_question",
    "top_courses_for_search",
]
