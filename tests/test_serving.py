"""Serving parity layer tests (SURVEY §7.6) on the LEXam-shaped fixture
(tests/lexam_data.py) — every expectation hand-computed from the fixture
rows against the reference semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lexam_data_pipeline_spark.serving import (
    breakdown_by_field,
    compare_judges,
    course_summary,
    dashboard,
    experiment_stats,
    filter_facets,
    questions_page,
    stats_by_question,
    top_courses_for_search,
)
from tests.lexam_data import lexam_tables


@pytest.fixture(scope="module")
def t(spark):
    return lexam_tables(spark)


# ── questions page ─────────────────────────────────────────────────────────


def test_page_filter_sort_nest(spark, t):
    page = questions_page(
        t["questions"], t["variants"], fc={"area": ["Public"]}, sort_by="year", sort_dir="desc"
    )
    assert page.total == 3
    rows = page.rows.collect()
    assert [r["id"] for r in rows] == ["q6", "q4", "q5"]
    q4 = rows[1]
    assert [v["id"] for v in q4["variants"]] == [6, 7]  # sorted by variant id
    assert q4["variants"][1]["config"] == "mcq_4_choices"


def test_page_variant_filter_and_offset(spark, t):
    page = questions_page(
        t["questions"], t["variants"], fc={"config": ["open_question"]},
        sort_by="id", sort_dir="asc", offset=1, limit=2,
    )
    # open-question variants exist for q1 q3 q4 q6 → page [q3, q4]
    assert page.total == 4
    assert [r["id"] for r in page.rows.collect()] == ["q3", "q4"]


def test_page_search_question_or_answer(spark, t):
    # "vertrag" hits q1's question text (case-insensitive)
    page = questions_page(t["questions"], t["variants"], search="vertrag")
    assert [r["id"] for r in page.rows.collect()] == ["q1"]
    # "seven" hits only q1's open-question ANSWER (correlated EXISTS J4)
    page = questions_page(t["questions"], t["variants"], search="seven")
    assert [r["id"] for r in page.rows.collect()] == ["q1"]


def test_page_sort_by_min_variant_config(spark, t):
    page = questions_page(t["questions"], t["variants"], sort_by="config", sort_dir="asc")
    rows = [(r["id"]) for r in page.rows.collect()]
    # min(config) per question: q3='open_question' (max), q6='mcq_32...'
    assert rows[-1] == "q3"


def test_top_courses_for_search(spark, t):
    top = top_courses_for_search(t["questions"], t["variants"], "RECHT", n=10)
    got = [(r["course"], r["n_matches"]) for r in top.collect()]
    # 'recht' (case-insensitive) hits q3 'Strafrecht…' and q5
    # 'Verwaltungsrecht…'; ties broken by course name asc
    assert got == [("Administrative Law", 1), ("Criminal Law", 1)]


# ── facets (one-pass P6) ───────────────────────────────────────────────────


def test_facets_skip_one_field(spark, t):
    fc = {"area": ["Public"], "config": ["open_question"]}
    facets = filter_facets(t["questions"], t["variants"], fc)
    # facet of 'area' ignores the area filter, keeps config=open_question
    assert facets["area"] == ["Criminal", "Private", "Public"]
    # facet of 'config' ignores config filter, keeps area=Public
    assert facets["config"] == [
        "mcq_16_choices", "mcq_32_choices", "mcq_4_choices", "open_question"
    ]
    # both filters apply to the other fields
    assert facets["language"] == ["en"]
    assert facets["year"] == [2023, 2022]  # years descending
    assert facets["course"] == ["Public International Law"]
    assert facets["split"] == ["dev", "test"]


def test_facets_unfiltered(spark, t):
    facets = filter_facets(t["questions"], t["variants"], {})
    assert facets["area"] == ["Criminal", "Private", "Public"]
    assert facets["split"] == ["dev", "test"]
    assert facets["year"] == [2023, 2022, 2021, 2020, 2019]


# ── dashboard ──────────────────────────────────────────────────────────────


def test_dashboard_unfiltered(spark, t):
    d = dashboard(t["questions"], t["variants"])
    assert d["total_questions"].collect()[0][0] == 6

    courses = d["courses"].collect()
    assert (courses[0]["course"], courses[0]["count"]) == ("Public International Law", 2)
    assert courses[0]["lang_en"] == 2 and courses[0]["lang_de"] == 0

    areas = {r["name"]: r["value"] for r in d["areas"].collect()}
    assert areas == {"Private": 2, "Criminal": 1, "Public": 3}

    years = {r["year"]: r for r in d["years"].collect()}
    assert years[2021]["Private"] == 1 and years[2021]["Public"] == 1
    assert years[2021]["total"] == 2 and years[2021]["Criminal"] == 0

    splits = {r["name"]: (r["value"], r["pct"]) for r in d["splits"].collect()}
    assert splits == {"dev": (4, "67%"), "test": (4, "67%")}

    aj = {r["area"]: r for r in d["area_jurisdiction"].collect()}
    assert (aj["Public"]["Swiss"], aj["Public"]["International"], aj["Public"]["Generic"]) == (1, 1, 1)

    la = {r["area"]: r for r in d["lang_area"].collect()}
    assert (la["Private"]["de"], la["Private"]["en"]) == (1, 1)

    hist = {r["range"]: r["count"] for r in d["answer_lengths"].collect()}
    assert hist == {
        "< 50 words": 1, "50–100": 1, "100–200": 1, "200–400": 0, "400–600": 1, "600+": 0,
    }

    stats = {r["area"]: r for r in d["answer_stats"].collect()}
    assert (stats["Public"]["avgWords"], stats["Public"]["medianWords"]) == (300, 300)
    assert (stats["Public"]["minWords"], stats["Public"]["maxWords"]) == (150, 450)
    assert stats["Private"]["avgWords"] == 7


def test_dashboard_config_filter(spark, t):
    d = dashboard(t["questions"], t["variants"], configs=["open_question"])
    # questions restricted to those WITH an open variant: q1 q3 q4 q6
    assert d["total_questions"].collect()[0][0] == 4
    splits = {r["name"]: r["value"] for r in d["splits"].collect()}
    # open variants only: dev {q1,q6}, test {q3,q4}
    assert splits == {"dev": 2, "test": 2}


def test_dashboard_language_filter(spark, t):
    d = dashboard(t["questions"], t["variants"], languages=["de"])
    assert d["total_questions"].collect()[0][0] == 3  # q1 q3 q5
    areas = {r["name"]: r["value"] for r in d["areas"].collect()}
    assert areas == {"Private": 1, "Criminal": 1, "Public": 1}


# ── course summary ─────────────────────────────────────────────────────────


def test_course_summary(spark, t):
    rows = course_summary(t["questions"], t["variants"]).collect()
    # sorted by (area, total desc, course)
    assert [r["course"] for r in rows] == [
        "Criminal Law", "Contract Law", "Tort Law",
        "Public International Law", "Administrative Law",
    ]
    by = {r["course"]: r for r in rows}
    pil = by["Public International Law"]
    assert (pil["mcq_4"], pil["mcq_all"], pil["open_qa"]) == (1, 2, 2)
    assert (pil["open_dev"], pil["open_test"], pil["total"]) == (1, 1, 2)
    assert pil["jurisdiction"] == "Generic, International"
    assert pil["international"] is True and pil["language"] == "en"
    cl = by["Contract Law"]
    assert (cl["mcq_4"], cl["open_qa"], cl["total"], cl["language"]) == (1, 1, 1, "de")


# ── experiment stats ───────────────────────────────────────────────────────


def test_experiment_stats_overall(spark, t):
    s = experiment_stats(
        t["answers"], t["judgments"], experiment_id=1, n_answers=2
    )
    o = s["overall"].collect()[0]
    assert (o["total_answers"], o["mcq_total"], o["mcq_correct"]) == (8, 4, 3)
    assert o["mcq_accuracy"] == 0.75
    assert o["open_total"] == 4
    assert (o["generation_input"], o["generation_output"]) == (127, 146)

    open_stats = s["open"].collect()[0]
    assert open_stats["judged"] == 5
    assert open_stats["avg_score"] == 0.76
    assert open_stats["median_score"] == 0.8

    jt = s["judge_tokens"].collect()[0]
    # token sums include the score-less judgment 205 (ref :74-83)
    assert (jt["judge_input"], jt["judge_output"]) == (311, 69)

    dist = {r["range"]: r["count"] for r in s["score_distribution"].collect()}
    assert len(dist) == 11
    assert dist["0.5-0.6"] == 1 and dist["0.8-0.9"] == 1 and dist["1.0-1.1"] == 1
    assert dist["0.0-0.1"] == 0

    sc = s["self_consistency"].collect()[0]
    assert (sc["total_variants"], sc["unanimous"], sc["unanimous_rate"]) == (2, 1, 0.5)


def test_experiment_stats_judge_filter(spark, t):
    s = experiment_stats(t["answers"], t["judgments"], experiment_id=1, judge_model="j2")
    open_stats = s["open"].collect()[0]
    assert (open_stats["judged"], open_stats["avg_score"]) == (1, 0.6)
    jt = s["judge_tokens"].collect()[0]
    assert (jt["judge_input"], jt["judge_output"]) == (52 + 54, 11 + 13)


def test_breakdown_by_area(spark, t):
    rows = breakdown_by_field(
        t["answers"], t["judgments"], t["variants"], t["questions"],
        experiment_id=1, field="area",
    ).collect()
    by = {r["name"]: r for r in rows}
    assert by["Private"]["mcq_accuracy"] == 0.75 and by["Private"]["mcq_total"] == 4
    assert by["Private"]["open_avg_score"] == 0.7 and by["Private"]["open_total"] == 2
    assert by["Criminal"]["mcq_accuracy"] is None
    assert by["Criminal"]["open_avg_score"] == 0.5
    assert by["Public"]["open_avg_score"] == 0.95 and by["Public"]["open_total"] == 2


def test_compare_judges(spark, t):
    rows = compare_judges(t["answers"], t["judgments"], experiment_id=1).collect()
    by = {r["judge_model"]: r for r in rows}
    assert (by["j1"]["judged"], by["j1"]["avg_score"], by["j1"]["median_score"]) == (4, 0.8, 0.85)
    assert (by["j2"]["judged"], by["j2"]["avg_score"]) == (1, 0.6)


def test_stats_by_question(spark, t):
    rows = stats_by_question(
        t["answers"], t["judgments"], t["variants"], t["questions"], experiment_id=1
    ).collect()
    assert [r["question_id"] for r in rows] == ["q4", "q1", "q3", "q2"]
    by = {r["question_id"]: r for r in rows}
    assert (by["q1"]["answer_count"], by["q1"]["judgment_count"]) == (3, 2)
    # q1's runs disagree (101 True, 102 False): the reference folds in
    # answer-id order and the LAST non-NULL mcq_correct wins
    # (experiment_stats.py:194-196) → False, not bool_or's True
    assert by["q1"]["avg_score"] == 0.7 and by["q1"]["mcq_correct"] is False
    assert by["q2"]["avg_score"] is None and by["q2"]["judgment_count"] == 0
    assert by["q4"]["avg_score"] == 0.95
    assert by["q3"]["mcq_correct"] is None


# ── answer / judgment listings (J7 → set-based) ────────────────────────────


def test_answers_page_enrichment(spark, t):
    from lexam_data_pipeline_spark.serving import answers_page

    page = answers_page(
        t["answers"], t["variants"], t["questions"], experiment_id=1, offset=2, limit=3
    )
    assert (page.total, page.offset, page.limit) == (8, 2, 3)
    rows = page.rows.collect()
    assert [r["id"] for r in rows] == [103, 104, 105]
    a103 = rows[0]
    # enriched through variant 3 → question q2
    assert (a103["question_id"], a103["config"], a103["course"]) == (
        "q2", "mcq_4_choices", "Tort Law",
    )
    assert a103["gold_index"] == 0 and a103["choices"] == ["p", "q", "r", "s"]


def test_judgments_page_filter_and_enrichment(spark, t):
    from lexam_data_pipeline_spark.serving import judgments_page

    page = judgments_page(
        t["judgments"], t["answers"], t["variants"], t["questions"],
        experiment_id=1, judge_model="j1",
    )
    assert page.total == 4
    rows = page.rows.collect()
    assert [r["id"] for r in rows] == [201, 202, 203, 206]
    j201 = rows[0]
    # judgment 201 → answer 105 → variant 2 → q1
    assert (j201["answer_id"], j201["question_id"], j201["course"]) == (
        105, "q1", "Contract Law",
    )
    assert j201["model_answer"] == "an open answer"
    assert j201["gold_answer"] == "one two three four five six seven"
    # unfiltered sees both judges
    all_page = judgments_page(
        t["judgments"], t["answers"], t["variants"], t["questions"], experiment_id=1
    )
    assert all_page.total == 6


@pytest.mark.parametrize("listing", ["answers", "judgments"])
def test_listing_rows_read_the_persisted_base(spark, t, listing):
    """The page's persisted base outlives the call: the caller's lazy
    ``rows`` reads the cache too, not only the page's count."""
    from lexam_data_pipeline_spark.serving import answers_page, judgments_page
    from tests.test_plan_memo import _inmemory_relations

    if listing == "answers":
        page = answers_page(t["answers"], t["variants"], t["questions"], experiment_id=1)
    else:
        page = judgments_page(
            t["judgments"], t["answers"], t["variants"], t["questions"], experiment_id=1
        )
    assert _inmemory_relations(page.rows) >= 1


# ── summary endpoints ──────────────────────────────────────────────────────


def test_corpus_stats(spark, t):
    from lexam_data_pipeline_spark.serving import corpus_stats

    s = corpus_stats(t["questions"], t["variants"])
    totals = s["totals"].collect()[0]
    assert (totals["total_questions"], totals["total_variants"]) == (6, 10)
    by_config = {r["config"]: r["count"] for r in s["by_config"].collect()}
    assert by_config["mcq_4_choices"] == 3 and by_config["open_question"] == 4
    years = [r["year"] for r in s["by_year"].collect()]
    assert years == sorted(years)


def test_search_summary(spark, t):
    from lexam_data_pipeline_spark.serving import search_summary

    s = search_summary(t["questions"], t["variants"], "recht")
    assert s["total"].collect()[0]["total"] == 2  # q3, q5
    by_area = {r["area"]: r["count"] for r in s["by_area"].collect()}
    assert by_area == {"Criminal": 1, "Public": 1}
    courses = [(r["course"], r["count"]) for r in s["by_course"].collect()]
    assert courses == [("Administrative Law", 1), ("Criminal Law", 1)]


def test_judge_summary_includes_scoreless(spark, t):
    from lexam_data_pipeline_spark.serving import judge_summary

    rows = judge_summary(t["answers"], t["judgments"], experiment_id=1).collect()
    by = {r["judge_model"]: r for r in rows}
    # j2 has judgments 204 (0.6) and 205 (NULL score): count both, avg one
    assert (by["j2"]["count"], by["j2"]["avg_score"]) == (2, 0.6)
    assert (by["j1"]["count"], by["j1"]["avg_score"]) == (4, 0.8)


def test_question_count_preview(spark, t):
    from lexam_data_pipeline_spark.serving import question_count

    assert question_count(t["variants"], t["questions"], {}) == 10
    assert question_count(
        t["variants"], t["questions"], {"area": ["Public"], "config": ["open_question"]}
    ) == 2


def test_get_question(spark, t):
    from lexam_data_pipeline_spark.serving import get_question

    row = get_question(t["questions"], t["variants"], "q1").collect()
    assert len(row) == 1
    assert [v["id"] for v in row[0]["variants"]] == [1, 2]
    # question without variants gets an empty array, not NULL
    no_v = get_question(
        t["questions"].withColumn("id", F.concat(F.col("id"), F.lit("x"))),
        t["variants"],
        "q1x",
    ).collect()[0]
    assert no_v["variants"] == []


def test_page_search_with_variant_filter_combined(spark, t):
    # search 'answer' hits q1 (variant 2's answer contains 'seven'? no -
    # 'one two...seven'); use 'seven' + config filter open_question: q1
    from lexam_data_pipeline_spark.serving import questions_page

    page = questions_page(
        t["questions"], t["variants"],
        fc={"config": ["mcq_8_choices"]}, search="seven",
    )
    # q1 matches the search via its open answer, but has no mcq_8 variant
    assert page.total == 0
    page2 = questions_page(
        t["questions"], t["variants"],
        fc={"config": ["open_question"]}, search="seven",
    )
    assert [r["id"] for r in page2.rows.collect()] == ["q1"]
