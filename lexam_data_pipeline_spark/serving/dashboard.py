"""Serving parity: the dashboard aggregation suite (SURVEY §3.2; ref
backend/app/main.py:311-459) and the course summary (main.py:225-308).

The reference issues ~9 independent Postgres round-trips and reshapes the
results in Python (pivot dicts, fixed-bin histogram, statistics.mean/
median).  Here the restricted rows are counted ONCE into small cell
tables (:func:`dashboard_cells`) and every section is a rollup of those
cells (:func:`dashboard_sections`): the pivots are conditional sums
over enumerated value lists, the histogram is ``F.when`` bucketing, the
median is built-in ``percentile`` weighted by the cell counts.

All outputs are DataFrames (lazy); ``dashboard()`` returns them in a dict
keyed like the reference's JSON response.  The streaming maintainer
(streaming/dashboard.py) keeps the same cells as state and serves the
same sections, so the batch endpoint and its streaming twin share one
definition of each section.

Scale notes: the question cells and the word-count histogram persist
once per request and each section shuffles only its tiny group keys;
the histogram densifies empty bins by joining the bin spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.functions.text import word_count
from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.operators.partitioning import narrow
from lexam_data_pipeline_spark.serving.stats import flat_section

AREAS = ("Private", "Public", "Criminal", "Interdisciplinary")
JURISDICTIONS = ("Swiss", "International", "Generic")
LANGUAGES = ("de", "en")
MCQ_CONFIGS = ("mcq_4_choices", "mcq_8_choices", "mcq_16_choices", "mcq_32_choices")

#: open-answer word-count bins (ref main.py:426-429): [lo, hi) with an
#: unbounded last bin.
ANSWER_LENGTH_BINS = (
    (0, 50, "< 50 words"),
    (50, 100, "50–100"),
    (100, 200, "100–200"),
    (200, 400, "200–400"),
    (400, 600, "400–600"),
    (600, None, "600+"),
)


def _restrict(
    questions: DataFrame,
    variants: DataFrame,
    configs: list[str] | None,
    languages: list[str] | None,
) -> tuple[DataFrame, DataFrame]:
    """The two semi-join restrictions (J6, ref main.py:320-337): questions
    to ids having a variant in ``configs``; variants to questions in
    ``languages`` (and to ``configs`` directly)."""
    q, v = questions, variants
    if configs:
        qids = variants.filter(F.col("config").isin(*configs)).select(
            F.col("question_id").alias("id")
        )
        q = q.join(qids, "id", "left_semi")
        v = v.filter(F.col("config").isin(*configs))
    if languages:
        q = q.filter(F.col("language").isin(*languages))
        lang_ids = questions.filter(F.col("language").isin(*languages)).select(
            F.col("id").alias("question_id")
        )
        v = v.join(F.broadcast(lang_ids), "question_id", "left_semi")
    return q, v


def dashboard_cells(q: DataFrame, v: DataFrame) -> dict[str, DataFrame]:
    """The cell tables every dashboard section reads, counted from
    restricted questions ``q`` and variants ``v`` (see :func:`_restrict`):

    * ``q_cells (course, area, jurisdiction, language, year, n)`` —
      question counts; the seven question-side sections roll it up
    * ``split_counts (split, n)`` and ``split_total (n)`` — distinct
      questions per split and overall
    * ``wc_hist (area, wc, n)`` — open-answer word counts at value
      grain; the length histogram and the per-area stats read it

    The batch endpoint counts its whole restricted input; the streaming
    maintainer (streaming/dashboard.py) counts each micro-batch and sums
    the cells into its state."""
    open_answers = (
        v.filter((F.col("config") == "open_question") & F.col("answer").isNotNull())
        .select("question_id", "answer")
        .join(
            F.broadcast(q.select(F.col("id").alias("question_id"), "area")),
            "question_id",
            "inner",
        )
    )
    return {
        "q_cells": q.groupBy("course", "area", "jurisdiction", "language", "year").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "split_counts": v.groupBy("split").agg(F.countDistinct("question_id").alias("n")),
        "split_total": v.agg(F.countDistinct("question_id").alias("n")),
        "wc_hist": open_answers.select("area", word_count(F.col("answer")).alias("wc"))
        .groupBy("area", "wc")
        .agg(F.count(F.lit(1)).alias("n")),
    }


def answer_length_histogram(wc_hist: DataFrame) -> DataFrame:
    """A8: fixed-bin histogram of answer word counts, empty bins densified
    to 0 (ref main.py:419-429), summed from the ``wc_hist (area, wc, n)``
    cells of :func:`dashboard_cells`.  Column ``range``, ``count``."""
    expr = None
    for lo, hi, label in ANSWER_LENGTH_BINS:
        cond = (F.col("wc") >= lo) if hi is None else ((F.col("wc") >= lo) & (F.col("wc") < hi))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    counted = wc_hist.groupBy(expr.alias("range")).agg(F.sum("n").alias("count"))
    spec = local_rows(
        wc_hist.sparkSession,
        [(label,) for _, _, label in ANSWER_LENGTH_BINS], "range string"
    )
    return (
        spec.join(counted, "range", "left_outer")
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)).cast("long"))
    )


def dashboard_sections(cells: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The ten dashboard sections, reference-shaped, off the
    :func:`dashboard_cells` tables — of one request's restricted rows or
    of the streaming maintainer's summed state."""
    q, hist = cells["q_cells"], cells["wc_hist"]

    def n_where(cond) -> F.Column:
        return F.sum(F.when(cond, F.col("n")).otherwise(0))

    def cross_tab(row: str, col: str, values: tuple[str, ...]) -> DataFrame:
        # the reference's pivots over an enumerated value list (A9,
        # main.py:369-379): one conditional sum per value, 0 when absent
        return q.groupBy(row).agg(*[n_where(F.col(col) == x).alias(x) for x in values])

    # courses: per-course count + conditional language counts (A10,
    # main.py:342-355), sorted by count desc (course tiebreak for
    # determinism — the reference's Python sort is stable on dict order)
    courses = (
        q.groupBy("course")
        .agg(
            F.first("area").alias("area"),
            F.sum("n").alias("count"),
            n_where(F.col("language") == "de").alias("lang_de"),
            n_where(F.col("language") != "de").alias("lang_en"),
        )
        .orderBy(F.desc("count"), F.asc("course"))
    )
    # year × area with the row total over the four enumerated areas
    years = (
        cross_tab("year", "area", AREAS)
        .withColumn("total", sum(F.col(a) for a in AREAS))
        .orderBy("year")
    )

    # splits: distinct questions per split + share of the distinct total
    # (A4 + A15/W2, main.py:382-385), joined as one broadcast row
    total_split = cells["split_total"].select(F.col("n").alias("__total"))
    splits = (
        cells["split_counts"]
        .crossJoin(F.broadcast(total_split))
        .select(
            F.col("split").alias("name"),
            F.col("n").alias("value"),
            F.when(F.col("__total") > 0, F.concat(
                F.round(F.col("n") / F.col("__total") * 100).cast("int").cast("string"),
                F.lit("%"),
            )).otherwise(F.lit("0%")).alias("pct"),
        )
    )

    # A7: mean/median/min/max per area; the exact median is Spark's
    # percentile with the cell count as frequency (percentile_approx is
    # the documented 100 TB switch)
    answer_stats = hist.groupBy("area").agg(
        F.round(F.sum(F.col("wc").cast("double") * F.col("n")) / F.sum("n"))
        .cast("int")
        .alias("avgWords"),
        F.round(F.percentile("wc", F.lit(0.5), F.col("n"))).cast("int").alias("medianWords"),
        F.min("wc").alias("minWords"),
        F.max("wc").alias("maxWords"),
    )

    return {
        "total_questions": q.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total_questions")
        ),
        "courses": courses,
        "areas": q.groupBy(F.col("area").alias("name")).agg(F.sum("n").alias("value")),
        "jurisdictions": q.groupBy(F.col("jurisdiction").alias("name")).agg(
            F.sum("n").alias("value")
        ),
        "years": years,
        "splits": splits,
        "area_jurisdiction": cross_tab("area", "jurisdiction", JURISDICTIONS),
        "lang_area": cross_tab("area", "language", LANGUAGES),
        "answer_lengths": answer_length_histogram(hist),
        "answer_stats": answer_stats,
    }


def dashboard(
    questions: DataFrame,
    variants: DataFrame,
    *,
    configs: list[str] | None = None,
    languages: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Every dashboard aggregate as a lazy DataFrame, reference-shaped."""
    questions, variants = narrow(questions), narrow(variants)
    cells = dashboard_cells(*_restrict(questions, variants, configs, languages))
    # the question cells feed seven sections and the histogram two:
    # slot-bounded caches, released when the next dashboard call
    # replaces the slot (the returned frames are lazy — ADVICE r1 leak fix)
    for t in ("q_cells", "wc_hist"):
        cells[t] = persist_slot(cells[t], f"dashboard.{t}")
    return dashboard_sections(cells)


def course_summary(
    questions: DataFrame, variants: DataFrame, *, broadcast_questions: bool = True
) -> DataFrame:
    """The course-summary endpoint (A10/A11, ref main.py:225-308): one row
    per course with per-config distinct-question counts, the union
    cardinality ``total``, sorted label sets, sorted (area, total desc).

    The reference collects every row into Python sets; here the sets are
    conditional ``collect_set``s in one aggregate and ``total`` is the
    size of their array union — no driver-side state.

    ``broadcast_questions`` fits the serving case (a question bank that
    fits one executor); pass False when ``questions`` is corpus-sized —
    e.g. the q_course_summary contract key's one-row-per-document
    projection — so the join stays a hash join co-partitioned on
    question_id instead of an unbounded forced broadcast (round-6
    review finding).
    """
    questions, variants = narrow(questions), narrow(variants)
    q_side = questions.select(
        F.col("id").alias("question_id"),
        "course",
        "area",
        "jurisdiction",
        "international",
        "language",
    )
    if broadcast_questions:
        q_side = F.broadcast(q_side)
    base = variants.select("question_id", "config", "split").join(
        q_side, "question_id", "inner"
    )
    is_mcq4 = F.col("config") == "mcq_4_choices"
    is_mcq = F.col("config").isin(*MCQ_CONFIGS)
    is_open = F.col("config") == "open_question"
    qid = F.col("question_id")
    empty = F.array().cast("array<string>")

    agg = base.groupBy("course").agg(
        F.first("area").alias("area"),
        F.concat_ws(", ", F.sort_array(F.collect_set("jurisdiction"))).alias("jurisdiction"),
        F.coalesce(F.bool_or("international"), F.lit(False)).alias("international"),
        F.collect_set("language").alias("__langs"),
        F.collect_set(F.when(is_mcq4, qid)).alias("__mcq4"),
        F.collect_set(F.when(is_mcq, qid)).alias("__mcq_all"),
        F.collect_set(F.when(is_open, qid)).alias("__open"),
        F.collect_set(F.when(is_open & (F.col("split") == "dev"), qid)).alias("__open_dev"),
        F.collect_set(F.when(is_open & (F.col("split") == "test"), qid)).alias("__open_test"),
    )
    return (
        agg.select(
            "course",
            "area",
            "jurisdiction",
            "international",
            F.size("__mcq4").alias("mcq_4"),
            F.size("__mcq_all").alias("mcq_all"),
            F.size("__open").alias("open_qa"),
            F.size("__open_dev").alias("open_dev"),
            F.size("__open_test").alias("open_test"),
            # U2: |mcq4 ∪ mcq_all ∪ open| (main.py:293)
            F.size(
                F.array_distinct(
                    F.concat(
                        F.coalesce("__mcq4", empty),
                        F.coalesce("__mcq_all", empty),
                        F.coalesce("__open", empty),
                    )
                )
            ).alias("total"),
            F.when(F.size("__langs") > 1, F.lit("both"))
            .otherwise(F.element_at("__langs", 1))
            .alias("language"),
        )
        .orderBy("area", F.desc("total"), "course")
    )


def flatten_dashboard(d: dict[str, DataFrame]) -> DataFrame:
    """Flatten the :func:`dashboard` dict to ONE long-format frame
    ``(section, key, metric, value_num, value_str)`` — shared by the
    q_dashboard_suite contract key and the streaming maintainer's
    served report (streaming/dashboard.py), so the flatten expressions
    cannot diverge between the batch and streaming doors."""
    parts = [
        flat_section("total", d["total_questions"], F.lit("all"), ("total_questions",)),
        flat_section(
            "courses",
            d["courses"],
            F.col("course"),
            ("count", "lang_de", "lang_en"),
            ("area",),
        ),
        flat_section("areas", d["areas"], F.col("name"), ("value",)),
        flat_section("jurisdictions", d["jurisdictions"], F.col("name"), ("value",)),
        flat_section("years", d["years"], F.col("year"), (*AREAS, "total")),
        flat_section("splits", d["splits"], F.col("name"), ("value",), ("pct",)),
        flat_section(
            "area_jurisdiction",
            d["area_jurisdiction"],
            F.col("area"),
            tuple(JURISDICTIONS),
        ),
        flat_section("lang_area", d["lang_area"], F.col("area"), tuple(LANGUAGES)),
        flat_section("answer_lengths", d["answer_lengths"], F.col("range"), ("count",)),
        flat_section(
            "answer_stats",
            d["answer_stats"],
            F.col("area"),
            ("avgWords", "medianWords", "minWords", "maxWords"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
