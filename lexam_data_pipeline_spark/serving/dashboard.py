"""Serving parity: the dashboard aggregation suite (SURVEY §3.2; ref
backend/app/main.py:311-459) and the course summary (main.py:225-308).

The reference issues ~9 independent Postgres round-trips and reshapes the
results in Python (pivot dicts, fixed-bin histogram, statistics.mean/
median).  Here every aggregate is a job off ONE persisted filtered base
DataFrame, and the Python reshape layer becomes plan operators:
``groupBy().pivot()``, ``F.when`` bucketing, built-in ``percentile``.

All outputs are DataFrames (lazy); ``dashboard()`` returns them in a dict
keyed like the reference's JSON response.

Scale notes: the base persists once and each aggregate shuffles only its
tiny group keys; pivots enumerate their value lists explicitly (no extra
distinct pass); the histogram densifies empty bins by unioning the bin
spec, not by a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.operators.partitioning import narrow

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


def word_count(col: F.Column) -> F.Column:
    """Python ``len(s.split())`` parity (F2): count of non-space runs,
    NULL → 0 (see functions.text.word_count for the trim pitfall)."""
    return F.coalesce(F.regexp_count(col, F.lit(r"\S+")), F.lit(0))


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


def answer_length_histogram(open_answers: DataFrame) -> DataFrame:
    """A8: fixed-bin histogram of answer word counts, empty bins densified
    to 0 (ref main.py:419-429).  Column ``range``, ``count``."""
    wc = open_answers.select(word_count(F.col("answer")).alias("wc"))
    bucket = F.lit(None).cast("string")
    expr = None
    for lo, hi, label in ANSWER_LENGTH_BINS:
        cond = (F.col("wc") >= lo) if hi is None else ((F.col("wc") >= lo) & (F.col("wc") < hi))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    counted = wc.select(expr.alias("range")).groupBy("range").agg(
        F.count(F.lit(1)).alias("count")
    )
    spark = open_answers.sparkSession
    spec = local_rows(
        spark,
        [(label,) for _, _, label in ANSWER_LENGTH_BINS], "range string"
    )
    return (
        spec.join(counted, "range", "left_outer")
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)).cast("long"))
    )


def dashboard(
    questions: DataFrame,
    variants: DataFrame,
    *,
    configs: list[str] | None = None,
    languages: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Every dashboard aggregate as a lazy DataFrame, reference-shaped."""
    questions, variants = narrow(questions), narrow(variants)
    q, v = _restrict(questions, variants, configs, languages)
    # slot-bounded cache: released when the next dashboard call replaces
    # the slot (the returned frames are lazy — ADVICE r1 leak fix)
    q = persist_slot(q, "dashboard.questions")

    # courses: per-course count + conditional language counts (A10,
    # main.py:342-355), sorted by count desc (course tiebreak for
    # determinism — the reference's Python sort is stable on dict order)
    courses = (
        q.groupBy("course")
        .agg(
            F.first("area").alias("area"),
            F.count(F.lit(1)).alias("count"),
            F.sum(F.when(F.col("language") == "de", 1).otherwise(0)).alias("lang_de"),
            F.sum(F.when(F.col("language") != "de", 1).otherwise(0)).alias("lang_en"),
        )
        .orderBy(F.desc("count"), F.asc("course"))
    )

    areas = q.groupBy(F.col("area").alias("name")).agg(F.count(F.lit(1)).alias("value"))
    jurisdictions = q.groupBy(F.col("jurisdiction").alias("name")).agg(
        F.count(F.lit(1)).alias("value")
    )

    # year × area pivot with row total (A9, main.py:369-379)
    years = (
        q.groupBy("year")
        .pivot("area", list(AREAS))
        .count()
        .select(
            "year",
            *[F.coalesce(F.col(a), F.lit(0)).alias(a) for a in AREAS],
        )
        .withColumn("total", sum(F.col(a) for a in AREAS))
        .orderBy("year")
    )

    # splits: distinct questions per split + share of total (A4 + A15/W2,
    # main.py:382-385). The total is the distinct count over all splits —
    # computed in the same plan via a windowless cross-join of one row.
    split_counts = v.groupBy(F.col("split").alias("name")).agg(
        F.countDistinct("question_id").alias("value")
    )
    total_split = v.agg(F.countDistinct("question_id").alias("__total"))
    splits = split_counts.crossJoin(F.broadcast(total_split)).select(
        "name",
        "value",
        F.when(F.col("__total") > 0, F.concat(
            F.round(F.col("value") / F.col("__total") * 100).cast("int").cast("string"),
            F.lit("%"),
        )).otherwise(F.lit("0%")).alias("pct"),
    )

    area_jurisdiction = (
        q.groupBy("area")
        .pivot("jurisdiction", list(JURISDICTIONS))
        .count()
        .select(
            "area",
            *[F.coalesce(F.col(j), F.lit(0)).alias(j) for j in JURISDICTIONS],
        )
    )
    lang_area = (
        q.groupBy("area")
        .pivot("language", list(LANGUAGES))
        .count()
        .select("area", *[F.coalesce(F.col(lang), F.lit(0)).alias(lang) for lang in LANGUAGES])
    )

    # open answers (main.py:410-417): area ⋈ answer, config fixed
    open_answers = (
        v.filter((F.col("config") == "open_question") & F.col("answer").isNotNull())
        .select("question_id", "answer")
        .join(
            F.broadcast(q.select(F.col("id").alias("question_id"), "area")),
            "question_id",
            "inner",
        )
    )
    answer_lengths = answer_length_histogram(open_answers)
    # A7: mean/median/min/max per area; exact median for oracle parity,
    # percentile_approx is the documented 100 TB switch
    answer_stats = (
        open_answers.select("area", word_count(F.col("answer")).alias("wc"))
        .groupBy("area")
        .agg(
            F.round(F.avg("wc")).cast("int").alias("avgWords"),
            F.round(F.percentile("wc", F.lit(0.5))).cast("int").alias("medianWords"),
            F.min("wc").alias("minWords"),
            F.max("wc").alias("maxWords"),
        )
    )

    return {
        "total_questions": q.agg(F.count(F.lit(1)).alias("total_questions")),
        "courses": courses,
        "areas": areas,
        "jurisdictions": jurisdictions,
        "years": years,
        "splits": splits,
        "area_jurisdiction": area_jurisdiction,
        "lang_area": lang_area,
        "answer_lengths": answer_lengths,
        "answer_stats": answer_stats,
    }


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

    def flat(
        section: str,
        df: DataFrame,
        key,
        nums: tuple[str, ...] = (),
        strs: tuple[str, ...] = (),
    ) -> DataFrame:
        # one stack generator per section, not one union branch per
        # metric: the per-metric union re-plans (and can re-execute)
        # the section's aggregate once per metric (round-9 measurement
        # on the stats composites; identical cells either way)
        cells: list[str] = []
        for m in nums:
            cells += [f"'{m}'", f"CAST(`{m}` AS DOUBLE)", "CAST(NULL AS STRING)"]
        for m in strs:
            cells += [f"'{m}'", "CAST(NULL AS DOUBLE)", f"CAST(`{m}` AS STRING)"]
        n = len(nums) + len(strs)
        return df.select(
            F.lit(section).alias("section"),
            key.cast("string").alias("key"),
            F.expr(f"stack({n}, {', '.join(cells)})").alias(
                "metric", "value_num", "value_str"
            ),
        )

    parts = [
        flat("total", d["total_questions"], F.lit("all"), ("total_questions",)),
        flat(
            "courses",
            d["courses"],
            F.col("course"),
            ("count", "lang_de", "lang_en"),
            ("area",),
        ),
        flat("areas", d["areas"], F.col("name"), ("value",)),
        flat("jurisdictions", d["jurisdictions"], F.col("name"), ("value",)),
        flat("years", d["years"], F.col("year"), (*AREAS, "total")),
        flat("splits", d["splits"], F.col("name"), ("value",), ("pct",)),
        flat(
            "area_jurisdiction",
            d["area_jurisdiction"],
            F.col("area"),
            tuple(JURISDICTIONS),
        ),
        flat("lang_area", d["lang_area"], F.col("area"), tuple(LANGUAGES)),
        flat("answer_lengths", d["answer_lengths"], F.col("range"), ("count",)),
        flat(
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
