"""Serving parity: experiment statistics (SURVEY §2.4 A12-A14; ref
backend/app/routers/experiment_stats.py:13-284).

The reference's shape is N+1 point lookups (J7: per answer, fetch variant
then question, then per-answer judgment queries) folded into Python dicts.
Here each endpoint counts its filtered rows ONCE into small cell tables,
and every section is a rollup of those cells:

* ``overall`` (1 row) — answer, MCQ and open counts, generation tokens
* ``variant_letters (variant_id, letter)`` — extracted letters per variant
* ``jscore_cells (score, n)`` — judged scores of open answers
* ``jtokens`` (1 row) — judge token sums of open answers
* ``mcq_cells (field, name, mcq_total, mcq_correct)`` and
  ``open_cells (field, name, score, n)`` — the per-field breakdown
* ``judge_cells (judge_model, score, n)`` — compare-judges
* ``byq_cells (question_id, …)`` — the by-question fold

:func:`stats_sections` builds the /stats sections and
:func:`judge_sections` the compare-judges ones.  The streaming
maintainers (streaming/experiment_stats.py, streaming/judge_stats.py)
count each micro-batch with the same builders, sum the cells into their
state and serve the same sections, so no section is defined twice.

Semantics preserved exactly:

* "MCQ answer" = extracted_letter IS NOT NULL; "open" = IS NULL
  (experiment_stats.py:32,38) — not config-based.
* scores only from judgments with non-NULL score, optional judge filter
  (experiment_stats.py:43-49).
* rounding to 4 decimals at the edge (F11); exact median
  (statistics.median interpolates the even-count midpoint — matched by
  Spark's percentile(0.5), here with the cell count as frequency).
* unanimity over variants with any extracted letter
  (experiment_stats.py:262-284).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.operators.partitioning import narrow

#: score histogram: 11 buckets of 0.1, last bucket = [1.0, ∞)
#: (experiment_stats.py:54-61)
SCORE_BUCKETS = [(i / 10, (i + 1) / 10, f"{i / 10:.1f}-{(i + 1) / 10:.1f}") for i in range(11)]


def _filtered_answers(answers: DataFrame, experiment_id: int, model_name: str | None) -> DataFrame:
    # errored rows don't exist in the reference (failed generation calls
    # roll back), so they never reach its stats — an errored MCQ answer
    # would otherwise masquerade as open_total here (NULL extracted_letter)
    out = answers.filter(F.col("experiment_id") == experiment_id).filter(
        F.col("error").isNull()
    )
    if model_name:
        out = out.filter(F.col("model_name") == model_name)
    return out


def _by_judge(judgments: DataFrame, judge_model: str | None) -> DataFrame:
    if judge_model:
        return judgments.filter(F.col("judge_model") == judge_model)
    return judgments


def _scored(judgments: DataFrame) -> DataFrame:
    return judgments.filter(F.col("score").isNotNull())


def _is_mcq() -> Column:
    return F.col("extracted_letter").isNotNull()


def _mcq_counts() -> list[Column]:
    correct = _is_mcq() & F.coalesce(F.col("mcq_correct"), F.lit(False))
    return [
        F.sum(_is_mcq().cast("int")).alias("mcq_total"),
        F.sum(correct.cast("int")).alias("mcq_correct"),
    ]


def tag_answers(
    ans: DataFrame, variants: DataFrame, questions: DataFrame, fields: tuple[str, ...]
) -> DataFrame:
    """``ans`` with ``(field, name)`` columns: one row per answer and
    breakdown field, ``name`` the question's value of that field (or
    'unknown') — a ``stack`` generator, so one pass serves every field
    (the reference's /stats payload embeds both the area and the course
    breakdown, experiment_stats.py:64-65)."""
    dims = variants.select(F.col("id").alias("variant_id"), "question_id").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), *fields)),
        "question_id",
        "left_outer",
    )
    cells = ", ".join(f"'{f}', coalesce(CAST(`{f}` AS STRING), 'unknown')" for f in fields)
    return ans.join(F.broadcast(dims), "variant_id", "left_outer").select(
        *ans.columns, F.expr(f"stack({len(fields)}, {cells})").alias("field", "name")
    )


def question_answers(ans: DataFrame, variants: DataFrame, questions: DataFrame) -> DataFrame:
    """``ans`` with its question's id ('unknown' when the variant is
    missing), course, area and the variant's config."""
    dims = variants.select(F.col("id").alias("variant_id"), "question_id", "config").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), "course", "area")),
        "question_id",
        "left_outer",
    )
    return ans.join(F.broadcast(dims), "variant_id", "left_outer").withColumn(
        "question_id", F.coalesce(F.col("question_id"), F.lit("unknown"))
    )


def open_names(tagged: DataFrame) -> DataFrame:
    """``(answer_id, field, name)`` of the open answers of
    :func:`tag_answers` rows."""
    return tagged.filter(~_is_mcq()).select(F.col("id").alias("answer_id"), "field", "name")


# ── cell builders: one per cell table ──────────────────────────────────────


def overall_cells(ans: DataFrame) -> DataFrame:
    """``overall``: answer, MCQ and open counts and generation token sums."""
    return ans.agg(
        F.count(F.lit(1)).alias("total_answers"),
        *_mcq_counts(),
        F.sum((~_is_mcq()).cast("int")).alias("open_total"),
        F.sum(F.coalesce("input_tokens", F.lit(0))).alias("generation_input"),
        F.sum(F.coalesce("output_tokens", F.lit(0))).alias("generation_output"),
    )


def variant_letters(ans: DataFrame) -> DataFrame:
    """``variant_letters (variant_id, letter)``: the letter of each
    letter-bearing answer.  Pairs may repeat — self-consistency counts
    distinct letters per variant."""
    return ans.filter(_is_mcq()).select("variant_id", F.col("extracted_letter").alias("letter"))


def jscore_cells(judgments: DataFrame) -> DataFrame:
    """``jscore_cells (score, n)``: judgments per non-NULL score."""
    return _scored(judgments).groupBy("score").agg(F.count(F.lit(1)).alias("n"))


def jtokens(judgments: DataFrame) -> DataFrame:
    """``jtokens``: judge token sums over ALL the judgments, score-less
    included (ref experiment_stats.py:74-83 has no score filter)."""
    return judgments.agg(
        F.coalesce(F.sum("input_tokens"), F.lit(0)).alias("judge_input"),
        F.coalesce(F.sum("output_tokens"), F.lit(0)).alias("judge_output"),
    )


def mcq_cells(tagged: DataFrame) -> DataFrame:
    """``mcq_cells (field, name, mcq_total, mcq_correct)`` of
    :func:`tag_answers` rows."""
    return tagged.groupBy("field", "name").agg(*_mcq_counts())


def open_cells(names: DataFrame, judgments: DataFrame) -> DataFrame:
    """``open_cells (field, name, score, n)``: scored judgments of the
    answers in ``names`` (:func:`open_names`)."""
    return (
        names.join(_scored(judgments).select("answer_id", "score"), "answer_id", "inner")
        .groupBy("field", "name", "score")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def judge_cells(judgments: DataFrame, answer_ids: DataFrame) -> DataFrame:
    """``judge_cells (judge_model, score, n)``: scored judgments of the
    answers in ``answer_ids (answer_id)``."""
    return (
        _scored(judgments)
        .join(answer_ids, "answer_id", "left_semi")
        .groupBy("judge_model", "score")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_byq(cells: DataFrame) -> DataFrame:
    """Merge by-question fold rows: course/area/config of the MIN answer
    id, mcq_correct of the MAX answer id with a non-NULL value, additive
    counters.  min_by/max_by skip NULL fold keys, so rows without answers
    (judgment deltas) cannot displace them; the fold key (answer id) is
    total, so any split of the rows merges to the same cells."""
    return cells.groupBy("question_id").agg(
        F.min("first_id").alias("first_id"),
        F.min_by("course", "first_id").alias("course"),
        F.min_by("area", "first_id").alias("area"),
        F.min_by("config", "first_id").alias("config"),
        F.max("mc_id").alias("mc_id"),
        F.max_by("mcq_correct", "mc_id").alias("mcq_correct"),
        F.sum("answer_count").alias("answer_count"),
        F.sum("judgment_count").alias("judgment_count"),
        F.sum("score_sum").alias("score_sum"),
    )


def byq_cells(answers: DataFrame | None = None, judgments: DataFrame | None = None) -> DataFrame:
    """``byq_cells (question_id, first_id, course, area, config, mc_id,
    mcq_correct, answer_count, judgment_count, score_sum)`` of
    :func:`question_answers` rows and of scored ``judgments
    (question_id, score)``.  The reference folds answers in answer-id
    order (experiment_stats.py:179-196): course/area/config come from the
    FIRST answer, the LAST non-NULL mcq_correct wins — min_by/max_by over
    the answer id here, stable under any partitioning."""
    parts = []
    if answers is not None:
        mc_id = F.when(F.col("mcq_correct").isNotNull(), F.col("id"))
        parts.append(
            answers.groupBy("question_id").agg(
                F.min("id").alias("first_id"),
                F.min_by("course", "id").alias("course"),
                F.min_by("area", "id").alias("area"),
                F.min_by("config", "id").alias("config"),
                F.max(mc_id).alias("mc_id"),
                F.max_by("mcq_correct", mc_id).alias("mcq_correct"),
                F.count(F.lit(1)).alias("answer_count"),
                F.lit(0).cast("long").alias("judgment_count"),
                F.lit(0.0).alias("score_sum"),
            )
        )
    if judgments is not None:
        parts.append(
            _scored(judgments).groupBy("question_id").agg(
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
    return merge_byq(reduce(DataFrame.unionByName, parts))


# ── sections ───────────────────────────────────────────────────────────────


def _rate(num: str, den: str) -> Column:
    return F.when(F.col(den) > 0, F.round(F.col(num) / F.col(den), 4))


def _score_summary(cells: DataFrame, *keys: str) -> DataFrame:
    """judged count, avg and exact median of ``(…, score, n)`` cells per
    ``keys``: the median is Spark's percentile with the cell count as
    frequency."""
    n = F.sum("n")
    return cells.groupBy(*keys).agg(
        F.coalesce(n, F.lit(0)).alias("judged"),
        F.round(F.sum(F.col("score") * F.col("n")) / n, 4).alias("avg_score"),
        F.round(F.percentile("score", F.lit(0.5), F.col("n")), 4).alias("median_score"),
    )


def _score_distribution(cells: DataFrame) -> DataFrame:
    # bucket index min(floor(s*10), 10), densified — but ONLY when scores
    # exist: the reference builds the bucket list under ``if scores:``
    # (experiment_stats.py:55-61), so an unjudged experiment serves an
    # EMPTY distribution, not 11 zero buckets.  The gate is a broadcast
    # 0-or-1-row aggregate.
    spec = local_rows(cells.sparkSession, [(label,) for _, _, label in SCORE_BUCKETS], "range string")
    bucket = F.least(F.floor(F.col("score") * 10), F.lit(10)).cast("int")
    labels = F.array(*[F.lit(label) for _, _, label in SCORE_BUCKETS])
    any_scores = (
        cells.agg(F.count(F.lit(1)).alias("__cells"))
        .where(F.col("__cells") > 0)
        .select(F.lit(1).alias("__has_scores"))
    )
    counted = (
        cells.select(F.element_at(labels, bucket + 1).alias("range"), "n")
        .groupBy("range")
        .agg(F.sum("n").alias("count"))
    )
    return (
        spec.join(counted, "range", "left_outer")
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(any_scores))
        .drop("__has_scores")
    )


def stats_sections(cells: dict[str, DataFrame], *, n_answers: int = 1) -> dict[str, DataFrame]:
    """The /stats sections off the stats cells — of one request's
    filtered rows or of the streaming maintainer's summed state.  Given
    ``overall``, ``jscore_cells``, ``jtokens`` and ``variant_letters``:
    ``overall``, ``open``, ``judge_tokens``, ``score_distribution`` and,
    for ``n_answers > 1``, ``self_consistency`` (else the reference
    serves ``self_consistency: None``, experiment_stats.py:87-89).  Given
    ``mcq_cells`` and ``open_cells``: ``breakdown``."""
    out = {}
    if "overall" in cells:
        scores = _score_summary(cells["jscore_cells"])
        out = {
            "overall": cells["overall"].select(
                "*", _rate("mcq_correct", "mcq_total").otherwise(F.lit(0.0)).alias("mcq_accuracy")
            ),
            "open": scores.select(
                "judged",
                F.coalesce("avg_score", F.lit(0.0)).alias("avg_score"),
                F.coalesce("median_score", F.lit(0.0)).alias("median_score"),
            ),
            "judge_tokens": cells["jtokens"],
            "score_distribution": _score_distribution(cells["jscore_cells"]),
        }
        if n_answers and n_answers > 1:
            per_variant = cells["variant_letters"].groupBy("variant_id").agg(
                (F.countDistinct("letter") == 1).cast("int").alias("unanimous")
            )
            out["self_consistency"] = per_variant.agg(
                F.count(F.lit(1)).alias("total_variants"),
                F.coalesce(F.sum("unanimous"), F.lit(0)).alias("unanimous"),
                F.coalesce(F.round(F.avg("unanimous"), 4), F.lit(0.0)).alias("unanimous_rate"),
            )
    if "mcq_cells" in cells:
        open_agg = cells["open_cells"].groupBy("field", "name").agg(
            F.round(F.sum(F.col("score") * F.col("n")) / F.sum("n"), 4).alias("open_avg_score"),
            F.sum("n").alias("open_total"),
        )
        out["breakdown"] = (
            cells["mcq_cells"]
            .join(open_agg, ["field", "name"], "full_outer")
            .select(
                "field",
                "name",
                _rate("mcq_correct", "mcq_total").alias("mcq_accuracy"),
                F.coalesce("mcq_total", F.lit(0)).alias("mcq_total"),
                "open_avg_score",
                F.coalesce("open_total", F.lit(0)).alias("open_total"),
            )
            .orderBy("field", "name")
        )
    return out


def judge_sections(cells: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The compare-judges sections: ``judges`` off ``judge_cells``
    (per-judge count/avg/exact median — the reference re-fetches every
    judge's scores for the median, experiment_stats.py:117-160) and
    ``by_question`` off ``byq_cells``, sorted by avg score desc (NULL → 0
    in the sort key, like the reference's ``x["avg_score"] or 0``)."""
    out = {}
    if "judge_cells" in cells:
        out["judges"] = _score_summary(cells["judge_cells"], "judge_model").orderBy("judge_model")
    if "byq_cells" in cells:
        out["by_question"] = (
            cells["byq_cells"]
            .select(
                "question_id",
                "course",
                "area",
                "config",
                "mcq_correct",
                F.coalesce("answer_count", F.lit(0)).alias("answer_count"),
                _rate("score_sum", "judgment_count").alias("avg_score"),
                F.coalesce("judgment_count", F.lit(0)).alias("judgment_count"),
            )
            .orderBy(F.desc(F.coalesce(F.col("avg_score"), F.lit(0.0))), F.asc("question_id"))
        )
    return out


# ── batch endpoints ────────────────────────────────────────────────────────


def experiment_stats(
    answers: DataFrame,
    judgments: DataFrame,
    *,
    experiment_id: int,
    model_name: str | None = None,
    judge_model: str | None = None,
    n_answers: int = 1,
) -> dict[str, DataFrame]:
    """The /stats endpoint: overall MCQ/open stats, score histogram,
    token totals, self-consistency — each a lazy DataFrame."""
    answers, judgments = narrow(answers), narrow(judgments)
    # slot-bounded: the returned frames are lazy, so release happens when
    # the NEXT stats call replaces the slot (ADVICE r1 leak fix)
    ans = persist_slot(
        _filtered_answers(answers, experiment_id, model_name), "stats.answers"
    )
    # judgments of open answers under this experiment/judge; three cell
    # tables fold over this semi-join — persist it once, like ans
    open_ids = ans.filter(~_is_mcq()).select(F.col("id").alias("answer_id"))
    open_judgments = persist_slot(
        _by_judge(judgments.join(open_ids, "answer_id", "left_semi"), judge_model),
        "stats.open_judgments",
    )
    cells = {
        "overall": overall_cells(ans),
        "variant_letters": variant_letters(ans),
        "jscore_cells": jscore_cells(open_judgments),
        "jtokens": jtokens(open_judgments),
    }
    return stats_sections(cells, n_answers=n_answers)


def breakdown_by_fields(
    answers: DataFrame,
    judgments: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    fields: tuple[str, ...],
    model_name: str | None = None,
    judge_model: str | None = None,
) -> DataFrame:
    """A12 per-field accuracy/score breakdowns (experiment_stats.py:
    225-259) for every requested field in ONE pass (:func:`tag_answers`)
    — the reference's N+1 lookups replaced by two broadcast joins.
    Columns ``field, name, mcq_accuracy, mcq_total, open_avg_score,
    open_total``, sorted by field and name."""
    answers, judgments = narrow(answers), narrow(judgments)
    variants, questions = narrow(variants), narrow(questions)
    tagged = tag_answers(
        _filtered_answers(answers, experiment_id, model_name), variants, questions, fields
    )
    cells = {
        "mcq_cells": mcq_cells(tagged),
        "open_cells": open_cells(open_names(tagged), _by_judge(judgments, judge_model)),
    }
    return stats_sections(cells)["breakdown"]


def breakdown_by_field(
    answers: DataFrame,
    judgments: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    field: str,
    model_name: str | None = None,
    judge_model: str | None = None,
) -> DataFrame:
    """:func:`breakdown_by_fields` for one field, without the ``field``
    column."""
    return breakdown_by_fields(
        answers, judgments, variants, questions,
        experiment_id=experiment_id, fields=(field,),
        model_name=model_name, judge_model=judge_model,
    ).drop("field")


def compare_judges(
    answers: DataFrame, judgments: DataFrame, *, experiment_id: int
) -> DataFrame:
    """A6: per-judge count/avg/median (experiment_stats.py:117-160) over
    the experiment's answers — no error, model or judge filter."""
    answers, judgments = narrow(answers), narrow(judgments)
    exp_ids = answers.filter(F.col("experiment_id") == experiment_id).select(
        F.col("id").alias("answer_id")
    )
    return judge_sections({"judge_cells": judge_cells(judgments, exp_ids)})["judges"]


def stats_by_question(
    answers: DataFrame,
    judgments: DataFrame,
    variants: DataFrame,
    questions: DataFrame,
    *,
    experiment_id: int,
    model_name: str | None = None,
    judge_model: str | None = None,
) -> DataFrame:
    """A14 per-question rollup (experiment_stats.py:163-222): see
    :func:`byq_cells` and :func:`judge_sections`."""
    answers, judgments = narrow(answers), narrow(judgments)
    variants, questions = narrow(variants), narrow(questions)
    enriched = question_answers(
        _filtered_answers(answers, experiment_id, model_name), variants, questions
    )
    scores = enriched.select(F.col("id").alias("answer_id"), "question_id").join(
        _by_judge(judgments, judge_model).select("answer_id", "score"), "answer_id", "inner"
    )
    return judge_sections({"byq_cells": byq_cells(enriched, scores)})["by_question"]


# ── long-format flatten ────────────────────────────────────────────────────


def flat_section(
    section,
    df: DataFrame,
    key,
    nums: tuple[str, ...] = (),
    strs: tuple[str, ...] = (),
) -> DataFrame:
    """Long-format flatten (section, key, metric, value_num, value_str)
    — one ``stack`` generator per section (a per-metric union re-plans
    the section's aggregate once per metric).  ``section`` is a literal
    or a Column."""
    cells: list[str] = []
    for m in nums:
        cells += [f"'{m}'", f"CAST(`{m}` AS DOUBLE)", "CAST(NULL AS STRING)"]
    for m in strs:
        cells += [f"'{m}'", "CAST(NULL AS DOUBLE)", f"CAST(`{m}` AS STRING)"]
    n = len(nums) + len(strs)
    return df.select(
        (F.lit(section) if isinstance(section, str) else section).alias("section"),
        key.cast("string").alias("key"),
        F.expr(f"stack({n}, {', '.join(cells)})").alias(
            "metric", "value_num", "value_str"
        ),
    )


def flatten_experiment_stats(
    s: dict[str, DataFrame], breakdown: DataFrame
) -> DataFrame:
    """Flatten the /stats payload — the :func:`experiment_stats` frame
    dict plus the :func:`breakdown_by_fields` frame — to ONE long-format
    result.  Shared by the q_experiment_stats contract key and the
    streaming maintainer's served report (streaming/experiment_stats.py)
    so the flatten expressions cannot diverge between the batch and
    streaming doors (the serving.dashboard.flatten_dashboard pattern)."""
    tokens_total = (
        s["overall"]
        .select("generation_input", "generation_output")
        .crossJoin(s["judge_tokens"])
        .select(
            (
                F.col("generation_input")
                + F.col("generation_output")
                + F.col("judge_input")
                + F.col("judge_output")
            ).alias("total")
        )
    )
    parts = [
        flat_section(
            "overall",
            s["overall"],
            F.lit("all"),
            ("total_answers", "mcq_total", "mcq_correct", "mcq_accuracy", "open_total"),
        ),
        flat_section(
            "open", s["open"], F.lit("all"), ("judged", "avg_score", "median_score")
        ),
        flat_section(
            "score_distribution", s["score_distribution"], F.col("range"), ("count",)
        ),
        flat_section(
            F.concat(F.lit("by_"), F.col("field")),
            breakdown,
            F.col("name"),
            ("mcq_accuracy", "mcq_total", "open_avg_score", "open_total"),
        ),
        flat_section(
            "tokens",
            s["overall"],
            F.lit("all"),
            ("generation_input", "generation_output"),
        ),
        flat_section(
            "tokens", s["judge_tokens"], F.lit("all"), ("judge_input", "judge_output")
        ),
        flat_section("tokens", tokens_total, F.lit("all"), ("total",)),
    ]
    # n_answers ≤ 1 → the reference serves ``self_consistency: None``
    # (experiment_stats.py:87-89) and experiment_stats() omits the key —
    # the flatten then emits NO self_consistency rows
    if "self_consistency" in s:
        parts.append(
            flat_section(
                "self_consistency",
                s["self_consistency"],
                F.lit("all"),
                ("total_variants", "unanimous", "unanimous_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def flatten_compare_judges(judges: DataFrame, by_question: DataFrame) -> DataFrame:
    """Flatten the compare-judges + by-question payload to ONE
    long-format result — shared by the q_compare_judges contract key
    and the streaming maintainer's served report
    (streaming/judge_stats.py), so the flatten expressions cannot
    diverge between the batch and streaming doors."""
    by_q = by_question.withColumn(
        "mcq_correct", F.col("mcq_correct").cast("double")
    )
    return flat_section(
        "judges",
        judges,
        F.col("judge_model"),
        ("judged", "avg_score", "median_score"),
    ).unionByName(
        flat_section(
            "by_question",
            by_q,
            F.col("question_id"),
            ("avg_score", "judgment_count", "answer_count", "mcq_correct"),
            ("course", "area", "config"),
        )
    )
