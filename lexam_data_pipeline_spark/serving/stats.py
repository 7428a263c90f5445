"""Serving parity: experiment statistics (SURVEY §2.4 A12-A14; ref
backend/app/routers/experiment_stats.py:13-284).

The reference's shape is N+1 point lookups (J7: per answer, fetch variant
then question, then per-answer judgment queries) folded into Python dicts.
Here every endpoint is a set-based plan: answers ⋈ broadcast(variants ⋈
questions), judgments joined once, aggregates built-in.

Semantics preserved exactly:

* "MCQ answer" = extracted_letter IS NOT NULL; "open" = IS NULL
  (experiment_stats.py:32,38) — not config-based.
* scores only from judgments with non-NULL score, optional judge filter
  (experiment_stats.py:43-49).
* rounding to 4 decimals at the edge (F11); exact median
  (statistics.median interpolates the even-count midpoint — matched by
  Spark's percentile(0.5)).
* unanimity over variants with any extracted letter
  (experiment_stats.py:262-284).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

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


def _valid_judgments(judgments: DataFrame, judge_model: str | None) -> DataFrame:
    out = judgments.filter(F.col("score").isNotNull())
    if judge_model:
        out = out.filter(F.col("judge_model") == judge_model)
    return out


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
    is_mcq = F.col("extracted_letter").isNotNull()

    # judgments of open answers under this experiment/judge. Token sums
    # include score-less judgments (ref experiment_stats.py:74-83 has no
    # score filter); score stats don't (ref :43-49).
    open_ids = ans.filter(~is_mcq).select(F.col("id").alias("answer_id"))
    open_judgments = judgments.join(open_ids, "answer_id", "left_semi")
    if judge_model:
        open_judgments = open_judgments.filter(F.col("judge_model") == judge_model)
    # three returned frames (score stats, token sums, histogram) fold
    # over this semi-join — persist it once, slot-bounded like ans
    open_judgments = persist_slot(open_judgments, "stats.open_judgments")
    scores = open_judgments.filter(F.col("score").isNotNull())

    overall = ans.agg(
        F.count(F.lit(1)).alias("total_answers"),
        F.sum(is_mcq.cast("int")).alias("mcq_total"),
        F.sum((is_mcq & F.coalesce(F.col("mcq_correct"), F.lit(False))).cast("int")).alias(
            "mcq_correct"
        ),
        F.sum((~is_mcq).cast("int")).alias("open_total"),
        F.sum(F.coalesce("input_tokens", F.lit(0))).alias("generation_input"),
        F.sum(F.coalesce("output_tokens", F.lit(0))).alias("generation_output"),
    ).select(
        "*",
        F.when(
            F.col("mcq_total") > 0,
            F.round(F.col("mcq_correct") / F.col("mcq_total"), 4),
        ).otherwise(F.lit(0.0)).alias("mcq_accuracy"),
    )

    score_stats = scores.agg(
        F.count(F.lit(1)).alias("judged"),
        F.coalesce(F.round(F.avg("score"), 4), F.lit(0.0)).alias("avg_score"),
        F.coalesce(F.round(F.percentile("score", F.lit(0.5)), 4), F.lit(0.0)).alias(
            "median_score"
        ),
    )
    judge_tokens = open_judgments.agg(
        F.coalesce(F.sum("input_tokens"), F.lit(0)).alias("judge_input"),
        F.coalesce(F.sum("output_tokens"), F.lit(0)).alias("judge_output"),
    )

    # score histogram: bucket index min(floor(s*10), 10), densified —
    # but ONLY when scores exist: the reference builds the bucket list
    # under ``if scores:`` (experiment_stats.py:55-61), so an unjudged
    # experiment serves an EMPTY distribution, not 11 zero buckets
    # (round-9 verdict item 2).  The gate is a broadcast 0-or-1-row
    # aggregate, same shape as the tokens-total crossJoin below.
    bucket_spec = local_rows(
        ans.sparkSession,
        [(label,) for _, _, label in SCORE_BUCKETS], "range string"
    )
    bucket = F.least(F.floor(F.col("score") * 10), F.lit(10)).cast("int")
    labels = F.array(*[F.lit(label) for _, _, label in SCORE_BUCKETS])
    any_scores = (
        scores.agg(F.count(F.lit(1)).alias("__judged"))
        .where(F.col("__judged") > 0)
        .select(F.lit(1).alias("__has_scores"))
    )
    score_distribution = (
        bucket_spec.join(
            scores.select(F.element_at(labels, bucket + 1).alias("range"))
            .groupBy("range")
            .agg(F.count(F.lit(1)).alias("count")),
            "range",
            "left_outer",
        )
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(any_scores))
        .drop("__has_scores")
    )

    # A13: unanimity across runs per variant, over letter-bearing answers
    consistency = None
    if n_answers and n_answers > 1:
        per_variant = (
            ans.filter(is_mcq)
            .groupBy("variant_id")
            .agg((F.countDistinct("extracted_letter") == 1).cast("int").alias("unanimous"))
        )
        consistency = per_variant.agg(
            F.count(F.lit(1)).alias("total_variants"),
            F.coalesce(F.sum("unanimous"), F.lit(0)).alias("unanimous"),
            F.coalesce(F.round(F.avg("unanimous"), 4), F.lit(0.0)).alias("unanimous_rate"),
        )

    out = {
        "overall": overall,
        "open": score_stats,
        "judge_tokens": judge_tokens,
        "score_distribution": score_distribution,
    }
    if consistency is not None:
        out["self_consistency"] = consistency
    return out


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
    """A12 per-field accuracy/score breakdown (experiment_stats.py:225-259)
    — the reference's N+1 lookups replaced by two broadcast joins."""
    answers, judgments = narrow(answers), narrow(judgments)
    variants, questions = narrow(variants), narrow(questions)
    ans = _filtered_answers(answers, experiment_id, model_name)
    dims = variants.select(F.col("id").alias("variant_id"), "question_id").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), field)),
        "question_id",
        "left_outer",
    )
    enriched = ans.join(F.broadcast(dims), "variant_id", "left_outer").withColumn(
        "name", F.coalesce(F.col(field), F.lit("unknown"))
    )
    is_mcq = F.col("extracted_letter").isNotNull()
    jscore = _valid_judgments(judgments, judge_model).select(
        F.col("answer_id"), F.col("score")
    )
    open_scored = (
        enriched.filter(~is_mcq)
        .select(F.col("id").alias("answer_id"), "name")
        .join(jscore, "answer_id", "inner")
        .groupBy("name")
        .agg(
            F.round(F.avg("score"), 4).alias("open_avg_score"),
            F.count(F.lit(1)).alias("open_total"),
        )
    )
    mcq_side = enriched.groupBy("name").agg(
        F.sum(is_mcq.cast("int")).alias("mcq_total"),
        F.sum((is_mcq & F.coalesce(F.col("mcq_correct"), F.lit(False))).cast("int")).alias(
            "__correct"
        ),
    )
    return (
        mcq_side.join(open_scored, "name", "full_outer")
        .select(
            "name",
            F.when(
                F.col("mcq_total") > 0, F.round(F.col("__correct") / F.col("mcq_total"), 4)
            ).alias("mcq_accuracy"),
            F.coalesce("mcq_total", F.lit(0)).alias("mcq_total"),
            "open_avg_score",
            F.coalesce("open_total", F.lit(0)).alias("open_total"),
        )
        .orderBy("name")
    )


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
    """All requested per-field breakdowns in ONE pass: the reference's
    /stats payload embeds BOTH the area and course breakdowns
    (experiment_stats.py:64-65), i.e. two full walks over the answers —
    here a ``stack`` generator tags each answer row once per field and
    one grouped aggregate per side serves every field.  Output adds a
    leading ``field`` column; each field's slice equals
    :func:`breakdown_by_field` for that field exactly."""
    answers, judgments = narrow(answers), narrow(judgments)
    variants, questions = narrow(variants), narrow(questions)
    ans = _filtered_answers(answers, experiment_id, model_name)
    dims = variants.select(F.col("id").alias("variant_id"), "question_id").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), *fields)),
        "question_id",
        "left_outer",
    )
    cells = ", ".join(
        f"'{f}', coalesce(CAST(`{f}` AS STRING), 'unknown')" for f in fields
    )
    enriched = (
        ans.join(F.broadcast(dims), "variant_id", "left_outer")
        .select(
            "id",
            "extracted_letter",
            "mcq_correct",
            F.expr(f"stack({len(fields)}, {cells})").alias("field", "name"),
        )
    )
    is_mcq = F.col("extracted_letter").isNotNull()
    jscore = _valid_judgments(judgments, judge_model).select(
        F.col("answer_id"), F.col("score")
    )
    open_scored = (
        enriched.filter(~is_mcq)
        .select(F.col("id").alias("answer_id"), "field", "name")
        .join(jscore, "answer_id", "inner")
        .groupBy("field", "name")
        .agg(
            F.round(F.avg("score"), 4).alias("open_avg_score"),
            F.count(F.lit(1)).alias("open_total"),
        )
    )
    mcq_side = enriched.groupBy("field", "name").agg(
        F.sum(is_mcq.cast("int")).alias("mcq_total"),
        F.sum((is_mcq & F.coalesce(F.col("mcq_correct"), F.lit(False))).cast("int")).alias(
            "__correct"
        ),
    )
    return (
        mcq_side.join(open_scored, ["field", "name"], "full_outer")
        .select(
            "field",
            "name",
            F.when(
                F.col("mcq_total") > 0, F.round(F.col("__correct") / F.col("mcq_total"), 4)
            ).alias("mcq_accuracy"),
            F.coalesce("mcq_total", F.lit(0)).alias("mcq_total"),
            "open_avg_score",
            F.coalesce("open_total", F.lit(0)).alias("open_total"),
        )
        .orderBy("field", "name")
    )


def compare_judges(
    answers: DataFrame, judgments: DataFrame, *, experiment_id: int
) -> DataFrame:
    """A6: per-judge count/avg/median (experiment_stats.py:117-160) — the
    reference re-fetches all scores per judge for the median; one grouped
    aggregate here."""
    answers, judgments = narrow(answers), narrow(judgments)
    exp_answers = answers.filter(F.col("experiment_id") == experiment_id).select(
        F.col("id").alias("answer_id")
    )
    return (
        judgments.filter(F.col("score").isNotNull())
        .join(exp_answers, "answer_id", "left_semi")
        .groupBy("judge_model")
        .agg(
            F.count(F.lit(1)).alias("judged"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.percentile("score", F.lit(0.5)), 4).alias("median_score"),
        )
        .orderBy("judge_model")
    )


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
    """A14 per-question rollup (experiment_stats.py:163-222), sorted by
    avg score desc (NULL → 0 in the sort key, like the reference's
    ``x["avg_score"] or 0``)."""
    answers, judgments = narrow(answers), narrow(judgments)
    variants, questions = narrow(variants), narrow(questions)
    ans = _filtered_answers(answers, experiment_id, model_name)
    dims = variants.select(F.col("id").alias("variant_id"), "question_id", "config").join(
        F.broadcast(questions.select(F.col("id").alias("question_id"), "course", "area")),
        "question_id",
        "left_outer",
    )
    enriched = ans.join(F.broadcast(dims), "variant_id", "left_outer").withColumn(
        "question_id", F.coalesce(F.col("question_id"), F.lit("unknown"))
    )
    jscore = _valid_judgments(judgments, judge_model).select("answer_id", "score")
    scored = enriched.select(F.col("id").alias("answer_id"), "question_id").join(
        jscore, "answer_id", "inner"
    )
    score_agg = scored.groupBy("question_id").agg(
        F.round(F.avg("score"), 4).alias("avg_score"),
        F.count(F.lit(1)).alias("judgment_count"),
    )
    # The reference folds answers in query order (answer-id order in
    # practice): course/area/config come from the FIRST answer seen for
    # the question, and the LAST non-NULL mcq_correct wins
    # (experiment_stats.py:179-196).  ``first(ignorenulls)`` over a
    # shuffled group is nondeterministic in Spark, so the twin is made
    # explicit: min_by/max_by over the answer id — identical results,
    # stable under any partitioning.
    base_agg = enriched.groupBy("question_id").agg(
        F.min_by("course", "id").alias("course"),
        F.min_by("area", "id").alias("area"),
        F.min_by("config", "id").alias("config"),
        F.max_by(
            "mcq_correct",
            F.when(F.col("mcq_correct").isNotNull(), F.col("id")),
        ).alias("mcq_correct"),
        F.count(F.lit(1)).alias("answer_count"),
    )
    return (
        base_agg.join(score_agg, "question_id", "left_outer")
        .withColumn("judgment_count", F.coalesce("judgment_count", F.lit(0)))
        .orderBy(F.desc(F.coalesce(F.col("avg_score"), F.lit(0.0))), F.asc("question_id"))
    )


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
