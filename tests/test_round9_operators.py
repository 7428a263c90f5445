"""Round-9 additions: the experiment-stats serving composites
(q_experiment_stats, q_compare_judges) on the deterministic
answers/judgments fixture projection and the driver window rotation
onto the 48 r4-stale keys.

Value-level parity for the two new keys is proven by the oracle sweep
(tools/parity_sweep.py — hash-match at sf0.001/sf0.01/sf0.1); these
tests pin the CONTRACT shape: window layout, the projection's
cardinality invariants, and the endpoint fold semantics the value hash
can't localize (reference iteration-order twins, token grand total,
self-consistency definition).
"""

from __future__ import annotations

import pytest

from lexam_data_pipeline_spark.plans.registry import (
    DRIVER_PRIORITY,
    build_oracles,
    build_queries,
)


def test_round9_window_layout():
    """The round-9 keys remain registered and oracled after the round-10
    window rotated them out (their driver rows are archived in
    CORRECTNESS_r09.json; slot assertions live in test_round10_operators
    now)."""
    assert len(DRIVER_PRIORITY) == 50


def test_round9_keys_registered_with_oracles():
    q, o = build_queries(), build_oracles()
    for k in ("q_experiment_stats", "q_compare_judges"):
        assert k in q, k
        assert k in o, f"{k} must be oracle-hash-checked, not rows-only"


# ── the answers/judgments projection invariants ────────────────────────────


@pytest.fixture(scope="module")
def proj(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        _lexam_answers_projection,
    )

    questions, variants, answers, judgments = _lexam_answers_projection(
        spark, sf_small
    )
    return questions, variants, answers.cache(), judgments.cache()


def test_projection_cardinalities(proj):
    """Two answers per variant; two judgments per NON-error NULL-letter
    answer; answer ids unique (idempotent-resume key)."""
    _, variants, answers, judgments = proj
    n_v = variants.count()
    assert answers.count() == 2 * n_v
    assert answers.select("id").distinct().count() == 2 * n_v
    from pyspark.sql import functions as F

    judgeable = answers.filter(
        F.col("extracted_letter").isNull() & F.col("error").isNull()
    ).count()
    assert judgments.count() == 2 * judgeable
    # both experiments and both models are populated → the endpoint
    # filters genuinely drop rows
    assert answers.select("experiment_id").distinct().count() == 2
    assert answers.select("model_name").distinct().count() == 2
    assert answers.filter(F.col("error").isNotNull()).count() > 0


def test_projection_score_domain(proj):
    """Scores are multiples of 1/32 in [0, 1] (binary-exact doubles —
    the order-independence guarantee the oracle parity relies on), with
    both NULL scores and exact 1.0 present."""
    _, _, _, judgments = proj
    rows = judgments.select("score").collect()
    scores = [r["score"] for r in rows]
    assert any(s is None for s in scores)
    present = [s for s in scores if s is not None]
    assert all(0.0 <= s <= 1.0 and (s * 32) == int(s * 32) for s in present)
    assert any(s == 1.0 for s in present), "bucket 10 (>=1.0) must be hit"


def test_experiment_stats_composite_semantics(spark, sf_small, proj):
    """Cross-section identities of the flattened /stats payload:
    mcq_total + open_total = total_answers, tokens.total is the sum of
    its four parts, the 11-bucket histogram is densified and sums to
    'judged', and self-consistency matches a Python recount."""
    from pyspark.sql import functions as F

    from lexam_data_pipeline_spark.plans.fixture_queries import q_experiment_stats

    flat = q_experiment_stats(spark, sf_small).collect()
    val = {
        (r["section"], r["key"], r["metric"]): r["value_num"] for r in flat
    }
    assert (
        val[("overall", "all", "mcq_total")]
        + val[("overall", "all", "open_total")]
        == val[("overall", "all", "total_answers")]
    )
    assert val[("tokens", "all", "total")] == (
        val[("tokens", "all", "generation_input")]
        + val[("tokens", "all", "generation_output")]
        + val[("tokens", "all", "judge_input")]
        + val[("tokens", "all", "judge_output")]
    )
    buckets = [r for r in flat if r["section"] == "score_distribution"]
    assert len(buckets) == 11, "histogram must be densified to all buckets"
    assert sum(b["value_num"] for b in buckets) == val[("open", "all", "judged")]

    # self-consistency recount: unanimity over letter-bearing answers of
    # experiment 1 (error rows excluded)
    _, _, answers, _ = proj
    lettered = (
        answers.filter(
            (F.col("experiment_id") == 1)
            & F.col("error").isNull()
            & F.col("extracted_letter").isNotNull()
        )
        .select("variant_id", "extracted_letter")
        .collect()
    )
    runs: dict[int, set[str]] = {}
    for r in lettered:
        runs.setdefault(r["variant_id"], set()).add(r["extracted_letter"])
    assert val[("self_consistency", "all", "total_variants")] == len(runs)
    assert val[("self_consistency", "all", "unanimous")] == sum(
        1 for s in runs.values() if len(s) == 1
    )
    # both outcomes occur → the metric is non-degenerate
    assert 0 < val[("self_consistency", "all", "unanimous")] < len(runs)


def test_by_question_fold_is_reference_iteration_order(spark):
    """The reference folds by-question state in answer-id order: config
    from the FIRST answer, LAST non-NULL mcq_correct wins
    (experiment_stats.py:179-196).  min_by/max_by twin pinned on a frame
    where 'first/last' and 'any' genuinely differ."""
    from lexam_data_pipeline_spark.serving.stats import stats_by_question

    answers = spark.createDataFrame(
        [
            # q1 via two variants: first answer (id 1) carries config c1;
            # mcq_correct sequence True(id 1) → False(id 2): LAST wins
            (1, 1, 10, "m", None, "A", True, 1, 1),
            (2, 1, 11, "m", None, "B", False, 1, 1),
            # q2: all mcq_correct NULL → stays NULL (never False)
            (3, 1, 20, "m", None, None, None, 1, 1),
        ],
        "id int, experiment_id int, variant_id int, model_name string, "
        "error string, extracted_letter string, mcq_correct boolean, "
        "input_tokens int, output_tokens int",
    )
    judgments = spark.createDataFrame(
        [], "answer_id int, judge_model string, score double, "
        "input_tokens int, output_tokens int"
    )
    variants = spark.createDataFrame(
        [(10, "q1", "c1"), (11, "q1", "c2"), (20, "q2", "c3")],
        "id int, question_id string, config string",
    )
    questions = spark.createDataFrame(
        [("q1", "law", "Private"), ("q2", "law", "Public")],
        "id string, course string, area string",
    )
    rows = {
        r["question_id"]: r
        for r in stats_by_question(
            answers, judgments, variants, questions, experiment_id=1
        ).collect()
    }
    assert rows["q1"]["config"] == "c1", "config must come from the FIRST answer"
    assert rows["q1"]["mcq_correct"] is False, "LAST non-NULL mcq_correct wins"
    assert rows["q2"]["mcq_correct"] is None, "all-NULL stays NULL, never False"


def test_compare_judges_composite_counts(spark, sf_small, proj):
    """judges.judged must equal a direct recount of non-NULL-score
    judgments semi-joined to experiment-1 answers, split by judge."""
    from pyspark.sql import functions as F

    from lexam_data_pipeline_spark.plans.fixture_queries import q_compare_judges

    flat = q_compare_judges(spark, sf_small)
    judged = {
        r["key"]: r["value_num"]
        for r in flat.filter(
            (F.col("section") == "judges") & (F.col("metric") == "judged")
        ).collect()
    }
    _, _, answers, judgments = proj
    exp1 = answers.filter(F.col("experiment_id") == 1).select(
        F.col("id").alias("answer_id")
    )
    expected = {
        r["judge_model"]: r["n"]
        for r in judgments.filter(F.col("score").isNotNull())
        .join(exp1, "answer_id", "left_semi")
        .groupBy("judge_model")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert judged == {k: float(v) for k, v in expected.items()}
    assert set(judged) == {"judge-x", "judge-y"}


def test_breakdown_by_fields_matches_single_field(spark, sf_small, proj):
    """The one-pass stack-tagged multi-field breakdown must equal the
    per-field API slice-for-slice (it feeds q_experiment_stats; the
    single-field form stays for endpoint parity)."""
    from lexam_data_pipeline_spark.serving.stats import (
        breakdown_by_field,
        breakdown_by_fields,
    )

    questions, variants, answers, judgments = proj
    fused = breakdown_by_fields(
        answers, judgments, variants, questions,
        experiment_id=1, fields=("area", "course"),
    ).collect()
    for field in ("area", "course"):
        got = sorted(
            tuple(r)[1:] for r in fused if r["field"] == field
        )
        want = sorted(
            tuple(r)
            for r in breakdown_by_field(
                answers, judgments, variants, questions,
                experiment_id=1, field=field,
            ).collect()
        )
        assert got == want, field


def test_public_stats_frames_schema_and_order(proj):
    """The public /stats frames keep their column names, order and
    types, built off cell tables or not, and stats_by_question keeps its
    row order: avg score desc (NULL as 0), question id asc."""
    from lexam_data_pipeline_spark.serving.stats import (
        breakdown_by_field,
        breakdown_by_fields,
        compare_judges,
        experiment_stats,
        stats_by_question,
    )

    questions, variants, answers, judgments = proj

    def cols(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    breakdown = [
        ("name", "string"),
        ("mcq_accuracy", "double"),
        ("mcq_total", "bigint"),
        ("open_avg_score", "double"),
        ("open_total", "bigint"),
    ]
    stats = {
        "overall": [
            ("total_answers", "bigint"),
            ("mcq_total", "bigint"),
            ("mcq_correct", "bigint"),
            ("open_total", "bigint"),
            ("generation_input", "bigint"),
            ("generation_output", "bigint"),
            ("mcq_accuracy", "double"),
        ],
        "open": [("judged", "bigint"), ("avg_score", "double"), ("median_score", "double")],
        "judge_tokens": [("judge_input", "bigint"), ("judge_output", "bigint")],
        "score_distribution": [("range", "string"), ("count", "bigint")],
        "self_consistency": [
            ("total_variants", "bigint"),
            ("unanimous", "bigint"),
            ("unanimous_rate", "double"),
        ],
    }
    for n in (1, 2):
        s = experiment_stats(answers, judgments, experiment_id=1, n_answers=n)
        want = [k for k in stats if n > 1 or k != "self_consistency"]
        assert list(s) == want
        assert {k: cols(df) for k, df in s.items()} == {k: stats[k] for k in want}
    dims = (answers, judgments, variants, questions)
    assert cols(
        breakdown_by_fields(*dims, experiment_id=1, fields=("area", "course"))
    ) == [("field", "string"), *breakdown]
    assert cols(breakdown_by_field(*dims, experiment_id=1, field="area")) == breakdown
    assert cols(compare_judges(answers, judgments, experiment_id=1)) == [
        ("judge_model", "string"),
        ("judged", "bigint"),
        ("avg_score", "double"),
        ("median_score", "double"),
    ]
    by_q = stats_by_question(*dims, experiment_id=1, judge_model="judge-x")
    assert cols(by_q) == [
        ("question_id", "string"),
        ("course", "string"),
        ("area", "string"),
        ("config", "string"),
        ("mcq_correct", "boolean"),
        ("answer_count", "bigint"),
        ("avg_score", "double"),
        ("judgment_count", "bigint"),
    ]
    rows = by_q.collect()
    keys = [(-(r["avg_score"] or 0.0), r["question_id"]) for r in rows]
    assert keys == sorted(keys)
    assert any(r["avg_score"] is None for r in rows) and len({k[0] for k in keys}) > 2
