"""Round-10 additions: the /stats zero-scores edge key
(q_experiment_stats_empty), the fixed-point oracle upgrade for
q_pagerank and the driver window rotation onto the 48 r5-stale keys.

Value-level parity for both window-leading keys is proven by the oracle
sweep (tools/parity_sweep.py — hash-match at sf0.001/sf0.01/sf0.1) and
by tests/test_graph.py's pure-Python integer simulation; these tests
pin the CONTRACT shape: window layout, registration, and the reference
edge semantics the value hash can't localize (which sections EXIST in
the zero-scores payload)."""

from __future__ import annotations

import pytest

from lexam_data_pipeline_spark.plans.registry import (
    DRIVER_PRIORITY,
    build_oracles,
    build_queries,
)


def test_round10_window_layout():
    """The round-10 keys rotated out of the window when the round-11
    window moved onto the fan-out-touched keys.  q_pagerank held a
    window slot through r11 (its plan changed that round) and earned
    fresh driver rows in r10 AND r11; the r12 window
    (tests/test_round12_window.py) rotates it out for the r6/r7-stale
    freshness cohort."""
    assert len(DRIVER_PRIORITY) == 50


def test_round10_keys_registered_with_oracles():
    q, o = build_queries(), build_oracles()
    for k in ("q_experiment_stats_empty", "q_pagerank"):
        assert k in q, k
        assert k in o, f"{k} must be oracle-hash-checked, not rows-only"
    # the q_pagerank upgrade: previously the flagship rows-only row —
    # the whole point of round-9 verdict item 6 is that it is now oracled
    assert "q_pagerank" in o


# ── the zero-scores /stats edge (ref experiment_stats.py:51-61,87-89) ──────


@pytest.fixture(scope="module")
def empty_flat(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_experiment_stats_empty,
    )

    return q_experiment_stats_empty(spark, sf_small).collect()


def test_empty_key_has_no_score_distribution_or_consistency(empty_flat):
    """The reference emits score_distribution only ``if scores:`` and
    self_consistency None unless n_answers > 1 — the flattened payload
    must contain NEITHER section while the others stay populated."""
    sections = {r["section"] for r in empty_flat}
    assert "score_distribution" not in sections
    assert "self_consistency" not in sections
    assert {"overall", "open", "tokens", "by_area", "by_course"} <= sections


def test_empty_key_zero_coalesces(empty_flat):
    """judged/avg/median serve the reference's ``if scores`` zeros; the
    judge token sums serve the ``or 0`` coalesces; generation tokens
    stay real (the answers exist — only the judge is missing)."""
    vals = {
        (r["section"], r["metric"]): r["value_num"]
        for r in empty_flat
        if r["key"] == "all"
    }
    assert vals[("open", "judged")] == 0.0
    assert vals[("open", "avg_score")] == 0.0
    assert vals[("open", "median_score")] == 0.0
    assert vals[("tokens", "judge_input")] == 0.0
    assert vals[("tokens", "judge_output")] == 0.0
    assert vals[("tokens", "generation_input")] > 0
    assert vals[("overall", "total_answers")] > 0
    assert vals[("tokens", "total")] == vals[("tokens", "generation_input")] + vals[
        ("tokens", "generation_output")
    ]


def test_empty_key_breakdowns_null_open_scores(empty_flat):
    """Per-name breakdowns exist (the answers have areas/courses) but
    every open_avg_score is NULL — no judge ran."""
    by_area = [r for r in empty_flat if r["section"] == "by_area"]
    assert by_area, "area breakdown must still serve"
    scores = [r for r in by_area if r["metric"] == "open_avg_score"]
    assert scores and all(r["value_num"] is None for r in scores)
    totals = [r for r in by_area if r["metric"] == "open_total"]
    assert totals and all(r["value_num"] == 0.0 for r in totals)


def test_populated_key_keeps_both_sections(spark, sf_small):
    """Regression guard for the gate itself: the scored twin
    (q_experiment_stats) still serves all 11 histogram buckets AND the
    self-consistency block."""
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_experiment_stats,
    )

    flat = q_experiment_stats(spark, sf_small).collect()
    buckets = [r for r in flat if r["section"] == "score_distribution"]
    assert len(buckets) == 11
    sc = [r for r in flat if r["section"] == "self_consistency"]
    assert len(sc) == 3


def test_experiment_stats_omits_consistency_key_when_n1(spark):
    """experiment_stats(n_answers=1) must omit the dict key entirely —
    the flatten's presence check is the section gate."""
    from lexam_data_pipeline_spark.serving.stats import experiment_stats

    answers = spark.createDataFrame(
        [(1, 1, 10, "m", None, "A", True, 5, 7)],
        "id long, experiment_id long, variant_id long, model_name string, "
        "error string, extracted_letter string, mcq_correct boolean, "
        "input_tokens long, output_tokens long",
    )
    judgments = spark.createDataFrame(
        [],
        "answer_id long, judge_model string, score double, "
        "input_tokens long, output_tokens long",
    )
    s1 = experiment_stats(answers, judgments, experiment_id=1, n_answers=1)
    assert "self_consistency" not in s1
    s2 = experiment_stats(answers, judgments, experiment_id=1, n_answers=2)
    assert "self_consistency" in s2
    # and the histogram gate: no scores at all → zero rows
    assert s1["score_distribution"].count() == 0
