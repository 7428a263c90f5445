"""Round-12 driver-window rotation (OPTIMIZATION_r12.md).

Round 12 restructured four query shapes (dedup sweep/rate one-pass
aggregates, CC observe-fusion); the driver verifies the FIRST 50
registered keys, so those lead the window, followed by the 22 r6-stale
freshness keys (r11 VERDICT item 9) and 24 of the r7-stale cohort.
The fan-site creep guard from round 11 is retained unchanged (no fan
site changed in round 12)."""

from __future__ import annotations

from lexam_data_pipeline_spark.plans.registry import (
    DRIVER_PRIORITY,
    build_queries,
)

#: every key whose plan gained the opt-in scan fan-out in round 11
#: (24 `fan=True` call sites; the copurchase_mutual_topk site feeds
#: four graph keys).
FAN_TOUCHED_KEYS: tuple[str, ...] = (
    "q_agg_stats",
    "q_basket_pairs",
    "q_bloom_decontaminate",
    "q_boosted_stumps",
    "q_bootstrap_ci",
    "q_bpe_tokenize",
    "q_corr_stats",
    "q_doc_fingerprint",
    "q_embedding_quantize",
    "q_graph_bfs",
    "q_item_similarity",
    "q_join_3way_agg",
    "q_join_5way_region",
    "q_label_propagation",
    "q_minhash_lsh_pairs",
    "q_multimodal_features",
    "q_nb_classifier",
    "q_ols_regression",
    "q_pagerank",
    "q_pretrain_pipeline",
    "q_repetition_stats",
    "q_silhouette_labels",
    "q_simhash_buckets",
    "q_text_quality",
    "q_triangle_count",
)


#: the serving-parity keys, whose plans changed when the serving
#: endpoints began narrowing small file-scan inputs; they lead the window
SERVING_KEYS: tuple[str, ...] = (
    "q_questions_page",
    "q_search_top_courses",
    "q_dashboard_suite",
    "q_course_summary",
    "q_experiment_stats",
    "q_experiment_stats_empty",
    "q_compare_judges",
)

R12_CHANGED_KEYS: tuple[str, ...] = (
    "q_dedup_threshold_sweep",
    "q_dedup_rate_by_source",
    "q_dedup_clusters",
    "q_dedup_clusters_two_phase",
)

R6_STALE_KEYS: tuple[str, ...] = (
    "q_cube_orders", "q_groupby_salted", "q_hhi_concentration",
    "q_histogram_bins", "q_knn_bruteforce", "q_knn_ivf", "q_knn_lsh",
    "q_lang_id", "q_mann_kendall", "q_polyfit_quadratic",
    "q_price_elasticity", "q_quartile_skewness", "q_runs_test",
    "q_semi_exists", "q_session_window", "q_sessionize",
    "q_share_of_total", "q_top_n", "q_topic_keywords", "q_tukey_fences",
    "q_window_rank", "q_wordcount_stats",
)


def test_round12_window_layout():
    """The round-12 cohorts, shifted behind the serving-parity keys."""
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)) == 50
    assert DRIVER_PRIORITY[:7] == SERVING_KEYS
    assert DRIVER_PRIORITY[7:11] == R12_CHANGED_KEYS
    assert DRIVER_PRIORITY[11:33] == R6_STALE_KEYS
    rest = DRIVER_PRIORITY[33:]
    assert len(rest) == len(set(rest)) == 17
    assert not (set(rest) & set(SERVING_KEYS + R12_CHANGED_KEYS + R6_STALE_KEYS))


def test_round12_window_registered_first():
    q = build_queries()
    assert list(q)[:50] == list(DRIVER_PRIORITY)
    missing = [k for k in DRIVER_PRIORITY if k not in q]
    assert not missing, missing


def test_fan_sites_match_touched_keys():
    """Every module-level fan-enabling call site (`fan=True`, or the
    batch-2 qopt-gated `fan=fan` inside q_spearman_corr's branch-fan
    helper) lives in a function whose bench key is fan-touched (via
    copurchase_mutual_topk for the four graph keys) — no silent fan-out
    creep."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "lexam_data_pipeline_spark"
    owners: set[str] = set()
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        defs = [
            (m.start(), m.group(1))
            for m in re.finditer(r"^def (\w+)\(", src, re.M)
        ]
        # any fan= argument other than the default-off literal counts
        # as a fan site (fan=True, or a parameterized fan=<expr>)
        for m in re.finditer(r"load_table\([^)]*fan=(?!False)[^)]*\)", src):
            fn = None
            for start, name in defs:
                if start <= m.start():
                    fn = name
                else:
                    break
            assert fn is not None, f"orphan fan site in {path.name}"
            owners.add(fn)
    graph_via_sparsifier = {
        "q_triangle_count",
        "q_graph_bfs",
        "q_pagerank",
        "q_label_propagation",
    }
    expected = (
        (set(FAN_TOUCHED_KEYS) - graph_via_sparsifier)
        | {"copurchase_mutual_topk"}
        # round-11 batch 2: the moment-pass branch fan inside
        # q_spearman_corr — see OPTIMIZATION_r11.md
        | {"q_spearman_corr"}
    )
    assert owners == expected, owners ^ expected
