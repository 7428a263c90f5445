"""Round-8 additions: the serving-endpoint composite keys
(q_questions_page, q_search_top_courses, q_dashboard_suite), the driver
window rotation onto the 47 stalest keys, and the bench/probe wiring.

Value-level parity for the three new keys is proven by the oracle sweep
(tools/parity_sweep.py — hash-match at sf0.01 and sf0.1); these tests pin
the CONTRACT shape: window layout, endpoint semantics the hash can't
localize (limit/offset/sort), and the single-source-of-truth wiring.
"""

from __future__ import annotations

from pathlib import Path

from lexam_data_pipeline_spark.plans.registry import (
    BENCH_EXCLUDED,
    DRIVER_PRIORITY,
    bench_keys,
    build_oracles,
    build_queries,
)

REPO = Path(__file__).resolve().parent.parent


def test_round8_window_layout():
    """The round-8 keys remain registered and oracled after the round-9
    window rotated them out (their driver rows are archived in
    CORRECTNESS_r08.json; slot assertions live in test_round9_operators
    now)."""
    assert len(DRIVER_PRIORITY) == 50


def test_round8_keys_registered_with_oracles():
    q, o = build_queries(), build_oracles()
    for k in ("q_questions_page", "q_search_top_courses", "q_dashboard_suite"):
        assert k in q, k
        assert k in o, f"{k} must be oracle-hash-checked, not rows-only"
    # registration order still leads with the current driver window
    assert list(q)[:50] == list(DRIVER_PRIORITY)


def test_bench_covers_every_key_but_the_declared_exclusion():
    """No registry key ships without timing visibility (verdict item 3):
    bench.py and the scale probe both take their key list from
    ``bench_keys()``, which drops only the declared exclusion (the
    all-pairs oracle twin)."""
    import importlib.util
    import re

    import bench

    assert set(build_queries()) - set(bench_keys()) == set(BENCH_EXCLUDED)
    assert bench.bench_keys is bench_keys
    # no hand-copied key list left beside it
    assert not re.search(r'"q_\w+"', (REPO / "bench.py").read_text())
    spec = importlib.util.spec_from_file_location(
        "scale_probe", REPO / "tools" / "scale_probe.py"
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)
    assert sp.PROBES == bench_keys()


def test_questions_page_contract(spark, sf_small):
    """Endpoint semantics the value hash can't localize: page size honors
    offset/limit against the filtered total, rows arrive year-desc with
    the id tiebreak, and every page row nests its full variant set."""
    from lexam_data_pipeline_spark.plans.fixture_queries import q_questions_page

    rows = q_questions_page(spark, sf_small).collect()
    assert rows, "page must not be empty at sf0.001"
    total = rows[0]["total"]
    assert all(r["total"] == total for r in rows)
    # limit=60, offset=7 → at most 60 rows, and fewer only when the
    # filtered set is smaller than offset+limit
    assert len(rows) <= 60
    assert len(rows) == min(60, max(0, total - 7))
    keys = [(r["year"], r["id"]) for r in rows]
    assert keys == sorted(keys, key=lambda t: (-t[0], t[1]))
    for r in rows:
        assert r["area"] in ("Private", "Public")
        assert r["n_variants"] >= 1
        assert r["variants_repr"].count("|") == r["n_variants"] - 1


def test_search_top_courses_contract(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_search_top_courses,
    )

    rows = q_search_top_courses(spark, sf_small).collect()
    assert 0 < len(rows) <= 10
    pairs = [(-r["n_matches"], r["course"]) for r in rows]
    assert pairs == sorted(pairs)


def test_dashboard_suite_sections(spark, sf_small):
    """All 10 dashboard sections present; the histogram densifies all six
    bins even when empty; exactly one total row."""
    from lexam_data_pipeline_spark.plans.fixture_queries import q_dashboard_suite

    rows = q_dashboard_suite(spark, sf_small).collect()
    sections = {r["section"] for r in rows}
    assert sections == {
        "total", "courses", "areas", "jurisdictions", "years", "splits",
        "area_jurisdiction", "lang_area", "answer_lengths", "answer_stats",
    }
    hist = [r for r in rows if r["section"] == "answer_lengths"]
    assert len(hist) == 6
    assert {r["key"] for r in hist} == {
        "< 50 words", "50–100", "100–200", "200–400", "400–600", "600+",
    }
    totals = [r for r in rows if r["section"] == "total"]
    assert len(totals) == 1 and totals[0]["value_num"] > 0
    # every row carries exactly one of the two value channels
    for r in rows:
        assert (r["value_num"] is None) != (r["value_str"] is None), r
