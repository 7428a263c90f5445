"""Guards for the analyzed-plan memo (plans/registry.MEMO_SAFE_KEYS).

The memo caches a PLAN, never data: eligibility requires that a key's
construction runs ZERO Spark jobs (a construct-time action would mean
collected values get frozen into the cached plan — result caching, which
the bench contract forbids).  These tests pin that invariant so a future
edit cannot silently add an action to a memoized key.
"""

from __future__ import annotations

import pytest

from lexam_data_pipeline_spark.catalog import FIXTURE_TABLES, load_table
from lexam_data_pipeline_spark.operators.caching import _PLAN_MEMO, release_all
from lexam_data_pipeline_spark.plans.registry import MEMO_SAFE_KEYS, build_queries


@pytest.fixture(scope="module")
def warm_queries(spark, sf_small):
    # warm the table cache (first load of a table runs a footer-read job
    # that would otherwise count against the zero-jobs assertion)
    for t in FIXTURE_TABLES:
        load_table(spark, sf_small, t)
        load_table(spark, sf_small, t, fan=True)
    return build_queries()


def test_memo_safe_keys_construct_without_jobs(spark, sf_small, warm_queries):
    sc = spark.sparkContext
    for i, key in enumerate(MEMO_SAFE_KEYS):
        _PLAN_MEMO.clear()
        grp = f"memo-guard-{i}"
        sc.setJobGroup(grp, key)
        warm_queries[key](spark, sf_small)
        sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(grp)
        assert not jobs, f"{key} ran {len(jobs)} job(s) at construction — not memo-safe"
    _PLAN_MEMO.clear()


def test_memo_returns_same_object_and_kill_switch(spark, sf_small, warm_queries):
    # the memo has no kill-switch any more; the test keeps its name
    key = MEMO_SAFE_KEYS[0]
    _PLAN_MEMO.clear()
    a = warm_queries[key](spark, sf_small)
    b = warm_queries[key](spark, sf_small)
    assert a is b, "second construction should hit the memo"
    _PLAN_MEMO.clear()


def test_memo_is_scoped_per_sf_dir(spark, sf_small, sf_oracle, warm_queries):
    _PLAN_MEMO.clear()
    key = "q_fleiss_kappa"
    a = warm_queries[key](spark, sf_small)
    b = warm_queries[key](spark, sf_oracle)
    assert a is not b
    _PLAN_MEMO.clear()


def test_memoized_results_match_fresh_construction(spark, sf_small, warm_queries):
    # memo hit must serve the identical rows a fresh construction computes
    key = "q_experiment_stats"
    _PLAN_MEMO.clear()
    warm_queries[key](spark, sf_small)  # populate
    memo_pd = warm_queries[key](spark, sf_small).toPandas()
    fresh_pd = warm_queries[key].__wrapped__(spark, sf_small).toPandas()
    assert memo_pd.equals(fresh_pd)
    _PLAN_MEMO.clear()


def _inmemory_relations(df) -> int:
    """InMemoryRelation nodes in the cache-substituted plan of a fresh
    QueryExecution (``select("*")`` builds one and runs no job)."""

    def count(node) -> int:
        kids = node.children()
        return int(node.getClass().getSimpleName() == "InMemoryRelation") + sum(
            count(kids.apply(i)) for i in range(kids.size())
        )

    return count(df.select("*")._jdf.queryExecution().withCachedData())


def test_memo_hit_restores_construction_persists(spark, sf_small, warm_queries):
    # A key that fills persist slots while being built must get them back
    # on a memo hit: after release_all(), and after other keys took the
    # slots, the hit's plan reads the same cached subtrees as the build.
    _PLAN_MEMO.clear()
    built = {}
    for key in MEMO_SAFE_KEYS:
        built[key] = _inmemory_relations(warm_queries[key](spark, sf_small))
    assert any(built.values()), "no memo-safe key persists at construction"
    release_all()
    hit = {key: _inmemory_relations(warm_queries[key](spark, sf_small)) for key in MEMO_SAFE_KEYS}
    assert hit == built
    _PLAN_MEMO.clear()
    release_all()
