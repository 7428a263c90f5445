"""Incremental PageRank / LPA maintenance (streaming/graph.py).

LPA: drained labels must EXACTLY equal the batch label_propagation over
the union of all edge batches for ANY micro-batch split (the component
decomposition lemma), including cross-batch component merges, and the
fold must recompute ONLY the touched components' edges.

PageRank: drained warm-started ranks must converge to the same unique
fixed point as the from-scratch batch run, and a warm seed must land
far closer to the fixed point than a cold seed after the same number of
rounds (the iteration-count bound that makes the maintainer
incremental)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.ml.graph import label_propagation, pagerank
from lexam_data_pipeline_spark.streaming.graph import (
    LPA_STATE_TABLES,
    PR_STATE_TABLES,
    lpa_affected_edges,
    lpa_merge,
    lpa_report,
    pagerank_merge,
    pagerank_report,
    start_streaming_lpa,
    start_streaming_pagerank,
)


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _labels_of(df: DataFrame) -> dict[int, int]:
    return {r["node"]: r["label"] for r in df.collect()}


# ── LPA ─────────────────────────────────────────────────────────────────────

# two 4-cliques, a chain, and a late bridge that merges the cliques
CLIQ_A = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
CLIQ_B = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
CHAIN = [(20, 21), (21, 22), (22, 23)]
BRIDGE = [(4, 10)]
ALL_PAIRS = CLIQ_A + CLIQ_B + CHAIN + BRIDGE


def _drain_lpa(holder, spark, batches):
    for batch in batches:
        st = lpa_merge(holder.state(LPA_STATE_TABLES), _pairs_df(spark, batch))
        for t in LPA_STATE_TABLES:
            holder.write(t, st[t])
    return holder


@pytest.mark.parametrize(
    "batches",
    [
        [ALL_PAIRS],
        [CLIQ_A, CLIQ_B + CHAIN, BRIDGE],            # bridge merges A and B
        [CLIQ_A + BRIDGE, CHAIN, CLIQ_B],            # bridge BEFORE clique B
        [[p] for p in CLIQ_A] + [CLIQ_B + CHAIN + BRIDGE],  # one-edge batches
    ],
)
@pytest.mark.slowsuite
def test_lpa_drained_equals_batch(spark, batches, state_store):
    holder = _drain_lpa(state_store(), spark, batches)
    got = _labels_of(holder.read("labels"))
    want = _labels_of(label_propagation(_pairs_df(spark, ALL_PAIRS)))
    assert got == want


def test_lpa_touches_only_affected_component(spark, state_store):
    """A batch landing inside one component must recompute exactly that
    component's edges — the chain and clique B are never rescanned."""
    holder = _drain_lpa(state_store(), spark, [ALL_PAIRS])
    comps = holder.read("comps")
    edges = holder.read("edges")
    batch_nodes = spark.createDataFrame([(1,), (3,)], "node long")
    affected = lpa_affected_edges(edges, comps, batch_nodes)
    got = {(r["u"], r["v"]) for r in affected.collect()}
    # the merged A∪B component (bridge!) — but NOT the 20-23 chain
    want = set(CLIQ_A) | set(CLIQ_B) | set(BRIDGE)
    assert got == want


def test_lpa_report_equals_batch_key(spark, sf_small, state_store):
    """End-to-end against the driver-oracled batch key: feed the
    co-purchase mutual-top-K pairs in two batches; the served community
    rollup must equal q_label_propagation row-for-row."""
    from lexam_data_pipeline_spark.ml.graph import q_label_propagation
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        TRIANGLE_TOP_K,
        copurchase_mutual_topk,
    )

    pairs = copurchase_mutual_topk(spark, sf_small, TRIANGLE_TOP_K).cache()
    holder = state_store()
    for i in range(2):
        chunk = pairs.filter(F.pmod(F.col("u") + F.col("v"), F.lit(2)) == i)
        st = lpa_merge(holder.state(LPA_STATE_TABLES), chunk)
        for t in LPA_STATE_TABLES:
            holder.write(t, st[t])
    got = [tuple(r) for r in lpa_report(holder.state(LPA_STATE_TABLES)).collect()]
    want = [tuple(r) for r in q_label_propagation(spark, sf_small).collect()]
    assert got == want


def test_empty_batches_are_noops(spark, state_store):
    """foreachBatch can deliver empty triggers; both folds must carry
    state over untouched (PageRank must NOT pay a re-converge)."""
    import time

    holder = _drain_lpa(state_store(), spark, [CLIQ_A])
    before = {t: sorted(map(tuple, holder.rows[t])) for t in LPA_STATE_TABLES}
    st = lpa_merge(holder.state(LPA_STATE_TABLES), _pairs_df(spark, []).limit(0))
    for t in LPA_STATE_TABLES:
        holder.write(t, st[t])
    assert {t: sorted(map(tuple, holder.rows[t])) for t in LPA_STATE_TABLES} == before

    pr = state_store()
    st = pagerank_merge(pr.state(PR_STATE_TABLES), _pairs_df(spark, _sym([(1, 2), (2, 3)])), damping=0.5)
    for t in PR_STATE_TABLES:
        pr.write(t, st[t])
    before_pr = {t: sorted(map(tuple, pr.rows[t])) for t in PR_STATE_TABLES}
    t0 = time.perf_counter()
    st = pagerank_merge(pr.state(PR_STATE_TABLES), _pairs_df(spark, []).limit(0), damping=0.5)
    for t in PR_STATE_TABLES:
        pr.write(t, st[t])
    assert {t: sorted(map(tuple, pr.rows[t])) for t in PR_STATE_TABLES} == before_pr
    assert time.perf_counter() - t0 < 5  # skip path, not a re-converge


def test_lpa_streaming_drain(spark, tmp_path, state_store):
    """End-to-end through foreachBatch with maxFilesPerTrigger=1."""
    chunk_dir = str(tmp_path / "pair_chunks")
    for batch in (CLIQ_A, CLIQ_B + CHAIN, BRIDGE):
        _pairs_df(spark, batch).coalesce(1).write.mode("append").parquet(chunk_dir)
    stream = (
        spark.readStream.schema("u long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    holder = state_store()
    q = start_streaming_lpa(stream, holder.read, holder.write)
    q.awaitTermination(120)
    got = _labels_of(holder.read("labels"))
    want = _labels_of(label_propagation(_pairs_df(spark, ALL_PAIRS)))
    assert got == want


# ── PageRank ────────────────────────────────────────────────────────────────


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def _ring_hub(n=24):
    """Ring + all-to-hub spokes: strongly irregular (hub rank ≫ uniform),
    so a cold uniform seed starts FAR from the fixed point."""
    ring = [(i, i % n + 1) for i in range(1, n + 1)]
    spokes = [(i, 0) for i in range(1, n + 1)]
    return _sym(ring + spokes)


def _hub_path(n=120):
    """Slow-mixing path with a hub on one end — the fixture where a
    far-from-hub edge is a SMALL perturbation of the fixed point (numpy
    sim: warm start lands ~3.3× closer after 5 rounds)."""
    path = [(i, i + 1) for i in range(1, n)]
    spokes = [(i, 0) for i in range(1, 6)]
    return _sym(path + spokes)


def _l1(a: dict[int, float], b: dict[int, float]) -> float:
    assert set(a) == set(b)
    return sum(abs(a[k] - b[k]) for k in a)


def _ranks_of(df: DataFrame) -> dict[int, float]:
    return {r["node"]: r["rank"] for r in df.collect()}


@pytest.mark.slowsuite
def test_pagerank_drained_converges_to_batch_fixed_point(spark, state_store):
    """Drained warm-started ranks equal the from-scratch converged run:
    the iteration map has ONE fixed point, so any split converges to it."""
    base = _ring_hub()
    extra = _sym([(3, 17), (5, 11)])
    batches = [base[: len(base) // 2], base[len(base) // 2:], extra]
    holder = state_store()
    for batch in batches:
        st = pagerank_merge(
            holder.state(PR_STATE_TABLES),
            _pairs_df(spark, batch),
            damping=0.5,          # contraction 0.5 → tol reached in ~40 rounds
            tol=1e-12,
        )
        for t in PR_STATE_TABLES:
            holder.write(t, st[t])
    got = _ranks_of(holder.read("ranks"))
    want = _ranks_of(
        pagerank(
            _pairs_df(spark, base + extra).select(
                F.col("u").alias("src"), F.col("v").alias("dst")
            ),
            n_iter=60,
            damping=0.5,
            tol=1e-12,
        )
    )
    assert _l1(got, want) < 1e-9


@pytest.mark.slowsuite
def test_warm_start_tracks_fixed_point(spark):
    """The maintainer's lever, part 1: after a small new edge, k warm
    rounds from the previous fixed point land measurably closer to the
    new fixed point than k cold rounds from uniform (numpy sim of this
    exact fixture: 3.3×; asserted at 2× for slack — the saved rounds are
    log(err_cold/err_warm)/log(1/d))."""
    g0 = _hub_path()
    g1 = g0 + _sym([(105, 115)])  # far from the hub: a small perturbation

    def df(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    ranks0 = pagerank(df(g0), n_iter=200, tol=1e-12)
    fixed1 = _ranks_of(pagerank(df(g1), n_iter=250, tol=1e-13))
    warm5 = _ranks_of(pagerank(df(g1), n_iter=5, init_ranks=ranks0))
    cold5 = _ranks_of(pagerank(df(g1), n_iter=5))
    err_warm = _l1(warm5, fixed1)
    err_cold = _l1(cold5, fixed1)
    assert err_warm < err_cold / 2, (err_warm, err_cold)


def test_warm_start_noop_batch_costs_nothing(spark):
    """The maintainer's lever, part 2: a batch that does not move the
    fixed point (duplicate edges — the common streaming case) keeps the
    warm iterate AT the fixed point: k more rounds change nothing, so
    the early-stop probe exits at its first boundary."""
    g0 = _ring_hub()

    def df(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    fixed = pagerank(df(g0), n_iter=200, tol=1e-13)
    fixed_map = _ranks_of(fixed)
    again5 = _ranks_of(pagerank(df(g0), n_iter=5, init_ranks=fixed))
    assert _l1(again5, fixed_map) < 1e-11


def test_pagerank_streaming_drain_and_report(spark, tmp_path, state_store):
    chunk_dir = str(tmp_path / "edge_chunks")
    base = _ring_hub(12)
    for i in range(2):
        _pairs_df(spark, base[i::2]).coalesce(1).write.mode("append").parquet(
            chunk_dir
        )
    stream = (
        spark.readStream.schema("u long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    holder = state_store()
    q = start_streaming_pagerank(stream, holder.read, holder.write, damping=0.5)
    q.awaitTermination(120)
    top = pagerank_report(holder.state(PR_STATE_TABLES), top_k=1).collect()
    assert top[0]["node"] == 0  # the hub dominates
    want = _ranks_of(
        pagerank(
            _pairs_df(spark, base).select(
                F.col("u").alias("src"), F.col("v").alias("dst")
            ),
            n_iter=60,
            damping=0.5,
            tol=1e-12,
        )
    )
    got = _ranks_of(holder.read("ranks"))
    assert _l1(got, want) < 1e-9
