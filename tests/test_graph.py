"""PageRank (ml/graph.py) — numpy power iteration is the oracle.

The float production `pagerank` is pinned by an independent dense numpy
power iteration to 1e-9 on every node; the fixed-point `pagerank_fixed`
behind the (hash-match-oracled) q_pagerank key is pinned EXACTLY by a
pure-Python arbitrary-precision integer simulation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lexam_data_pipeline_spark.ml.graph import DAMPING, N_ITER, pagerank, q_pagerank


def _numpy_pagerank(edges: list[tuple[int, int]], n_iter: int, d: float) -> dict[int, float]:
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        mass = np.zeros(n)
        for s, t in edges:
            mass[idx[t]] += rank[idx[s]] / out_deg[idx[s]]
        rank = (1.0 - d) / n + d * mass
    return {node: rank[i] for node, i in idx.items()}


def _python_pagerank_fixed(
    edges: list[tuple[int, int]], n_iter: int, scale: int
) -> dict[int, int]:
    """Independent pure-Python integer PageRank — exact arbitrary-
    precision ints, so agreement with Spark/DuckDB is equality, not
    approximation."""
    from collections import defaultdict

    out_deg: dict[int, int] = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    nodes = sorted(out_deg)
    n = len(nodes)
    tele = (15 * scale) // (100 * n)
    rank = {node: scale // n for node in nodes}
    for _ in range(n_iter):
        mass: dict[int, int] = defaultdict(int)
        for s, t in edges:
            mass[t] += rank[s] // out_deg[s]
        rank = {node: tele + (85 * mass[node]) // 100 for node in nodes}
    return rank


class TestPageRank:
    def test_matches_numpy_on_toy_graph(self, spark):
        edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 3), (1, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        want = _numpy_pagerank(edges, N_ITER, DAMPING)
        assert set(got) == set(want)
        for node in want:
            assert got[node] == pytest.approx(want[node], abs=1e-9)

    def test_rank_mass_conserved_on_symmetric_graph(self, spark):
        # symmetrized graph has no dangling nodes → total rank == 1
        pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
        edges = pairs + [(b, a) for a, b in pairs]
        df = spark.createDataFrame(edges, "src long, dst long")
        total = pagerank(df).agg(F.sum("rank")).collect()[0][0]
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_hub_outranks_leaf(self, spark):
        # star: everything points at node 0 (and back, so no dangling)
        edges = [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        ranks = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 2

    def test_fixture_query_matches_python_fixed_point(self, spark, sf_small):
        """q_pagerank is the 4-round FIXED-POINT iterate: an independent
        pure-Python integer simulation must agree EXACTLY (the driver's
        DuckDB hash-match oracle is the unrolled SQL twin; this is the
        engine-independent third opinion)."""
        from lexam_data_pipeline_spark.catalog import load_table
        from lexam_data_pipeline_spark.ml.graph import PR_N_ITER, PR_SCALE

        orders = load_table(spark, sf_small, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_small, "lineitem").select("l_orderkey", "l_suppkey")
        pairs = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("a"),
                (F.col("l_suppkey") * 2 + 1).alias("b"),
            )
            .distinct()
            .collect()
        )
        edges = [(r["a"], r["b"]) for r in pairs] + [(r["b"], r["a"]) for r in pairs]
        want = _python_pagerank_fixed(edges, PR_N_ITER, PR_SCALE)
        top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = q_pagerank(spark, sf_small).collect()
        assert len(got) == 20
        for row, (node, rank_scaled) in zip(got, top):
            assert row["key"] == node // 2
            assert row["node_type"] == ("customer" if node % 2 == 0 else "supplier")
            assert row["rank_scaled"] == rank_scaled

    def test_fixed_point_tracks_float_iterate(self, spark):
        """pagerank_fixed's truncation drift vs the float iterate is
        bounded by n_iter·d/scale per node — the scaled error bound that
        justifies calling it a verification TWIN, not an approximation."""
        from lexam_data_pipeline_spark.ml.graph import PR_SCALE, pagerank_fixed

        pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (2, 5), (5, 4)]
        edges = pairs + [(b, a) for a, b in pairs]
        df = spark.createDataFrame(edges, "src long, dst long")
        fx = {
            r["node"]: r["rank_scaled"] / PR_SCALE
            for r in pagerank_fixed(df, n_iter=4).collect()
        }
        want = _numpy_pagerank(edges, 4, DAMPING)
        assert set(fx) == set(want)
        # each round floors once per in-edge and once per node, so drift
        # ≤ n_iter·(max_in_deg+1)/scale ≈ 2e-11 here; 1e-9 is 50× slack
        for node in want:
            assert abs(fx[node] - want[node]) < 1e-9

    def test_tol_checkpoints_keep_the_size_estimate_linear(self, spark):
        """A checkpoint keeps its plan's size estimate, so the tol probe's
        boundary frame must not multiply it by the previous boundary's
        (a join would square the estimate per boundary: 26k digits after
        3 boundaries here, and a 200-round run stalled the driver in
        BigInt products).  tol=0 never stops, so every boundary is
        taken."""
        edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 3), (1, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")

        def digits(n_iter: int) -> int:
            plan = pagerank(df, n_iter=n_iter, tol=0.0)._jdf.queryExecution().optimizedPlan()
            return len(str(plan.stats().sizeInBytes()))

        assert digits(31) < 2 * digits(16)


@pytest.mark.slowsuite
class TestLongRuns:
    """Checkpointed iteration: plan depth stays bounded at high n_iter
    (round-3 verdict item 6) and numpy parity is unchanged."""

    def _ring_edges(self, n=12):
        # directed ring + chords: irregular enough that ranks differ
        edges = [(i, (i + 1) % n) for i in range(n)]
        edges += [(i, (i + 5) % n) for i in range(0, n, 3)]
        return edges

    def test_20_iterations_match_numpy(self, spark):
        edges = self._ring_edges()
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=20).collect()}
        want = _numpy_pagerank(edges, 20, DAMPING)
        assert set(got) == set(want)
        for node, w in want.items():
            assert abs(got[node] - w) < 1e-9

    def test_plan_depth_bounded_by_checkpoint(self, spark):
        """At 20 iterations the final plan must NOT contain 20 chained
        joins — lineage is truncated at each 5-iteration checkpoint, so
        at most CHECKPOINT_EVERY joins remain."""
        edges = self._ring_edges()
        df = spark.createDataFrame(edges, "src long, dst long")
        plan20 = pagerank(df, n_iter=20)._jdf.queryExecution().optimizedPlan().toString()
        plan50 = pagerank(df, n_iter=50)._jdf.queryExecution().optimizedPlan().toString()
        # the general path contributes ≤3 joins per un-truncated iteration
        # (contribs join + nodes left-join + out-degree reuse), so a
        # truncated tail of CHECKPOINT_EVERY iterations stays ≤ ~21 joins
        assert plan20.count("Join") <= 21
        # and depth is CONSTANT in n_iter once past the first checkpoint
        assert plan50.count("Join") == plan20.count("Join")

    def test_tolerance_early_stop_converges(self, spark):
        """With tol set, a 50-iteration budget stops early at a converged
        fixed point: result equals a full 50-iteration numpy run."""
        edges = self._ring_edges()
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, n_iter=50, tol=1e-12).collect()
        }
        want = _numpy_pagerank(edges, 50, DAMPING)
        for node, w in want.items():
            assert abs(got[node] - w) < 1e-9

    def test_symmetric_long_run_mass_conserved(self, spark):
        pairs = [(i, j) for i in range(6) for j in range(6) if i != j and (i + j) % 3]
        df = spark.createDataFrame(pairs, "src long, dst long")
        total = (
            pagerank(df, n_iter=20, assume_distinct=True)
            .agg(F.sum("rank"))
            .collect()[0][0]
        )
        assert abs(total - 1.0) < 1e-9


def _python_lpa(pairs: list[tuple[int, int]], n_iter: int) -> dict[int, int]:
    """Independent synchronous min-tiebreak LPA (pure python)."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for u, v in pairs:
        nbrs[u].append(v)
        nbrs[v].append(u)
    label = {n: n for n in nbrs}
    for _ in range(n_iter):
        nxt = {}
        for n, ns in nbrs.items():
            c = Counter(label[m] for m in ns)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        label = nxt
    return label


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        """Two 4-cliques joined by one bridge edge must resolve into two
        communities labelled by each clique's min node."""
        from lexam_data_pipeline_spark.ml.graph import label_propagation

        cliq = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        cliq += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        edges = cliq + [(4, 10)]
        df = spark.createDataFrame(edges, "u long, v long")
        got = {r["node"]: r["label"] for r in label_propagation(df, 4).collect()}
        assert got == _python_lpa(edges, 4)
        # min-label communities: the 1-clique converges to 1
        assert {got[n] for n in (1, 2, 3)} == {1}
        assert {got[n] for n in (11, 12, 13)} == {10}

    def test_matches_python_on_fixture_graph(self, spark, sf_small):
        """Spark LPA label assignment must equal the independent python
        sync-LPA on the identical mutual-top-K edge set."""
        from lexam_data_pipeline_spark.ml.graph import (
            LPA_N_ITER,
            label_propagation,
        )
        from lexam_data_pipeline_spark.plans.fixture_queries import (
            TRIANGLE_TOP_K,
            copurchase_mutual_topk,
        )

        pairs_df = copurchase_mutual_topk(spark, sf_small, TRIANGLE_TOP_K)
        pairs = [(r["u"], r["v"]) for r in pairs_df.collect()]
        want = _python_lpa(pairs, LPA_N_ITER)
        got = {
            r["node"]: r["label"]
            for r in label_propagation(pairs_df, LPA_N_ITER).collect()
        }
        assert got == want

    def test_fixture_query_community_sizes(self, spark, sf_small):
        from collections import Counter

        from lexam_data_pipeline_spark.ml.graph import (
            LPA_N_ITER,
            q_label_propagation,
        )
        from lexam_data_pipeline_spark.plans.fixture_queries import (
            TRIANGLE_TOP_K,
            copurchase_mutual_topk,
        )

        pairs = [
            (r["u"], r["v"])
            for r in copurchase_mutual_topk(spark, sf_small, TRIANGLE_TOP_K).collect()
        ]
        sizes = Counter(_python_lpa(pairs, LPA_N_ITER).values())
        want = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = [
            (r["community"], r["size"])
            for r in q_label_propagation(spark, sf_small).collect()
        ]
        assert got == want
