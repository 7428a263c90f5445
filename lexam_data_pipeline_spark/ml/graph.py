"""Iterative graph analytics: PageRank over the order co-purchase graph.

Completes the engine's graph-operator family (connected components in
``ml/dedup.py``, k-core pruning in ``plans/fixture_queries.q_kcore_prune``)
with the canonical *weighted-propagation* iteration — the pattern behind
PageRank, label propagation, and belief-style score spreading used to
rank sources/domains during corpus curation (e.g. "quality flows from
curated seed domains").

Graph: bipartite customer↔supplier from ``orders ⋈ lineitem``
(customer bought from supplier), symmetrized so every node with an edge
has out-degree ≥ 1 (no dangling-mass correction needed — any mass loss
would otherwise need the standard redistribution term).

Scale shape: each iteration is ONE shuffle — ``ranks ⋈ edges`` on src
(edges pre-partitioned by src and cached, so only the small rank table
moves) then ``groupBy(dst)`` with map-side partial sums.  Rank state is
2 columns × |V| — it fits executor memory at any corpus size that fits
the cluster.  Iteration count is fixed (power iteration converges
geometrically; 3 rounds is plenty for top-k ordering here).

Two forms: the float :func:`pagerank` is the production operator
(tol-based early stop; pinned by an independent numpy power iteration
to 1e-9 in ``tests/test_graph.py``), and :func:`pagerank_fixed` is the
integer twin whose determinism lets ``q_pagerank`` carry a full
hash-match DuckDB oracle (unrolled-iteration SQL, the
q_label_propagation pattern).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.operators.iterate import fixpoint

DAMPING = 0.85
N_ITER = 3

#: truncate the rank DataFrame's lineage every k iterations — without
#: this the plan tree grows linearly with n_iter (fine at 3, a
#: Catalyst-analysis blowup by ~20); see operators/iterate.fixpoint
CHECKPOINT_EVERY = 5

#: fixed-point PageRank scale: ranks are BIGINTs in units of 1e-12.
#: 85·Σcontribs ≤ 85·SCALE ≈ 8.5e13 ≪ 2^63, so no intermediate overflows.
PR_SCALE = 10**12
#: q_pagerank's driver-checked iteration count (the float production
#: form keeps N_ITER=3; one extra round costs one shuffle and buys a
#: fixed-point result deep enough that top-20 order is stable).
PR_N_ITER = 4


def pagerank(
    edges: DataFrame,
    n_iter: int = N_ITER,
    damping: float = DAMPING,
    assume_distinct: bool = False,
    tol: float | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank over directed ``(src, dst)`` edges; returns ``node, rank``.

    Nodes = every src or dst.  Nodes without out-edges contribute no
    mass (callers wanting the classic dangling redistribution should
    symmetrize, as :func:`q_pagerank` does).

    ``assume_distinct=True`` skips the defensive edge dedup — correct
    whenever the caller's edge list is already distinct (e.g. the union
    of both directions of a distinct pair set over disjoint node
    namespaces, as in :func:`q_pagerank`); saves one full shuffle of
    the edge list.

    Long runs: every :data:`CHECKPOINT_EVERY` iterations the rank table
    is ``localCheckpoint``-ed, truncating lineage so plan depth stays
    O(CHECKPOINT_EVERY) regardless of ``n_iter``.  With ``tol`` set, the
    checkpoint boundary also observes the L1 rank delta against the
    previous boundary (the checkpoint carries those ranks beside the new
    ones, so the probe adds no job) and stops early once
    ``sum(|r_t - r_{t-k}|) < tol`` — geometric convergence makes the
    k-step delta a sound stand-in for the 1-step one.

    ``init_ranks`` (``node, rank``) WARM-STARTS the iteration: the map
    ``x ↦ t·1 + d·Pᵀx`` is an affine L1-contraction with factor
    ``damping < 1``, so it has a UNIQUE fixed point and converges from
    ANY seed — a warm seed near the fixed point just needs fewer rounds
    (the incremental maintainer's lever, streaming/graph.py).  Nodes
    absent from the seed (new arrivals) start at the uniform 1/n.
    """
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    edges = edges.select("src", "dst")
    if not assume_distinct:
        edges = edges.distinct()
    # out-degree rides along with each edge: one small join, cached once
    # — the one persist that matters (the edge list feeds every round)
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edges_w = persist_slot(edges.join(out_deg, "src"), "graph.edges_w")
    nodes = persist_slot(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "graph.nodes",
    )
    n_nodes = nodes.count()  # O(1) driver scalar, not a data collect
    if n_nodes == 0:  # empty graph: empty ranking, schema preserved
        return nodes.select("node", F.lit(0.0).alias("rank"))
    teleport = (1.0 - damping) / n_nodes

    if init_ranks is not None:
        ranks = nodes.join(
            init_ranks.select("node", F.col("rank").alias("__seed")),
            "node",
            "left_outer",
        ).select(
            "node",
            F.coalesce("__seed", F.lit(1.0 / n_nodes)).alias("rank"),
        )
    else:
        ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))

    def step(ranks: DataFrame) -> DataFrame:
        contribs = edges_w.join(ranks, edges_w.src == ranks.node).select(
            F.col("dst").alias("node"), (F.col("rank") / F.col("out_deg")).alias("c")
        )
        mass = contribs.groupBy("node").agg(F.sum("c").alias("mass"))
        return nodes.join(mass, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )

    delta = F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d")

    def l1_delta(ranks: DataFrame, last: DataFrame | None):
        # The checkpoint carries each node's rank at the previous boundary
        # beside its new one (the first boundary has none: a null delta
        # never stops).  A union + group, not a join: a checkpoint keeps
        # its plan's size estimate, a join's estimate is the product of
        # its sides', and joining each boundary to the last would square
        # the estimate per boundary until computing it stalls the driver.
        # Every node is in both sides, and r + 0.0 is exactly r.
        if last is None:
            return ranks.withColumn("prev", F.lit(None).cast("double")), [delta]
        now = ranks.select("node", "rank", F.lit(0.0).alias("prev"))
        before = last.select("node", F.lit(0.0).alias("rank"), F.col("rank").alias("prev"))
        both = now.unionByName(before).groupBy("node")
        return both.agg(F.sum("rank").alias("rank"), F.sum("prev").alias("prev")), [delta]

    ranks, _ = fixpoint(
        ranks,
        step,
        every=CHECKPOINT_EVERY,
        bound=n_iter,
        probe=None if tol is None else l1_delta,
        stop=lambda got, _: got["d"] is not None and got["d"] < tol,
    )
    return ranks.select("node", "rank")


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = PR_N_ITER,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Fixed-point PageRank over SYMMETRIC distinct ``(src, dst)`` edges;
    returns ``node, rank_scaled`` (BIGINT, units of ``1/scale``).

    Every arithmetic step is integer — per-edge contribution
    ``rank_scaled div out_deg``, update ``teleport + (85·Σc) div 100``
    — so the result is a pure function of the edge set: integer sums
    are associative/commutative, which makes the iterate independent of
    partitioning AND engine.  That is what upgrades ``q_pagerank`` from
    the float form's rows-only driver check to a full hash-match DuckDB
    oracle (the unrolled-iteration twin, the q_label_propagation
    pattern).  Truncation error vs the float iterate is ≤ n_iter·d/scale
    per node — 3.4e-12 at the defaults, far below any ranking decision.

    The float :func:`pagerank` stays the production form (no div
    truncation bias, tol-based early stop, dangling handling); this is
    the verification twin with the same one-shuffle-per-iteration shape.

    Caller contract (as in :func:`q_pagerank`): ``edges`` is distinct
    and symmetrized, so every node has out-degree ≥ 1 and appears in
    every contribution aggregate (teleport fuses into the groupBy).
    """
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edges_w = persist_slot(edges.join(out_deg, "src"), "graph.edges_fx")
    nodes = edges_w.select(F.col("src").alias("node")).distinct()
    # NOT fused in-plan (r12 A/B, quiet window, 5 pairs: 3.66 min /
    # 4.14 med unfused vs 4.50 / 4.69 with a broadcast 1-row n_nodes
    # cross-joined into the seed + every iteration): the count job's
    # work is not wasted — it materializes the edges persist the four
    # iteration joins then read — while the in-plan variant pays a
    # BroadcastNestedLoopJoin + subquery per round.  Keep the one
    # driver scalar.
    n_nodes = nodes.count()  # O(1) driver scalar (oracle: a 1-row CTE)
    if n_nodes == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_scaled"))
    teleport = ((damping_den - damping_num) * scale) // (damping_den * n_nodes)
    ranks = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("rank_scaled")
    )

    def step(ranks: DataFrame) -> DataFrame:
        contribs = edges_w.join(ranks, edges_w.src == ranks.node).select(
            F.col("dst").alias("node"),
            F.expr("rank_scaled div out_deg").alias("c"),
        )
        return contribs.groupBy("node").agg(
            (
                F.lit(teleport)
                + F.expr(f"({damping_num} * sum(c)) div {damping_den}")
            )
            .cast("long")
            .alias("rank_scaled")
        )

    return fixpoint(ranks, step, every=CHECKPOINT_EVERY, bound=n_iter)[0]


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Minimum-hop BFS from ``seeds`` over directed ``(src, dst)`` edges.

    Returns ``(node, hop)`` for every node reachable within ``max_hops``
    (seeds at hop 0; a node's row carries its MINIMUM hop distance —
    level-synchronous expansion guarantees first touch = shortest).

    Reference parity: graph reachability the reference expresses with a
    recursive CTE (the oracle for ``q_graph_bfs`` IS that CTE); Spark
    has no recursive SQL, so the idiomatic form is level-synchronous
    frontier expansion — per hop, one join (frontier onto the edge
    list) + one distinct + one anti-join against the visited set.

    100 TB shape: the per-hop join shuffles only the FRONTIER against
    the (cached) edge list — closed nodes never move; Catalyst
    broadcasts the frontier side automatically while it is under the
    AQE threshold (typical for seeded neighbourhood queries) and falls
    back to a shuffle join when a hop explodes.  Like
    :func:`pagerank`, lineage is truncated with ``localCheckpoint``
    every :data:`CHECKPOINT_EVERY` hops (each hop references the previous
    frontier AND the visited union, so uncheckpointed plan size doubles
    per hop: a 30-hop run never left Catalyst analysis without it), where
    the frontier checkpoint's observed row count also early-exits drained
    frontiers — so ``max_hops`` can be the graph diameter without
    plan-depth blowup, and no hop runs a driver action of its own.
    """
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    edges = edges.select("src", "dst")
    # Persist the edge list ONLY for deep runs: a shallow BFS (no
    # checkpoint boundary) is one job, where AQE ReusedExchange already
    # dedupes the repeated edge subplan and a persist just adds a
    # materialization barrier (A/B at sf0.1: 3.4 s unpersisted vs 4.3 s
    # persisted — same lesson as q_triangle_count).  Past a checkpoint
    # boundary each segment is a separate job, exchange reuse cannot
    # span jobs, and the persist pays for itself.
    if max_hops > CHECKPOINT_EVERY:
        edges = persist_slot(edges, "graph.bfs_edges")

    def settle(visited: DataFrame | None, frontier: DataFrame, h: int) -> DataFrame:
        at = frontier.withColumn("hop", F.lit(h).cast("int"))
        return at if visited is None else visited.unionByName(at)

    hops = itertools.count()  # the hop of the frontier each step settles

    # state: (frontier at hop h, visited up to hop h-1) — the frontier is
    # checkpointed and probed before the visited set, and a drained
    # frontier stops the loop before the visited set is checkpointed
    def step(state: tuple) -> tuple:
        frontier, visited = state
        visited = settle(visited, frontier, next(hops))
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        return frontier, visited

    (frontier, visited), h = fixpoint(
        (seeds.select("node").distinct(), None),
        step,
        every=CHECKPOINT_EVERY,
        bound=max_hops,
        probe=lambda frontier, _: (frontier, [F.count(F.lit(1)).alias("n")]),
        stop=lambda got, _: got["n"] == 0,
    )
    return settle(visited, frontier, h)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by 4-round FIXED-POINT PageRank on the symmetrized
    customer↔supplier graph — deterministic BIGINT ranks (units of
    1e-12), fully hash-match-oracled against the unrolled-iteration
    DuckDB twin (round-9 verdict item 6; previously the float form's
    rows-only row).  The float :func:`pagerank` remains the production
    operator, pinned by the independent numpy power iteration in
    tests/test_graph.py.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # node ids: even = customer, odd = supplier (disjoint namespaces)
    pairs = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).union(pairs.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")))
    # the two directions live in disjoint even/odd namespaces, so the
    # union of the distinct pair set is distinct by construction
    ranks = pagerank_fixed(edges, PR_N_ITER)
    return (
        ranks.orderBy(F.desc("rank_scaled"), F.asc("node"))
        .limit(20)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").cast("bigint").alias("key"),
            F.col("rank_scaled").cast("long").alias("rank_scaled"),
        )
    )


LPA_N_ITER = 4
LPA_TOP_COMMUNITIES = 20


def label_propagation(pairs: DataFrame, n_iter: int = LPA_N_ITER) -> DataFrame:
    """Synchronous label propagation over undirected ``(u, v)`` pairs;
    returns ``node, label`` after ``n_iter`` rounds.

    Fully deterministic (unlike classic async LPA): every node updates
    simultaneously to its neighbors' modal label, ties broken by MIN
    label — so the result is a pure function of the edge set and
    cross-engine reproducible (the DuckDB oracle unrolls the same
    iterations).  Labels start as the node ids.

    Scale shape: per iteration one join (labels onto the cached
    symmetrized edge list — only the 2-column label table moves) and one
    combined aggregate: ``min(struct(-count, label))`` collapses the
    per-(node, neighbor-label) counts and the argmax into a single
    groupBy, i.e. TWO shuffles per round, state = 2 columns × |V|.
    ``localCheckpoint`` every 2 rounds truncates lineage (the BFS/CC
    lesson: join-per-iteration lineage compounds)."""
    from lexam_data_pipeline_spark.operators.caching import persist_slot

    und = persist_slot(
        pairs.select("u", "v").union(
            pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ),
        "graph.lpa_edges",
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )

    def step(labels: DataFrame) -> DataFrame:
        msgs = und.join(labels, und.v == labels.node).select(
            F.col("u").alias("node"), "label"
        )
        counts = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        return (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("best")
            )
            .select("node", F.col("best.l").alias("label"))
        )

    return fixpoint(labels, step, every=2, bound=n_iter)[0]


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities on the mutual-top-K supplier co-purchase graph
    (same graph as ``q_triangle_count``) after 4 synchronous
    min-tiebreak LPA rounds — community detection completing the graph
    family (PageRank ranks, k-core trims, CC merges, LPA clusters).

    Deterministic integers end-to-end → full DuckDB hash-match oracle
    (the unrolled-iteration SQL twin)."""
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        TRIANGLE_TOP_K,
        copurchase_mutual_topk,
    )

    pairs = copurchase_mutual_topk(spark, sf_dir, TRIANGLE_TOP_K)
    labels = label_propagation(pairs, LPA_N_ITER)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(LPA_TOP_COMMUNITIES)
        .select(
            F.col("community").cast("bigint"),
            F.col("size").cast("bigint"),
        )
    )
