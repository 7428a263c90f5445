"""Incremental PageRank and label-propagation maintenance — streaming
twins of :func:`ml.graph.pagerank` / :func:`ml.graph.q_label_propagation`
(the 21st/22nd maintainers; round-9 verdict item 3: the graph family was
the last north-star surface batch-only in streaming — connected
components got its incremental door in round 9, PageRank/LPA get theirs
here).

At 100 TB of continuous ingest a from-scratch refresh rescans the whole
edge set per trigger; both maintainers bound the per-trigger work using
the structure of their iteration:

**PageRank (warm start).**  The update ``x ↦ t·1 + d·Pᵀx`` is an affine
L1-contraction (factor = damping < 1) with a UNIQUE fixed point, so it
converges from ANY seed — correctness of the drained state needs no
incremental algebra at all, just re-convergence.  Each fold unions the
new edges and re-converges :func:`ml.graph.pagerank` seeded from the
stored ranks (``init_ranks``): the rounds needed drop from
``log(tol/δ_cold)/log(d)`` to ``log(tol/δ_warm)/log(d)``, where
``δ_warm = ||fixed_old − fixed_new||`` is the perturbation the batch
actually caused — ZERO extra rounds for batches that do not move the
ranks (duplicate/parallel edges, the common streaming case), and
measurably fewer otherwise (the pinned fixture lands ~3× closer to the
fixed point than a cold start after the same rounds; both claims in
``tests/test_streaming_graph.py``).  The per-round edge scan is
inherent to PageRank — every rank depends on the whole graph — so
iteration count is the axis an incremental door can win on; the
early-stop boundary probe converts the better seed into fewer shuffles
automatically.

**LPA (component-scoped recompute).**  Synchronous min-tiebreak LPA from
node-id seeds DECOMPOSES over connected components: messages travel only
along edges, so labels never cross components and the fixed-iteration
result on a disjoint union is the union of per-component results.  Each
fold therefore (1) folds the batch into incremental CC state
(:func:`streaming.clusters.clusters_merge` — O(batch) contracted graph),
(2) finds the components TOUCHED by batch endpoints, (3) re-runs the
batch-proven :func:`ml.graph.label_propagation` on ONLY those
components' edges, and (4) splices the fresh labels over the untouched
ones.  Per-trigger RECOMPUTE cost (the LPA iteration shuffles) is
O(edges of touched components); the candidate SCAN in
:func:`lpa_affected_edges` still joins the full edge table against the
component map once per trigger — O(corpus) read, O(touched) shuffle.
The production win of pruning that scan too needs the cluster-
partitioned edge layout, so the left-semi on touched clusters prunes
partitions at the source.  The drained labels are EXACTLY
the batch LPA over the union of all edge batches, for ANY micro-batch
split (the decomposition lemma; proven including cross-batch component
merges in tests/test_streaming_graph.py).

Contract: edges arrive append-only; duplicates are harmless (both folds
de-duplicate).  State contract: streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
)

PR_STATE_TABLES = ("edges", "ranks")
LPA_STATE_TABLES = ("edges", "labels", "comps")

_SCHEMAS = {
    "edges": "u long, v long",
    "ranks": "node long, rank double",
    "labels": "node long, label long",
    "comps": "node long, cluster long",
}

#: per-fold iteration budget for the warm-started PageRank re-converge.
#: Sized so a COLD first fold still reaches PR_TOL at the default
#: damping (ln(1e-9)/ln(0.85) ≈ 128 rounds); warm folds exit at the
#: first early-stop boundary instead — the budget is a ceiling, not a
#: cost, because the tol probe stops the loop as soon as the k-step
#: delta converges.
PR_MAX_ITER = 200
PR_TOL = 1e-9


# ── PageRank ────────────────────────────────────────────────────────────────


def pagerank_merge(
    state: dict[str, DataFrame | None],
    batch_edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float | None = PR_TOL,
    max_iter: int = PR_MAX_ITER,
    src: str = "u",
    dst: str = "v",
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new directed edges; returns the new
    ``{edges, ranks}`` state.  Ranks re-converge warm-started from the
    stored fixed point (see module docstring)."""
    from lexam_data_pipeline_spark.ml.graph import pagerank

    edges0 = or_empty(batch_edges.sparkSession, state.get("edges"), _SCHEMAS["edges"])
    ranks0 = state.get("ranks")
    b = (
        batch_edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if b.isEmpty() and ranks0 is not None:
        # empty trigger: nothing moved, skip the re-converge entirely
        return {"edges": edges0, "ranks": ranks0}
    edges1 = persist_slot(edges0.unionByName(b).distinct(), "prm.edges")
    ranks1 = pagerank(
        edges1.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        n_iter=max_iter,
        damping=damping,
        assume_distinct=True,
        tol=tol,
        init_ranks=ranks0,
    )
    return {"edges": edges1, "ranks": ranks1}


def pagerank_report(state: dict[str, DataFrame | None], top_k: int = 20) -> DataFrame:
    """Serve the top-k ranked nodes off the maintained table — no
    recomputation."""
    ranks = state.get("ranks")
    if ranks is None:
        raise ValueError("no pagerank state yet")
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(top_k)


def start_streaming_pagerank(
    stream: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    damping: float = 0.85,
    src: str = "u",
    dst: str = "v",
):
    """Maintain warm-started PageRank under a micro-batched edge stream.
    Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "prm.batch")
        return pagerank_merge(state, batch, damping=damping, src=src, dst=dst)

    return start_fold(stream, fold, PR_STATE_TABLES, read_state, write_state)


# ── Label propagation ───────────────────────────────────────────────────────


def lpa_affected_edges(
    edges: DataFrame, comps: DataFrame, batch_nodes: DataFrame
) -> DataFrame:
    """The edge set of every component containing a batch endpoint —
    the ONLY edges the LPA fold recomputes over.  ``comps`` must already
    reflect the batch (post clusters_merge), so components merged BY the
    batch resolve to one cluster id and both old components' edges are
    selected."""
    touched = (
        comps.join(F.broadcast(batch_nodes), "node", "left_semi")
        .select("cluster")
        .distinct()
    )
    u_comp = comps.select(F.col("node").alias("u"), "cluster")
    return (
        edges.join(u_comp, "u")
        .join(F.broadcast(touched), "cluster", "left_semi")
        .select("u", "v")
    )


def lpa_merge(
    state: dict[str, DataFrame | None],
    batch_pairs: DataFrame,
    *,
    n_iter: int | None = None,
    src: str = "u",
    dst: str = "v",
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new undirected pairs; returns the new
    ``{edges, labels, comps}`` state with labels EXACTLY equal to the
    batch ``label_propagation`` over all edges seen (the component
    decomposition lemma — module docstring)."""
    from lexam_data_pipeline_spark.ml.graph import LPA_N_ITER, label_propagation
    from lexam_data_pipeline_spark.streaming.clusters import clusters_merge

    n_iter = LPA_N_ITER if n_iter is None else n_iter
    spark = batch_pairs.sparkSession
    b = persist_slot(
        batch_pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "lpam.batch",
    )
    st = {t: or_empty(spark, state.get(t), _SCHEMAS[t]) for t in LPA_STATE_TABLES}
    edges0, labels0 = st["edges"], st["labels"]
    if b.isEmpty() and state.get("labels") is not None:
        # empty trigger: no component touched, every table carries over
        return st
    edges1 = persist_slot(edges0.unionByName(b).distinct(), "lpam.edges")
    # (1) incremental CC — O(batch) contracted graph, round-9 operator
    comps1 = persist_slot(
        clusters_merge(state.get("comps"), b, src="u", dst="v"), "lpam.comps"
    )
    batch_nodes = (
        b.select(F.col("u").alias("node"))
        .unionByName(b.select(F.col("v").alias("node")))
        .distinct()
    )
    # (2)+(3) recompute LPA on the touched components only
    affected = persist_slot(
        lpa_affected_edges(edges1, comps1, batch_nodes), "lpam.affected"
    )
    fresh = label_propagation(affected, n_iter)
    # (4) splice: labels of untouched components carry over untouched
    affected_nodes = (
        affected.select(F.col("u").alias("node"))
        .unionByName(affected.select(F.col("v").alias("node")))
        .distinct()
    )
    labels1 = labels0.join(affected_nodes, "node", "left_anti").unionByName(fresh)
    return {"edges": edges1, "labels": labels1, "comps": comps1}


def lpa_report(state: dict[str, DataFrame | None], top_k: int = 20) -> DataFrame:
    """Serve the batch key's community rollup (community, size) off the
    maintained labels — q_label_propagation's exact output shape."""
    labels = state.get("labels")
    if labels is None:
        raise ValueError("no LPA state yet")
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(top_k)
        .select(F.col("community").cast("bigint"), F.col("size").cast("bigint"))
    )


def start_streaming_lpa(
    stream: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    n_iter: int | None = None,
    src: str = "u",
    dst: str = "v",
):
    """Maintain component-scoped LPA labels under a micro-batched pair
    stream.  Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "lpam.raw_batch")
        return lpa_merge(state, batch, n_iter=n_iter, src=src, dst=dst)

    return start_fold(stream, fold, LPA_STATE_TABLES, read_state, write_state)
