"""Streaming embedding-centroid maintenance: fold each micro-batch of
(label, embedding) rows into a persistent (label, pos, s, nl) state
table of quantized component sums, and serve the q_embedding_drift
pairwise centroid cosines off that state.

This is the streaming face of the embedding-geometry audit family
(q_embedding_drift / q_embedding_outliers / q_silhouette_labels in
plans.fixture_queries): an embedding pipeline re-embeds continuously,
and the drift monitor should NOT rescan the corpus per check.  Centroid
sums are the textbook mergeable statistic — ⌊val·1e6⌋ quantization
makes every per-(label, dimension) sum an exact BIGINT, and integer
sums are associative/commutative — so folding per-batch sums into the
state is EXACT: after draining any micro-batch split of the corpus the
state is cell-identical to the batch-built sum table, and the cosines
served off it EQUAL q_embedding_drift's batch output row-for-row
(tests/test_streaming_centroids.py proves both equalities, not
approximate agreement).

Per-trigger cost: one posexplode aggregate over the batch (output
≤ k·d rows) plus a (k·d)-row state merge — independent of corpus size.
State contract: streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.functions.embeddings import (
    QUANT_SCALE,
    label_dim_sums,
    quantized_components,
)
from lexam_data_pipeline_spark.plans.fixture_queries import _d18
from lexam_data_pipeline_spark.streaming.state import ReadState, WriteState, start_fold

STATE_COLUMNS = ("label", "pos", "s", "nl")
STATE_TABLES = ("sums",)

__all__ = ["QUANT_SCALE", "STATE_COLUMNS", "STATE_TABLES", "batch_sums", "centroid_merge",
           "centroid_cosines", "start_streaming_centroids"]


def batch_sums(batch: DataFrame) -> DataFrame:
    """(label, pos, s, nl) quantized component sums of one batch — the
    exact posture of q_embedding_drift's sum table (shared helper:
    functions/embeddings.py, so the quantization scale cannot diverge
    between the batch keys and this maintainer)."""
    return label_dim_sums(quantized_components(batch, with_vec_id=False))


def centroid_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Cell-wise sum of the prior state and the batch's sums.  Pure
    batch logic — the streaming loop calls it per trigger."""
    fresh = batch_sums(batch)
    if state is None:
        return fresh.select(*STATE_COLUMNS)
    return (
        state.select(*STATE_COLUMNS)
        .unionByName(fresh)
        .groupBy("label", "pos")
        .agg(F.sum("s").alias("s"), F.sum("nl").alias("nl"))
    )


def centroid_cosines(state: DataFrame) -> DataFrame:
    """Serve pairwise centroid cosines off the maintained state —
    the q_embedding_drift closing (1/n scales cancel inside cosine, so
    the integer sum vectors stand in for the centroids; decimal
    operands keep dot/norm products exact)."""
    sums = state.select("label", "pos", "s")
    norms = sums.groupBy("label").agg(F.sum(_d18("s") * _d18("s")).alias("n2"))
    a = sums.select(F.col("label").alias("label_a"), "pos", F.col("s").alias("sa"))
    b = sums.select(F.col("label").alias("label_b"), "pos", F.col("s").alias("sb"))
    dots = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(_d18("sa") * _d18("sb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    out = dots.join(F.broadcast(na), "label_a").join(F.broadcast(nb), "label_b")
    den = F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    return out.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        F.round(F.when(den > 0, F.col("dot").cast("double") / den), 6).alias(
            "centroid_cosine"
        ),
    ).orderBy("label_a", "label_b")


def start_streaming_centroids(
    stream: DataFrame, read_state: ReadState, write_state: WriteState
):
    """Maintain the centroid-sum state under a micro-batched embedding
    stream.  Returns the StreamingQuery."""
    return start_fold(
        stream,
        lambda st, batch: {"sums": centroid_merge(st["sums"], batch)},
        STATE_TABLES,
        read_state,
        write_state,
    )
