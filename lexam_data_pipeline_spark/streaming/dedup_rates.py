"""Incremental cross-source near-dup-rate maintenance — the streaming
twin of :func:`ml.dedup.q_dedup_rate_by_source` (round-7 verdict item 6).

A training corpus ingests continuously; the provenance audit ("which
source republishes which") should not re-run the full candidate join per
refresh.  This maintainer folds each micro-batch of NEW documents into
four state tables from which the report is served cheaply:

* ``shingle_df (s, df)`` — document frequency of every shingle ever seen
* ``postings (s, doc_id)`` — docs per shingle, kept only while df ≤ MAX_DF
  (the batch twin's df-capped inverted index)
* ``docs (doc_id, source, n_sh)`` — per-doc meta; n_sh counts the doc's
  distinct shingles currently under the cap
* ``pairs (doc_id_a, doc_id_b, common)`` — currently-qualifying shared
  shingle counts for every candidate pair (doc_id_a < doc_id_b)

The subtle part is RETRACTION: the batch semantics df-cap on the FINAL
corpus, so when a batch pushes a shingle's df past MAX_DF, that
shingle's past contributions must be withdrawn — every pair among its
posting docs loses one ``common``, every posting doc loses one ``n_sh``,
and its postings are dropped.  With retraction in place the drained
state is CELL-IDENTICAL to the batch computation on the union of all
batches, for ANY micro-batch split (tests/test_streaming_dedup_rates.py
proves it), because every quantity is an exact integer count.

Per-trigger cost: the batch's shingles join the df-capped postings —
O(batch shingles × ≤MAX_DF) pair updates, independent of corpus size.
Crossings retract at most MAX_DF² pair rows per crossing shingle, and
each shingle crosses at most once, ever.  No stage rescans the corpus.

Serving closes over :func:`ml.dedup.cross_source_rate_report` — the
SAME rollup expressions as the batch key, so report parity cannot
drift (the functions/text.readability_counts pattern).

Contract: each document arrives exactly once (append-only unique
doc_id — upstream exact dedup, streaming/dedup.py, guarantees this in
the composed pipeline).
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

#: must equal the batch twin's df cap (ml/dedup.q_dedup_rate_by_source)
MAX_DF = 50
#: must equal the batch twin's jaccard cut
JACCARD_MIN = 0.5

STATE_TABLES = ("shingle_df", "postings", "docs", "pairs")

_SCHEMAS = {
    "shingle_df": "s string, df long",
    "postings": "s string, doc_id long",
    "docs": "doc_id long, source string, n_sh long",
    "pairs": "doc_id_a long, doc_id_b long, common long",
}


def dedup_rates_merge(
    state: dict[str, DataFrame | None], batch: DataFrame
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new documents into the four state tables.

    Pure batch logic (the streaming loop calls it per trigger); returns
    the NEW state dict without mutating the inputs."""
    from lexam_data_pipeline_spark.ml.dedup import _doc_shingles

    df0, post0, docs0, pairs0 = (
        or_empty(batch.sparkSession, state.get(t), _SCHEMAS[t]) for t in STATE_TABLES
    )

    # (doc_id, s) — distinct per doc by construction (shingle_set)
    b_post = persist_slot(_doc_shingles(batch), "dedup_rates.b_post")
    b_cnt = b_post.groupBy("s").agg(F.count(F.lit(1)).alias("bc"))

    # df merge: old df (0 for unseen) + this batch's contribution
    merged = (
        df0.withColumnRenamed("df", "df_old")
        .join(b_cnt, "s", "full_outer")
        .select(
            "s",
            F.coalesce("df_old", F.lit(0)).alias("df_old"),
            (F.coalesce("df_old", F.lit(0)) + F.coalesce("bc", F.lit(0))).alias(
                "df_new"
            ),
        )
    )
    merged = persist_slot(merged, "dedup_rates.merged")

    # shingles crossing the cap THIS batch: they had postings (df_old in
    # [1, MAX_DF]) and no longer qualify — withdraw their contributions.
    crossing = merged.filter(
        (F.col("df_old") >= 1)
        & (F.col("df_old") <= MAX_DF)
        & (F.col("df_new") > MAX_DF)
    ).select("s")
    # shingles qualifying AFTER this batch
    qual = merged.filter(F.col("df_new") <= MAX_DF).select("s")

    cross_post = persist_slot(post0.join(crossing, "s"), "dedup_rates.cross_post")
    x, y = cross_post.alias("x"), cross_post.alias("y")
    retract = x.join(
        y, (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id"))
    ).select(
        F.col("x.doc_id").alias("doc_id_a"),
        F.col("y.doc_id").alias("doc_id_b"),
        F.lit(-1).alias("delta"),
    )
    nsh_dec = cross_post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dec"))

    new_in = persist_slot(b_post.join(qual, "s"), "dedup_rates.new_in")  # new postings, all qualifying
    old_in = post0.join(qual, "s")  # surviving old postings of same shingles
    n, o = new_in.alias("n"), old_in.alias("o")
    add_new_old = n.join(o, F.col("n.s") == F.col("o.s")).select(
        F.least("n.doc_id", "o.doc_id").alias("doc_id_a"),
        F.greatest("n.doc_id", "o.doc_id").alias("doc_id_b"),
        F.lit(1).alias("delta"),
    )
    a, b = new_in.alias("a"), new_in.alias("b")
    add_new_new = a.join(
        b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.lit(1).alias("delta"),
    )
    deltas = (
        retract.unionByName(add_new_old)
        .unionByName(add_new_new)
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum("delta").alias("delta"))
    )
    pairs1 = (
        pairs0.join(deltas, ["doc_id_a", "doc_id_b"], "full_outer")
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.coalesce("common", F.lit(0)) + F.coalesce("delta", F.lit(0))).alias(
                "common"
            ),
        )
        # a pair whose every shared shingle crossed the cap is no longer
        # a candidate — exactly as the batch twin never generates it
        .filter(F.col("common") >= 1)
    )

    new_doc_nsh = new_in.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    batch_docs = (
        batch.select("doc_id", "source")
        .join(new_doc_nsh, "doc_id", "left_outer")
        .select(
            "doc_id", "source", F.coalesce("n_sh", F.lit(0)).alias("n_sh")
        )
    )
    docs1 = (
        docs0.join(nsh_dec, "doc_id", "left_outer")
        .select(
            "doc_id",
            "source",
            (F.col("n_sh") - F.coalesce("dec", F.lit(0))).alias("n_sh"),
        )
        .unionByName(batch_docs)
    )

    post1 = post0.join(crossing, "s", "left_anti").unionByName(
        new_in.select("s", "doc_id")
    )
    df1 = merged.select("s", F.col("df_new").alias("df"))
    return {"shingle_df": df1, "postings": post1, "docs": docs1, "pairs": pairs1}


def dedup_rates_report(state: dict[str, DataFrame | None]) -> DataFrame:
    """Serve the cross-source report off the maintained state — the
    q_dedup_rate_by_source closing (jaccard cut + shared rollup) over
    the incremental pair table instead of a fresh candidate join."""
    from lexam_data_pipeline_spark.ml.dedup import cross_source_rate_report

    docs, pairs = state["docs"], state["pairs"]
    na = docs.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    nb = docs.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    near = (
        pairs.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .filter(
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
            >= JACCARD_MIN
        )
        .select("doc_id_a", "doc_id_b")
    )
    return cross_source_rate_report(near, docs.select("doc_id", "source"))


def start_streaming_dedup_rates(
    stream: DataFrame, read_state: ReadState, write_state: WriteState
):
    """Maintain the four-table state under a micro-batched document
    stream.  Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "dedup_rates.batch")  # read once per fold
        return dedup_rates_merge(state, batch)

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
