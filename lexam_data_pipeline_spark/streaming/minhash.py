"""Incremental MinHash-LSH candidate maintenance — the streaming twin
of :func:`ml.dedup.q_minhash_lsh_pairs` (the 23rd maintainer; closes
the last batch-only near-dup DISCOVERY door: exact dedup, the n-gram
inverted index, cluster labels, and cross-source rates already stream —
this adds on-arrival LSH collision detection itself).

At 100 TB continuous ingest, re-running banded LSH per refresh re-hashes
and re-joins the whole corpus.  This maintainer folds each micro-batch
of NEW documents against bounded-shape state:

* ``signatures (doc_id, mh_0..mh_{k-1})`` — k BIGINTs per seen doc (the
  similarity-estimate source; 128 B/doc at k=16)
* ``postings (band, bucket, doc_id)`` — the LSH index, b rows per doc;
  partition by (band, bucket) in production so a batch probe touches
  only its buckets
* ``pairs (doc_id_a, doc_id_b, est_jaccard)`` — the accumulated result
  set (grows with OUTPUT, which is inherent — it IS the answer)

Per-trigger fold: signature the batch (the batch operator's own
:func:`ml.dedup.minhash_signatures`), explode its band rows with the
SHARED :func:`ml.dedup.lsh_band_rows`, then find collisions
batch×state (equi-join on (band, bucket) against the postings index —
ships only the batch's postings) and batch×batch (the within-trigger
self-join, O(batch)).  New pairs anti-join the accumulated set, get
their estimate from the SHARED :func:`ml.dedup.attach_est_jaccard`
over the signature union, and append.

Correctness: a pair collides iff SOME band bucket contains both docs —
which happens in the trigger where the LATER doc arrives, so the union
over triggers of (batch×state ∪ batch×batch) collisions is EXACTLY the
batch operator's candidate set over the union of all documents, for ANY
micro-batch split; estimates agree because both doors read the same
signatures.  ``tests/test_streaming_minhash.py`` proves drained ==
batch row-for-row, including cross-batch collision pairs.

Contract: documents arrive append-only with unique doc_ids.
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

STATE_TABLES = ("signatures", "postings", "pairs")

MINHASH_K = 16
LSH_BANDS = 4
LSH_R = 4


def _schemas(k: int) -> dict[str, str]:
    return {
        "signatures": "doc_id long, " + ", ".join(f"mh_{i} long" for i in range(k)),
        "postings": "band int, bucket int, doc_id long",
        "pairs": "doc_id_a long, doc_id_b long, est_jaccard double",
    }


def minhash_merge(
    state: dict[str, DataFrame | None],
    batch_docs: DataFrame,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    r: int = LSH_R,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new documents; returns the new state."""
    from lexam_data_pipeline_spark.ml.dedup import (
        attach_est_jaccard,
        lsh_band_rows,
        minhash_signatures,
    )

    initialized = state.get("signatures") is not None
    sig0, post0, pairs0 = (
        or_empty(batch_docs.sparkSession, state.get(t), s) for t, s in _schemas(k).items()
    )

    # Empty-trigger short-circuit (mirrors pagerank_merge/lpa_merge): an
    # empty batch against initialized state must not rewrite the three
    # state tables through write_state.
    if initialized and batch_docs.isEmpty():
        return {"signatures": sig0, "postings": post0, "pairs": pairs0}

    # Replay safety: foreachBatch is at-least-once, so a re-delivered
    # micro-batch (or a duplicate doc_id within one) would otherwise
    # duplicate signature rows and multiply join rows in
    # attach_est_jaccard for every later pair.  Already-seen doc_ids are
    # exact duplicates by the append-only unique-doc_id contract, so
    # dropping them is the identity fold.
    batch_docs = batch_docs.join(sig0.select("doc_id"), "doc_id", "left_anti")

    new_sig = persist_slot(minhash_signatures(batch_docs, k=k), "mhm.sig")
    new_post = persist_slot(lsh_band_rows(new_sig, bands=bands, r=r), "mhm.post")

    # batch×state collisions: only the batch's postings move (equi-join
    # into the bucket-partitioned index); batch×batch: the O(batch)
    # within-trigger self-join.  Orient every pair (min, max).
    np_ = new_post.alias("np")
    op = post0.alias("op")
    cross = np_.join(
        op,
        (F.col("np.band") == F.col("op.band"))
        & (F.col("np.bucket") == F.col("op.bucket"))
        & (F.col("np.doc_id") != F.col("op.doc_id")),
    ).select(
        F.least(F.col("np.doc_id"), F.col("op.doc_id")).alias("doc_id_a"),
        F.greatest(F.col("np.doc_id"), F.col("op.doc_id")).alias("doc_id_b"),
    )
    nb = new_post.alias("nb")
    within = np_.join(
        nb,
        (F.col("np.band") == F.col("nb.band"))
        & (F.col("np.bucket") == F.col("nb.bucket"))
        & (F.col("np.doc_id") < F.col("nb.doc_id")),
    ).select(
        F.col("np.doc_id").alias("doc_id_a"), F.col("nb.doc_id").alias("doc_id_b")
    )
    fresh = (
        cross.unionByName(within)
        .distinct()
        .join(pairs0.select("doc_id_a", "doc_id_b"), ["doc_id_a", "doc_id_b"], "left_anti")
    )
    sig1 = sig0.unionByName(new_sig)
    new_pairs = attach_est_jaccard(fresh, sig1, k=k)
    return {
        "signatures": sig1,
        "postings": post0.unionByName(new_post),
        "pairs": pairs0.unionByName(new_pairs),
    }


def minhash_report(state: dict[str, DataFrame | None]) -> DataFrame:
    """Serve the batch key's exact shape (doc_id_a, doc_id_b,
    est_jaccard) off the maintained pair set — no recomputation."""
    pairs = state.get("pairs")
    if pairs is None:
        raise ValueError("no minhash state yet")
    return pairs


def start_streaming_minhash(
    stream: DataFrame,
    read_state: ReadState,
    write_state: WriteState,
    *,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    r: int = LSH_R,
):
    """Maintain the LSH index + candidate pairs under a micro-batched
    document stream.  Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "mhm.batch")
        return minhash_merge(state, batch, k=k, bands=bands, r=r)

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
