"""release_all() frees the dedup flat projection and the ANN indexes like
any other slot.

``ml/dedup._normalized_flat`` persists the normalized-embedding
projection (a lineage cut) in the ``dedup.flat`` slot, keyed by
``(sf_dir, dim)``.  The bench calls ``release_all()`` between timed runs;
a cache it missed would let the second pass reuse the first pass's
materialization, which is exactly the cross-run caching the bench's
min-of-2 must not see.  The ``ivf.index`` and ``pq.index`` slots hold
the ANN indexes, with their driver-side centroids and codebooks, under
the same lifecycle.
"""

from __future__ import annotations

import pytest

from lexam_data_pipeline_spark.ml import dedup, ivf, pq
from lexam_data_pipeline_spark.operators import caching
from lexam_data_pipeline_spark.operators.caching import release_all


def test_release_all_clears_flat_cache(spark, sf_small):
    flat = dedup._normalized_flat(spark, sf_small, 4)
    key, held, _ = caching._SLOTS["dedup.flat"]
    assert key == (sf_small, 4) and held is flat
    assert flat.storageLevel.useMemory  # persisted

    # same key → same persisted object, no rebuild
    assert dedup._normalized_flat(spark, sf_small, 4) is flat

    release_all()
    assert "dedup.flat" not in caching._SLOTS
    assert not flat.storageLevel.useMemory  # unpersisted

    # next call rebuilds from scratch instead of reusing a stale handle
    rebuilt = dedup._normalized_flat(spark, sf_small, 4)
    assert rebuilt is not flat
    release_all()


def test_new_corpus_replaces_flat_slot(spark, sf_small, sf_oracle):
    small = dedup._normalized_flat(spark, sf_small, 4)
    other = dedup._normalized_flat(spark, sf_oracle, 4)
    assert other is not small
    assert not small.storageLevel.useMemory  # the old entry is released
    assert caching._SLOTS["dedup.flat"][0] == (sf_oracle, 4)
    release_all()


@pytest.mark.parametrize(
    "module, query, build_name, slot",
    [
        (ivf, ivf.q_knn_ivf, "build_ivf_index", "ivf.index"),
        (pq, pq.q_knn_ivfpq, "build_ivfpq_index", "pq.index"),
    ],
    ids=["ivf", "ivfpq"],
)
def test_release_all_frees_ann_index(spark, sf_small, monkeypatch, module, query, build_name, slot):
    """The ANN index lives in a keyed slot: repeated probes reuse it, and
    release_all() unpersists it so the next probe builds it again."""
    real, builds = getattr(module, build_name), []

    def counting(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, build_name, counting)
    first = query(spark, sf_small).collect()
    index = caching._SLOTS[slot][1]
    assert index.storageLevel.useMemory
    assert query(spark, sf_small).collect() == first
    assert len(builds) == 1  # the second probe reused the index

    release_all()
    assert not index.storageLevel.useMemory
    assert query(spark, sf_small).collect() == first
    assert len(builds) == 2
    assert caching._SLOTS[slot][1] is not index
    release_all()
