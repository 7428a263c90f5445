"""The state contract shared by every ``foreachBatch`` maintainer in
``streaming/``, its production store, and the one drain loop.

State contract.  A maintainer's state is a set of named tables.
``read_state(name) -> DataFrame | None`` returns the table's live
version, or None before its first write.  ``write_state(name, df)``
replaces it.  ``df`` is LAZY and may still reference what
``read_state`` returned in the same trigger, so a store must never
overwrite the data a reader plan points at: it either swaps atomically
to a fresh location (:func:`parquet_state_store`) or materializes ``df``
before replacing the table (the in-memory store in ``tests/conftest.py``).

Cells.  Most state tables are count cells: a micro-batch is counted
into the same cell tables as the batch endpoint counts its rows
(``serving.dashboard.dashboard_cells``, the builders of
``serving.stats``), and :func:`sum_cells` sums them into the state.

Triggers.  Every maintainer drains the input available when it starts
and stops (``trigger(availableNow=True)``).  There is no continuous
trigger: no maintainer sets a ``checkpointLocation``, so a long-running
query could not resume where it stopped, and nothing verified one.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import local_rows

ReadState = Callable[[str], DataFrame | None]
WriteState = Callable[[str, DataFrame], None]
State = dict[str, DataFrame | None]


def or_empty(spark: SparkSession, df: DataFrame | None, schema: str) -> DataFrame:
    """``df``, or an empty frame of ``schema`` for a table with no
    version yet."""
    return df if df is not None else local_rows(spark, [], schema)


#: Score-keyed state cells quantize their key to ROUND(score, 5) when a
#: micro-batch is merged.  The engine's judge-score extraction clamps to
#: [0,1] and the reference's ``[[x.x]]`` format carries ONE decimal, so
#: every in-contract score satisfies ``round(s, 5) == s`` (so does the
#: oracle fixture's 1/32 grid — k/32 = k·3125/100000, exactly 5 decimal
#: digits): quantization is the IDENTITY and the folds equal the batch
#: endpoints exactly.  Against a stream of arbitrary floats in [0,1] it
#: bounds the cells at 10^5+1 per group key.  Out-of-range scores are
#: not bounded by it; the reports aggregate the cells in Spark and never
#: collect them to the driver, so such scores grow only the state.
SCORE_CELL_PRECISION = 5


def sum_cells(state: DataFrame, delta: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge a micro-batch's cells ``delta`` into the ``state`` table:
    the rows of both, every column but ``keys`` summed per key (with no
    other column, the distinct keys).  A ``score`` key is quantized to
    :data:`SCORE_CELL_PRECISION` first."""
    if "score" in keys:
        delta = delta.withColumn("score", F.round("score", SCORE_CELL_PRECISION))
    rows = state.unionByName(delta)
    sums = [F.sum(c).alias(c) for c in rows.columns if c not in keys]
    return rows.groupBy(*keys).agg(*sums) if sums else rows.distinct()


def parquet_state_store(spark: SparkSession, root: str) -> tuple[ReadState, WriteState]:
    """Versioned parquet state with an atomic pointer swap — the safe
    implementation of the state contract.

    Layout: table ``name`` lives in ``root/<name>``; each write lands in
    a fresh ``v{n}`` subdirectory, and a ``_CURRENT`` marker file names
    the live version.  The marker is flipped with ``os.replace`` (atomic
    on POSIX) only AFTER the new version is fully written.  A writer
    therefore never touches the directory a still-lazy reader plan
    points at, old versions stay readable for plans in flight, and a
    crash mid-write leaves ``_CURRENT`` on the previous good version.
    (On an object store, replace the marker flip with the store's
    conditional-put equivalent.)
    """

    def _current(path: str) -> str | None:
        try:
            with open(os.path.join(path, "_CURRENT")) as fh:
                return fh.read().strip() or None
        except FileNotFoundError:
            return None

    def read(name: str) -> DataFrame | None:
        path = os.path.join(root, name)
        v = _current(path)
        if v is None:
            return None
        return spark.read.parquet(os.path.join(path, v))

    def write(name: str, df: DataFrame) -> None:
        path = os.path.join(root, name)
        os.makedirs(path, exist_ok=True)
        v = _current(path)
        nxt = "v0" if v is None else f"v{int(v[1:]) + 1}"
        df.write.mode("overwrite").parquet(os.path.join(path, nxt))
        marker = os.path.join(path, "_CURRENT")
        with open(marker + ".tmp", "w") as fh:
            fh.write(nxt)
        os.replace(marker + ".tmp", marker)

    return read, write


def start_fold(
    stream: DataFrame,
    fold: Callable[[State, DataFrame], dict[str, DataFrame]],
    tables: Sequence[str],
    read_state: ReadState,
    write_state: WriteState,
):
    """Drain ``stream`` through ``fold``; returns the StreamingQuery.

    Each micro-batch computes ``new = fold({t: read_state(t) for t in
    tables}, batch)`` and then calls ``write_state(t, new[t])`` for each
    table, in the order of ``tables``."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        new = fold({t: read_state(t) for t in tables}, batch)
        for t in tables:
            write_state(t, new[t])

    return stream.writeStream.foreachBatch(process_batch).trigger(availableNow=True).start()
