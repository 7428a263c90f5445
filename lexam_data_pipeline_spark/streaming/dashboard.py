"""Incremental dashboard maintenance — the streaming twin of the
dashboard endpoint suite (serving/dashboard.py; contract key
q_dashboard_suite).

A question bank ingests continuously; the live dashboard should NOT
rescan the corpus per refresh.  Each micro-batch of NEW questions (with
their variants) is counted into the dashboard's cell tables
(:func:`serving.dashboard.dashboard_cells`, the same function the batch
endpoint counts its rows with), and those cells are summed into the
bounded state tables (:func:`streaming.state.sum_cells`, the merge the
/stats maintainers share):

* ``q_cells (course, area, jurisdiction, language, year, n)`` — counts
  of restricted questions; every question-side section (total, courses,
  areas, jurisdictions, year×area pivot, area×jurisdiction, lang×area)
  is a rollup of this cell table
* ``split_counts (split, n)`` + ``split_total (n)`` — distinct-question
  counts per split and overall; exact under the maintainer contract
  below, because a question's variants arrive in ONE batch, so each
  batch's distinct question ids are NEW to the state
* ``wc_hist (area, wc, n)`` — the open-answer word-count histogram at
  value grain; the fixed-bin histogram, the exact median (Spark's
  ``percentile`` with the cell count as frequency), avg, min and max
  all derive from it without keeping raw rows

The served report is the batch endpoint's own ten sections
(:func:`serving.dashboard.dashboard_sections`) over the state, closed by
the same long-format flatten as the batch key, so no section is defined
twice; tests/test_streaming_dashboard.py proves the drained report is
row-identical to q_dashboard_suite under any micro-batch split.

Contract: each question (and its variants) arrives exactly once and
atomically within one batch — the natural shape of a document-grain
ingest (the same append-only contract as streaming/dedup_rates.py).

Per-trigger cost: four batch-local aggregates plus key-summed merges
into tables bounded by |course×area×jurisdiction×language×year| cells,
|splits| rows, and the (area × word-count-domain) histogram —
independent of corpus volume.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.serving.dashboard import (
    _restrict,
    dashboard_cells,
    dashboard_sections,
    flatten_dashboard,
)
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
    sum_cells,
)

STATE_TABLES = ("q_cells", "split_counts", "split_total", "wc_hist")

_SCHEMAS = {
    "q_cells": (
        "course string, area string, jurisdiction string, language string, "
        "year int, n long"
    ),
    "split_counts": "split string, n long",
    "split_total": "n long",
    "wc_hist": "area string, wc int, n long",
}


def dashboard_merge(
    state: dict[str, DataFrame | None],
    questions: DataFrame,
    variants: DataFrame,
    *,
    configs: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new questions + their variants into the
    state tables: the batch's :func:`serving.dashboard.dashboard_cells`,
    summed cell-wise into the state.  Pure batch logic; the restriction
    semantics are serving.dashboard._restrict's, applied batch-locally
    (valid because a question's variants arrive in the same batch)."""
    q, v = _restrict(questions, variants, configs, None)
    delta = dashboard_cells(
        persist_slot(q, "stream_dashboard.q"), persist_slot(v, "stream_dashboard.v")
    )
    return {
        t: sum_cells(
            or_empty(questions.sparkSession, state.get(t), schema),
            delta[t],
            [c for c in delta[t].columns if c != "n"],
        )
        for t, schema in _SCHEMAS.items()
    }


def dashboard_report(state: dict[str, DataFrame]) -> DataFrame:
    """Serve the full long-format dashboard off the maintained state:
    the batch endpoint's own sections over the state cells, closed by
    the shared flatten_dashboard."""
    return flatten_dashboard(dashboard_sections(state))


def start_streaming_dashboard(
    stream: DataFrame,
    derive: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
    read_state: ReadState,
    write_state: WriteState,
    *,
    configs: list[str] | None = None,
):
    """Maintain the dashboard state under a micro-batched ingest stream;
    ``derive(batch)`` maps each raw payload batch to its (questions,
    variants) frames — a question's variants must arrive atomically with
    it (the maintainer contract).  Returns the StreamingQuery."""

    def fold(state, batch: DataFrame) -> dict[str, DataFrame]:
        batch = persist_slot(batch, "stream_dashboard.batch")
        questions, variants = derive(batch)
        return dashboard_merge(state, questions, variants, configs=configs)

    return start_fold(stream, fold, STATE_TABLES, read_state, write_state)
