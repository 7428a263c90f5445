"""Incremental dashboard maintenance — the streaming twin of the
dashboard endpoint suite (serving/dashboard.py; contract key
q_dashboard_suite).

A question bank ingests continuously; the live dashboard should NOT
rescan the corpus per refresh.  Each micro-batch of NEW questions (with
their variants) folds into three bounded state tables from which ALL
ten dashboard sections are served:

* ``q_cells (course, area, jurisdiction, language, year, n)`` — counts
  of restricted questions; every question-side section (total, courses,
  areas, jurisdictions, year×area pivot, area×jurisdiction, lang×area)
  is a rollup of this cell table
* ``split_counts (split, n)`` + ``split_total (n)`` — distinct-question
  counts per split and overall; exact under the maintainer contract
  below, because a question's variants arrive in ONE batch, so each
  batch's distinct question ids are NEW to the state
* ``wc_hist (area, wc, n)`` — the open-answer word-count histogram at
  value grain; the fixed-bin histogram, the exact interpolated median
  (mirroring Spark's ``percentile`` formula term-for-term), avg, min
  and max all derive from it without keeping raw rows

The served report closes over serving.dashboard.flatten_dashboard —
the SAME long-format flatten as the batch key — and
tests/test_streaming_dashboard.py proves the drained report is
row-identical to q_dashboard_suite under any micro-batch split.

Contract: each question (and its variants) arrives exactly once and
atomically within one batch — the natural shape of a document-grain
ingest (the same append-only contract as streaming/dedup_rates.py).

Per-trigger cost: three batch-local aggregates plus key-summed merges
into tables bounded by |course×area×jurisdiction×language×year| cells,
|splits| rows, and the (area × word-count-domain) histogram —
independent of corpus volume.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window, functions as F

from lexam_data_pipeline_spark.catalog import local_rows
from lexam_data_pipeline_spark.operators.caching import persist_slot
from lexam_data_pipeline_spark.streaming.state import (
    ReadState,
    WriteState,
    or_empty,
    start_fold,
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


def _merge_sum(state: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    return (
        state.unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"))
    )


def dashboard_merge(
    state: dict[str, DataFrame | None],
    questions: DataFrame,
    variants: DataFrame,
    *,
    configs: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Fold one micro-batch of new questions + their variants into the
    three state tables.  Pure batch logic; the restriction semantics
    are serving.dashboard._restrict's, applied batch-locally (valid
    because a question's variants arrive in the same batch)."""
    from lexam_data_pipeline_spark.serving.dashboard import _restrict, word_count

    spark = questions.sparkSession
    q, v = _restrict(questions, variants, configs, None)
    q = persist_slot(q, "stream_dashboard.q")
    v = persist_slot(v, "stream_dashboard.v")

    st = {t: or_empty(spark, state.get(t), s) for t, s in _SCHEMAS.items()}

    cells_d = q.groupBy("course", "area", "jurisdiction", "language", "year").agg(
        F.count(F.lit(1)).alias("n")
    )
    splits_d = v.groupBy("split").agg(F.countDistinct("question_id").alias("n"))
    total_d = v.agg(F.countDistinct("question_id").alias("n"))
    open_answers = (
        v.filter(
            (F.col("config") == "open_question") & F.col("answer").isNotNull()
        )
        .select("question_id", "answer")
        .join(
            F.broadcast(q.select(F.col("id").alias("question_id"), "area")),
            "question_id",
            "inner",
        )
    )
    hist_d = (
        open_answers.select("area", word_count(F.col("answer")).alias("wc"))
        .groupBy("area", "wc")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return {
        "q_cells": _merge_sum(
            st["q_cells"], cells_d, ["course", "area", "jurisdiction", "language", "year"]
        ),
        "split_counts": _merge_sum(st["split_counts"], splits_d, ["split"]),
        "split_total": st["split_total"].unionByName(total_d).agg(F.sum("n").alias("n")),
        "wc_hist": _merge_sum(st["wc_hist"], hist_d, ["area", "wc"]),
    }


def dashboard_report(state: dict[str, DataFrame]) -> DataFrame:
    """Serve the full long-format dashboard off the maintained state —
    every section rebuilt to EQUAL serving.dashboard.dashboard's output
    (and therefore q_dashboard_suite's), closed by the shared
    flatten_dashboard."""
    from lexam_data_pipeline_spark.serving.dashboard import (
        ANSWER_LENGTH_BINS,
        AREAS,
        JURISDICTIONS,
        LANGUAGES,
        flatten_dashboard,
    )

    cells, hist = state["q_cells"], state["wc_hist"]
    spark = cells.sparkSession

    total_questions = cells.agg(F.sum("n").alias("total_questions"))
    courses = (
        cells.groupBy("course")
        .agg(
            F.first("area").alias("area"),
            F.sum("n").alias("count"),
            F.sum(F.when(F.col("language") == "de", F.col("n")).otherwise(0)).alias(
                "lang_de"
            ),
            F.sum(F.when(F.col("language") != "de", F.col("n")).otherwise(0)).alias(
                "lang_en"
            ),
        )
        .orderBy(F.desc("count"), F.asc("course"))
    )
    areas = cells.groupBy(F.col("area").alias("name")).agg(F.sum("n").alias("value"))
    jurisdictions = cells.groupBy(F.col("jurisdiction").alias("name")).agg(
        F.sum("n").alias("value")
    )
    years = (
        cells.groupBy("year")
        .agg(
            *[
                F.sum(F.when(F.col("area") == a, F.col("n")).otherwise(0)).alias(a)
                for a in AREAS
            ]
        )
        # the batch pivot's row total sums the four enumerated area
        # columns (not all rows) — mirror it exactly
        .withColumn("total", sum(F.col(a) for a in AREAS))
        .orderBy("year")
    )
    split_counts = state["split_counts"].select(
        F.col("split").alias("name"), F.col("n").alias("value")
    )
    total_split = state["split_total"].select(F.col("n").alias("__total"))
    splits = split_counts.crossJoin(F.broadcast(total_split)).select(
        "name",
        "value",
        F.when(
            F.col("__total") > 0,
            F.concat(
                F.round(F.col("value") / F.col("__total") * 100)
                .cast("int")
                .cast("string"),
                F.lit("%"),
            ),
        )
        .otherwise(F.lit("0%"))
        .alias("pct"),
    )
    area_jurisdiction = cells.groupBy("area").agg(
        *[
            F.sum(
                F.when(F.col("jurisdiction") == j, F.col("n")).otherwise(0)
            ).alias(j)
            for j in JURISDICTIONS
        ]
    )
    lang_area = cells.groupBy("area").agg(
        *[
            F.sum(F.when(F.col("language") == lang, F.col("n")).otherwise(0)).alias(
                lang
            )
            for lang in LANGUAGES
        ]
    )

    # fixed-bin histogram, empty bins densified — over wc_hist cells
    expr = None
    for lo, hi, label in ANSWER_LENGTH_BINS:
        cond = (
            (F.col("wc") >= lo)
            if hi is None
            else ((F.col("wc") >= lo) & (F.col("wc") < hi))
        )
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    counted = (
        hist.select(expr.alias("range"), "n")
        .groupBy("range")
        .agg(F.sum("n").alias("count"))
    )
    spec = local_rows(
        spark,
        [(label,) for _, _, label in ANSWER_LENGTH_BINS], "range string"
    )
    answer_lengths = spec.join(counted, "range", "left_outer").withColumn(
        "count", F.coalesce(F.col("count"), F.lit(0)).cast("long")
    )

    # Exact per-area stats off the value-grain histogram.  The median
    # mirrors Spark's Percentile interpolation TERM-FOR-TERM:
    # position = (count - 1.0) * 0.5; result = (ceil(pos) - pos) * lower
    # + (pos - floor(pos)) * higher (equal indices → the value itself).
    w_prior = Window.partitionBy("area").orderBy("wc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w_prior), F.lit(0))
    )
    totals = hist.groupBy("area").agg(
        F.sum("n").alias("cnt"),
        F.sum(F.col("wc").cast("double") * F.col("n")).alias("s"),
        F.min("wc").alias("minWords"),
        F.max("wc").alias("maxWords"),
    )
    pos = (F.col("cnt") - F.lit(1.0)) * F.lit(0.5)
    lo_i, hi_i = F.floor(pos), F.ceil(pos)
    j = cum.join(totals, "area")
    covers = lambda idx: (F.col("cum_before") <= idx) & (  # noqa: E731
        idx < F.col("cum_before") + F.col("n")
    )
    med = j.groupBy("area").agg(
        F.max(F.when(covers(lo_i), F.col("wc"))).cast("double").alias("vl"),
        F.max(F.when(covers(hi_i), F.col("wc"))).cast("double").alias("vu"),
    )
    answer_stats = (
        totals.join(med, "area")
        .select(
            "area",
            F.round(F.col("s") / F.col("cnt").cast("double"))
            .cast("int")
            .alias("avgWords"),
            F.round(
                F.when(lo_i == hi_i, F.col("vl")).otherwise(
                    (hi_i.cast("double") - pos) * F.col("vl")
                    + (pos - lo_i.cast("double")) * F.col("vu")
                )
            )
            .cast("int")
            .alias("medianWords"),
            "minWords",
            "maxWords",
        )
    )
    return flatten_dashboard(
        {
            "total_questions": total_questions,
            "courses": courses,
            "areas": areas,
            "jurisdictions": jurisdictions,
            "years": years,
            "splits": splits,
            "area_jurisdiction": area_jurisdiction,
            "lang_area": lang_area,
            "answer_lengths": answer_lengths,
            "answer_stats": answer_stats,
        }
    )


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
