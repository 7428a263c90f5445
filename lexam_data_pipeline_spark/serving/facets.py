"""Serving parity: the filter-facets endpoint (P6 skip-one-field faceting;
ref backend/app/main.py:117-132,462-495) — in ONE pass.

The reference re-runs the whole filtered query once per facet field (8
near-identical queries, each "all filters except mine, then DISTINCT me").
Here all eight facets come out of a single aggregate over the joined base:

    for each field f:  facet_f = collect_set( CASE WHEN <all predicates
                                              except f's> THEN f END )

One scan, one (tiny) shuffle, no repeated joins — the SURVEY §4 "custom
opportunity" realized.  At 100 TB this is the difference between 8 full
scans and 1.

Facet value ordering matches the reference: years descending
(main.py:494), everything else ascending (main.py:132 — values within one
facet are homogeneous strings here, so Python's mixed-type key degenerates
to a plain sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lexam_data_pipeline_spark.operators.partitioning import narrow
from lexam_data_pipeline_spark.operators.filters import (
    BOOL_FIELDS,
    QUESTION_LIST_FIELDS,
    VARIANT_LIST_FIELDS,
)

FACET_FIELDS = QUESTION_LIST_FIELDS + VARIANT_LIST_FIELDS


def facet_frame(questions: DataFrame, variants: DataFrame, fc: dict | None = None) -> DataFrame:
    """All facets as one row of arrays: column ``<field>__options``.

    Boolean filters apply to every facet (the reference never facets on
    them, only list fields are faceted — main.py:462-495)."""
    questions, variants = narrow(questions), narrow(variants)
    fc = fc or {}
    base = variants.select("question_id", *VARIANT_LIST_FIELDS).join(
        F.broadcast(
            questions.select(F.col("id").alias("question_id"), *QUESTION_LIST_FIELDS, *BOOL_FIELDS)
        ),
        "question_id",
        "inner",
    )
    for field in BOOL_FIELDS:
        val = fc.get(field)
        if val is not None:
            base = base.filter(F.col(field) == F.lit(bool(val)))

    preds = {
        f: (F.col(f).isin(*fc[f]) if fc.get(f) else F.lit(True)) for f in FACET_FIELDS
    }
    aggs = []
    for f in FACET_FIELDS:
        others = [preds[o] for o in FACET_FIELDS if o != f and fc.get(o)]
        cond = others[0] if others else F.lit(True)
        for p in others[1:]:
            cond = cond & p
        aggs.append(F.collect_set(F.when(cond, F.col(f))).alias(f"{f}__options"))
    return base.agg(*aggs)


def filter_facets(
    questions: DataFrame, variants: DataFrame, fc: dict | None = None
) -> dict[str, list]:
    """Facet options as plain sorted lists (the endpoint's JSON shape).

    The collect is one row of small arrays — driver-safe at any scale."""
    row = facet_frame(questions, variants, fc).collect()[0]
    out: dict[str, list] = {}
    for f in FACET_FIELDS:
        vals = [v for v in (row[f"{f}__options"] or []) if v is not None]
        out[f] = sorted(vals, reverse=True) if f == "year" else sorted(vals)
    return out
