"""In-engine multinomial Naive Bayes over hashed token buckets —
language classification with a distributed-trained, driver-finished,
broadcast-scored model (the classic "sufficient statistics to the
driver, tiny model back to the cluster" split, same posture as
:mod:`ml.logreg` / :mod:`ml.kmeans`).

Train: per-(class, bucket) token counts are ONE map-side-combinable
aggregate whose output is bounded at |classes| × 256 rows — that
table, not the corpus, is what lands on the driver.  Smoothed
log-likelihoods ``floor(1e6 · ln((n_bc + 1) / (n_c + B)))`` and class
log-priors are computed in Python and shipped back as a literal
weight DataFrame.

Score: tokens join the broadcast weight table (one row per
class × bucket), per-(doc, class) BIGINT sums, window argmax with a
deterministic (score desc, class asc) tiebreak, then the confusion
matrix — exact integer counts all the way; the executors never call
``log``.

Why the key is fully oracle-checked despite ``log``: the driver's
``math.log`` and DuckDB's ``ln`` both resolve to the platform libm,
and both sides floor to the SAME scaled integer (floor, not
round — half-even vs half-away tie rules can never diverge) before any sum — so
the weight tables are bit-identical and everything downstream is
integer arithmetic (the tactic that keeps this out of rows-only
territory, unlike the float-sum ML keys).

Scale: the corpus is scanned twice (count aggregate, scoring join);
the model is O(classes × buckets) — broadcast-sized by construction.
Widening to the paper-standard 10⁴ buckets (md5 substr 1,4) changes
nothing structurally.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F, Window

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.ml.dsir import _bucketed_tokens
from lexam_data_pipeline_spark.operators.guards import collect_bounded

#: Number of hash buckets (md5 first-2-hex); the smoothing denominator.
NB_BUCKETS = 256

#: Ceiling on the label domain: the driver-side model is
#: O(classes × NB_BUCKETS) and is only broadcast-sized while the label
#: column is a genuine class label, not an id.  Enforced loudly via
#: collect_bounded (round-4 verdict item 3).
MAX_NB_CLASSES = 1_000

#: Fixed-point scale for log-probabilities.
NB_SCALE = 1_000_000


def train_nb(docs: DataFrame) -> tuple[list[tuple[str, int]], list[tuple[str, str, int]]]:
    """(priors, weights): class log-priors and per-(class, bucket)
    smoothed log-likelihoods, both as scaled BIGINTs.

    The collect is bounded: |classes| class rows + |classes| × 256
    count rows."""
    class_rows = collect_bounded(
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")),
        MAX_NB_CLASSES,
        "train_nb class-count table",
    )
    n_total = sum(r["n_docs"] for r in class_rows)
    # float() each operand BEFORE dividing to mirror the oracle's
    # CAST(... AS DOUBLE)/CAST(... AS DOUBLE): past 2^53 Python's exact
    # int division and double division differ by 1 ulp
    priors = [
        (
            r["lang"],
            math.floor(
                NB_SCALE * math.log(float(r["n_docs"]) / float(n_total))
            ),
        )
        for r in class_rows
    ]
    toks = _bucketed_tokens(docs)
    cnt_rows = collect_bounded(
        toks.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("n")),
        MAX_NB_CLASSES * NB_BUCKETS,
        "train_nb (class, bucket) count table",
    )
    tok_totals: dict[str, int] = {}
    for r in cnt_rows:
        tok_totals[r["lang"]] = tok_totals.get(r["lang"], 0) + r["n"]
    counts = {(r["lang"], r["b"]): r["n"] for r in cnt_rows}
    weights = []
    for lang, _ in priors:
        denom = tok_totals.get(lang, 0) + NB_BUCKETS
        for bi in range(NB_BUCKETS):
            b = format(bi, "02x")
            n_bc = counts.get((lang, b), 0)
            weights.append(
                (
                    lang,
                    b,
                    math.floor(
                        NB_SCALE * math.log(float(n_bc + 1) / float(denom))
                    ),
                )
            )
    return priors, weights


def q_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes language identification confusion matrix: train on
    the full corpus, classify every document, count (true, predicted)
    pairs — the eval-tier view of an in-engine generative classifier.

    Oracle-checked end to end (see module docstring for why the log
    table is engine-portable)."""
    # r11 A/B note: a persisted per-doc bucket-count fold (one tokenize
    # pass shared by train + score, c·w scoring) was measured
    # interleaved and LOST on the clean window (2.50 → 2.67 min,
    # 2.59 → 3.05 median) — the (doc, lang, bucket) aggregate +
    # materialization costs more than the second tokenize pass it
    # saves, so the per-token shape stays.
    docs = load_table(spark, sf_dir, "documents", fan=True)
    priors, weights = train_nb(docs)
    wdf = local_rows(spark, weights, "cand string, b string, w long")
    pdf = local_rows(spark, priors, "cand string, prior long")
    toks = _bucketed_tokens(docs)
    scores = (
        toks.join(F.broadcast(wdf), "b")
        .groupBy("doc_id", "lang", "cand")
        .agg(F.sum("w").alias("s"))
        .join(F.broadcast(pdf), "cand")
        .withColumn("score", F.col("s") + F.col("prior"))
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("cand").alias("pred_lang"))
    )
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("lang", "pred_lang")
    )
