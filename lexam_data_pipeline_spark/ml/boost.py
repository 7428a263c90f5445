"""In-engine boosted decision stumps over embedding features — the
distributed-statistics / driver-argmin split (same posture as
:mod:`ml.kmeans` / :mod:`ml.nb`), with an *integer-weight* boosting rule
chosen specifically so every number in the loop is exact.

Algorithm (doubling-weight boosting, the integer cousin of discrete
AdaBoost): binary label ``y = (label >= 5)`` over the first
:data:`BOOST_FEATURES` embedding dimensions, each equi-width-binned into
:data:`BOOST_BINS` buckets from its global min/max.  Each round

1. aggregates per-(feature, bin, class) WEIGHT SUMS distributed — one
   map-side-combinable groupBy whose output is bounded at
   ``features × bins × 2`` rows (128), which is what lands on the driver;
2. the driver scans all ``features × (bins-1) × 2`` candidate stumps
   (threshold + polarity) via cumulative sums over those cells and picks
   the minimum weighted error with a deterministic
   ``(err, feature, threshold, polarity)`` tiebreak;
3. every example the new stump misclassifies has its weight DOUBLED —
   ``w_i = 2^{#misclassifications so far}``, an exact BIGINT
   (``shiftleft``), so weighted errors are exact integers and the whole
   fit is engine-portable with NO floating-point anywhere.

The ensemble votes ±1 per stump; ties (even rounds) resolve negative.
Output per round: the chosen stump, its weighted error, and the
ensemble-so-far training accuracy — all exact integers, which is what
makes the key fully oracle-checkable (the DuckDB oracle unrolls the
three rounds as CTEs and must match bit-for-bit).

Scale: the corpus is scanned once into a persisted (vec_id, y, bins[])
frame (``features+2`` ints per row); each round costs ONE bounded
aggregate + ONE count — driver state is O(features × bins), independent
of corpus size.  Widening features/bins/rounds changes only those
constants.  Binning thresholds are data-global min/max (one aggregate,
broadcast back) — comparisons only, no float accumulation, so float32
inputs bin identically in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.operators.guards import collect_bounded

#: Leading embedding dimensions used as stump features.
BOOST_FEATURES = 8

#: Equi-width bins per feature (stump thresholds are bin boundaries).
BOOST_BINS = 8

#: Boosting rounds.
BOOST_ROUNDS = 3

#: Binary-task threshold on the multiclass label.
BOOST_LABEL_SPLIT = 5


def _binned_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, y, bv): per-vector int bin ids for the leading features.

    Bin = ``least(floor((x - min) / ((max - min) / BINS)), BINS - 1)``
    over the feature's global min/max (width-0 features collapse to
    bin 0).  All float ops are comparisons and one division chain on
    exactly-representable float32→double values — no accumulation, so
    the binning is deterministic and engine-portable."""
    feats = (
        emb
        # vectors shorter than the feature width can't fill a bin row
        # per feature (element_at on the short bv would be an ANSI
        # error); NULL labels map to the negative class exactly like
        # the oracle's CASE WHEN
        .where(F.size("embedding") >= BOOST_FEATURES)
        .select(
            "vec_id",
            F.when(F.col("label") >= BOOST_LABEL_SPLIT, F.lit(1))
            .otherwise(F.lit(0))
            .alias("y"),
            F.posexplode(
                F.slice("embedding", 1, BOOST_FEATURES)
            ).alias("f", "xf"),
        )
        .withColumn("x", F.col("xf").cast("double"))
    )
    stats = feats.groupBy("f").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    binned = feats.join(F.broadcast(stats), "f").select(
        "vec_id",
        "y",
        "f",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / F.lit(float(BOOST_BINS)))
                ),
                F.lit(BOOST_BINS - 1),
            )
        )
        .cast("int")
        .alias("b"),
    )
    # collapse per (vec_id, y, f) BEFORE assembling bv: duplicate key
    # rows (an all-duplicates corpus) would otherwise multiply
    # collect_list's length past BOOST_FEATURES and overflow the
    # collect_bounded guard downstream (identity on unique-keyed data —
    # min of the one bin value; map-side combinable)
    per_f = binned.groupBy("vec_id", "y", "f").agg(F.min("b").alias("b"))
    return per_f.groupBy("vec_id", "y").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("f", "b"))),
            lambda s: s["b"],
        ).alias("bv")
    )


def _stump_pred_pos(f: int, t: int, p: int) -> Column:
    """Predicate: does stump (feature f 0-based, threshold bin t,
    polarity p∈{1,-1}) predict the positive class for this row's bv?"""
    bin_f = F.element_at("bv", f + 1)
    return (bin_f >= t) if p == 1 else (bin_f < t)


def _best_stump(cells: list, total_w: dict[int, int]) -> tuple[int, int, int, int]:
    """Driver argmin over all candidate stumps from the collected
    (f, b, y, sw) weight cells.  Deterministic (err, f, t, p) tiebreak
    with p ascending (-1 before 1) — mirrored by the oracle's ORDER BY."""
    w = {}
    for r in cells:
        w[(r["f"], r["b"], r["y"])] = int(r["sw"])
    best = None
    for f in range(BOOST_FEATURES):
        for t in range(1, BOOST_BINS):
            pos_ge = sum(
                w.get((f, b, 1), 0) for b in range(t, BOOST_BINS)
            )
            neg_ge = sum(
                w.get((f, b, 0), 0) for b in range(t, BOOST_BINS)
            )
            for p in (-1, 1):
                if p == 1:
                    err = (total_w[1] - pos_ge) + neg_ge
                else:
                    err = pos_ge + (total_w[0] - neg_ge)
                key = (err, f, t, p)
                if best is None or key < best:
                    best = key
    err, f, t, p = best
    return f, t, p, err


def q_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of doubling-weight boosted stumps on embedding
    features: per round the chosen stump (feature, threshold bin,
    polarity), its exact integer weighted error, and the ensemble-so-far
    training accuracy.  Fully oracle-checked — the DuckDB twin unrolls
    the rounds and every value is exact integer arithmetic (see module
    docstring).

    Duplicate-key CONTRACT: ``vec_id`` is the vector identity.  Rows
    sharing a vec_id collapse to ONE training vector — per (vec_id, y,
    f) the min bin wins (``_binned_vectors``' per_f collapse) — and the
    oracle applies the identical GROUP BY collapse in its ``binned``
    CTE, so an all-duplicates corpus trains on each vector counted once
    on BOTH engines rather than silently diverging (round-6 advice)."""
    emb = load_table(spark, sf_dir, "embeddings", fan=True)
    bv = _binned_vectors(emb).persist()
    try:
        stumps: list[tuple[int, int, int]] = []
        out = []
        # round r's ensemble-accuracy predicate, counted in round r+1's
        # cells job (see below)
        prev_correct: Column | None = None
        for rnd in range(1, BOOST_ROUNDS + 1):
            # w = 2^(#misclassifications so far) as a product of exact
            # 2-or-1 BIGINT factors (mirrors the oracle's CASE product)
            wcol = F.lit(1).cast("bigint")
            for sf_, st, sp in stumps:
                wcol = wcol * F.when(
                    _stump_pred_pos(sf_, st, sp) != (F.col("y") == 1),
                    F.lit(2),
                ).otherwise(F.lit(1)).cast("bigint")
            # Action fusion (r11): the PREVIOUS round's ensemble count
            # rides this round's cells job as one extra conditional sum
            # — every vector contributes exactly one f==0 row to the
            # explode, so Σ nc over f==0 cells IS the ensemble-correct
            # count, bit-for-bit a separate count() job.  Saves one
            # driver action per inner round (probe: the key's cost is
            # ~6 × ~0.6 s of actions over the tiny persisted frame, not
            # execution).
            sel = [wcol.alias("w"), F.col("y"), F.posexplode("bv").alias("f", "b")]
            aggs = [F.sum("w").alias("sw")]
            if prev_correct is not None:
                sel.insert(0, prev_correct.cast("int").alias("pc"))
                aggs.append(F.sum("pc").alias("nc"))
            cells = collect_bounded(
                bv.select(*sel).groupBy("f", "b", "y").agg(*aggs),
                BOOST_FEATURES * BOOST_BINS * 2,
                "boosted-stumps (feature, bin, y) weight table",
            )
            if prev_correct is not None:
                n_prev = sum(int(r["nc"]) for r in cells if r["f"] == 0)
                out[-1] = out[-1][:5] + (n_prev,)
            # per-class total weight: every vector appears once per
            # feature in the cells, so summing any single feature's
            # bins gives the exact class total
            total_w = {0: 0, 1: 0}
            for r in cells:
                if r["f"] == 0:
                    total_w[r["y"]] += int(r["sw"])
            f, t, p, err = _best_stump(cells, total_w)
            stumps.append((f, t, p))
            votes = [
                F.when(_stump_pred_pos(sf_, st, sp), 1).otherwise(-1)
                for sf_, st, sp in stumps
            ]
            vote_sum = votes[0]
            for extra in votes[1:]:
                vote_sum = vote_sum + extra
            prev_correct = (vote_sum > 0) == (F.col("y") == 1)
            out.append((rnd, f, t, p, err, -1))  # filled next round
        # the last round has no next cells job to ride — one count
        out[-1] = out[-1][:5] + (bv.where(prev_correct).count(),)
        return local_rows(
            spark,
            out,
            "round int, feature int, thr_bin int, polarity int, "
            "weighted_err bigint, n_correct bigint",
        ).orderBy("round")
    finally:
        bv.unpersist()
