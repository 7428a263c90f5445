"""Deduplication operators for the training-data pipeline (north star).

Four tiers, all pure DataFrame programs:

* **exact** — hash group-by on content.  One shuffle on the content hash;
  at 100 TB group on ``xxhash64(text)`` (or md5 for portability) rather
  than the raw text so shuffle rows stay small.
* **n-gram Jaccard** — shingle inverted index → candidate pairs sharing a
  shingle → exact Jaccard verify.  The candidate join is the scale knob:
  frequent shingles create quadratic buckets, so the index drops shingles
  with document frequency above a cap (standard near-dup practice).
* **MinHash + LSH** — k hash permutations → b bands of r rows →
  band-bucket join produces candidates in O(collisions), then exact
  verify.  This is the 100 TB path: cost is linear in corpus + collisions.
* **SimHash** — 64-bit sign-sketch per document; Hamming-ball candidate
  pairs via band buckets + ``bit_count`` verify.

Everything is expression-level (no Python UDFs); MinHash permutations are
affine transforms of ``xxhash64`` so the whole sketch stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table
from lexam_data_pipeline_spark.functions.text import shingle_set, tokens
from lexam_data_pipeline_spark.operators.caching import keyed_slot, persist_slot
from lexam_data_pipeline_spark.operators.iterate import checkpoint_observed, fixpoint


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + exploded distinct shingles, tokenizing exactly once."""
    return (
        docs.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(shingle_set(F.col("toks"))).alias("s"))
    )


#: df ceiling of the shingle inverted index (shared by every n-gram
#: near-dup key and mirrored by their oracles).
_NGRAM_MAX_DF = 50


def _rare_shingle_index(
    docs: DataFrame, slot: str = "dedup.shingle_index", persist: bool = True
) -> DataFrame:
    """(doc_id, s, n_sh) over df≤:data:`_NGRAM_MAX_DF` shingles — the
    candidate inverted index shared by the n-gram Jaccard / containment
    family.  Every consumer SELF-JOINS this frame; the df-cap and n_sh
    WINDOWS re-run per join side without a persist (AQE's runtime
    exchange reuse shares the exchange output, but the post-exchange
    window work is per-branch), so by default the index is persisted
    slot-bounded: one materialization, both join sides read the cache.

    ``persist=False`` keeps the recompute plan — the threshold-sweep and
    rate-by-source keys measured the persist as a loss (their extra
    downstream consumers already ride AQE reuse; the materialization
    pass only added cost), while the plain Jaccard / containment /
    clusters keys measured it as a win (r11 interleaved A/Bs in
    OPTIMIZATION_r11.md)."""
    from pyspark.sql import Window

    ex = (
        _doc_shingles(docs)
        .withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .filter(F.col("df") <= _NGRAM_MAX_DF)
        .withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
        .select("doc_id", "s", "n_sh")
    )
    if persist:
        ex = persist_slot(ex, slot)
    return ex

# Mersenne prime 2^31-1 as MinHash modulus: coefficients and hashes stay
# below 2^31, so the affine multiply fits int64 under ANSI arithmetic
# (Spark 4 overflow-checks by default; a 2^61 modulus would overflow).
_MERSENNE = (1 << 31) - 1


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per distinct text.

    Scale shape: group on a 128-bit content hash, not the document body —
    the shuffle then carries 16 bytes + key instead of the full text.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.5.

    Inverted-index self-join: explode distinct shingles, join on shingle
    with ``doc_id_a < doc_id_b``, count common shingles per pair, then
    Jaccard = common / (|A| + |B| - common).  Integer division keeps the
    score engine-exact.

    Scale guard: shingles appearing in more than ``MAX_DF`` documents are
    dropped from the *candidate index* (each contributes O(df²) join rows
    — the quadratic skew killer at corpus scale).  The pair similarity is
    then computed on candidates' common-rare-shingle counts relative to
    their rare-shingle vocabularies; a near-duplicate pair always shares
    rare shingles, so recall at the 0.5 threshold is unaffected in
    practice.  The oracle applies the identical cap.

    Perf shape: the document-frequency cap and the per-doc size are
    *window* counts, not groupBy-then-join-back — that halves the shuffle
    count (2 instead of 4: one on shingle, one on doc_id) and tokenizes
    each document exactly once instead of twice (5.6 s → 2.4 s at sf0.1;
    at corpus scale the saved shuffles dominate).
    """
    docs = load_table(spark, sf_dir, "documents")
    ex = _rare_shingle_index(docs)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.filter(jac >= 0.5).select(
        "doc_id_a", "doc_id_b", F.round(jac, 4).alias("jaccard")
    )


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity curve: for each Jaccard threshold
    0.1 … 0.9, how many candidate pairs and how many distinct documents
    would a near-dup pass at that threshold touch?  THE operational
    question before any dedup rollout — the curve's knee picks the
    production threshold; q_dedup_ngram_jaccard then runs at the chosen
    point.

    Exact core: "jaccard ≥ t/10" is decided by the integer
    cross-multiplication 10·common ≥ t·(na+nb−common) — no float
    comparison anywhere, so bucket membership is engine-exact.  Each
    pair fans out only to the thresholds it qualifies for
    (``sequence(1, tmax)`` — ≤ 9 rows per pair).

    Scale: identical candidate pipeline (df-capped inverted index) and
    shuffle budget as q_dedup_ngram_jaccard; the sweep adds one ≤9×
    fan-out of the (already reduced) pair table, then two bounded
    (≤9-row) aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    # persist=False: measured a loss for this key (see helper docstring)
    ex = _rare_shingle_index(docs, persist=False)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    union_sz = F.col("na") + F.col("nb") - F.col("common")
    tmax = F.least(F.lit(9), F.expr("(10 * common) div (na + nb - common)"))
    qual = (
        pairs.withColumn("tmax", tmax)
        .where(F.col("tmax") >= 1)
        .select(
            F.explode(F.sequence(F.lit(1), F.col("tmax"))).alias("t10"),
            "doc_id_a",
            "doc_id_b",
        )
    )
    # ONE pass over the qualifying pairs (guide §2.4, r11 VERDICT item
    # 6): both outputs derive from the exploded (t10, doc) frame.  Each
    # qualifying pair contributes exactly TWO exploded rows (doc_id_a <
    # doc_id_b), so the sum of per-doc appearance counts div 2 IS the
    # pair count — exact integer division on an even bigint — and the
    # distinct-doc count is the group count of the (t10, d)
    # pre-aggregate.  A two-branch shape (pair count and countDistinct,
    # joined) shares the candidate-join exchange via AQE runtime reuse
    # but re-runs the pair groupBy + explode per branch and pays a join
    # of the two 9-row outputs.
    merged = (
        qual.select(
            "t10", F.explode(F.array("doc_id_a", "doc_id_b")).alias("d")
        )
        .groupBy("t10", "d")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("t10")
        .agg(
            F.expr("sum(c) div 2").alias("n_pairs"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return (
        merged
        .select(
            F.col("t10").cast("int").alias("t10"),
            (F.col("t10") / F.lit(10.0)).alias("threshold"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("t10")
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication rates: for each (source, source)
    pair, how many jaccard-0.5 near-dup pairs span it, and what share
    of each source's documents are implicated?  The provenance audit a
    curation team runs before dropping a source — high off-diagonal
    rates mean one source republishes another (drop the copy, keep the
    origin); high diagonal rates mean internal templating.

    Same candidate pipeline (df-capped inverted index) and exact
    integer jaccard cut as q_dedup_ngram_jaccard; pairs then join the
    doc→source map twice (equi-joins on doc_id — the map is
    corpus-sized, so it is NEVER force-broadcast; AQE broadcasts at
    fixture scale, shuffles at corpus scale) and roll up to the
    |sources|² grid with distinct-doc counts per side.

    Scale: adds two doc_id equi-joins against the reduced pair table
    and one cell-bounded aggregate — no new shuffle class."""
    docs = load_table(spark, sf_dir, "documents")
    # persist=False: measured a loss for this key (see helper docstring)
    ex = _rare_shingle_index(docs, persist=False)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
        .filter(
            F.col("common")
            / (F.col("na") + F.col("nb") - F.col("common"))
            >= 0.5
        )
    )
    # the doc→source map is CORPUS-sized — never force-broadcast it
    # (review finding: a forced BroadcastExchange of a per-document
    # table dies at the 100 TB tier).  Plain equi-joins on doc_id let
    # AQE broadcast at fixture scale and shuffle at corpus scale; the
    # pair table is the already-reduced near-dup set, so the join input
    # is |pairs|, not |docs|².
    return cross_source_rate_report(pairs, docs.select("doc_id", "source"))


def cross_source_rate_report(pairs: DataFrame, srcmap: DataFrame) -> DataFrame:
    """The |sources|² rollup shared by the batch key above and the
    streaming maintainer (streaming/dedup_rates.py): tag each near-dup
    pair with its (least, greatest) source pair, count pairs and
    distinct implicated docs per cell.  One definition so the closing
    expressions cannot diverge between the batch key and the served
    streaming state (the functions/text.readability_counts pattern)."""
    sa = srcmap.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa"))
    sb = srcmap.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb"))
    tagged = (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "doc_id_a",
            "doc_id_b",
        )
    )
    # Same one-pass fold as q_dedup_threshold_sweep (guide §2.4): each
    # tagged pair explodes to exactly TWO (cell, doc) rows, so per cell
    # n_pairs = sum(per-doc counts) div 2 (exact — the sum is even by
    # construction) and n_docs_touched = the group count of the (cell,
    # d) pre-aggregate.  One pipeline instead of two aggregate branches
    # over `tagged` plus a cell-grid join.
    merged = (
        tagged.select(
            "source_a",
            "source_b",
            F.explode(F.array("doc_id_a", "doc_id_b")).alias("d"),
        )
        .groupBy("source_a", "source_b", "d")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source_a", "source_b")
        .agg(
            F.expr("sum(c) div 2").alias("n_pairs"),
            F.count(F.lit(1)).alias("n_docs_touched"),
        )
    )
    return (
        merged
        .select(
            "source_a",
            "source_b",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_docs_touched").cast("bigint").alias("n_docs_touched"),
        )
        .orderBy("source_a", "source_b")
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 16
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Permutation i is the affine map ``(a_i * h + b_i) mod (2^31-1)`` over
    ``xxhash64(shingle)``; coefficients are derived deterministically from
    the permutation index so cluster re-runs are reproducible.

    Shape note (measured, sf0.1): the tempting "no-shuffle" form —
    ``array_min`` over a ``transform`` of the hashed shingle array — is
    2-3× SLOWER than this explode + 16-way min-aggregate, because
    higher-order array functions are interpreted per element while the
    explode + min path stays inside whole-stage codegen, and the explode
    shuffle also provides the parallelism a single-split input lacks.
    """
    ex = (
        docs.select(F.col(id_col), tokens(text_col).alias("toks"))
        .select(id_col, F.explode(shingle_set(F.col("toks"))).alias("s"))
        .withColumn("h", F.pmod(F.xxhash64("s"), F.lit(_MERSENNE)))
    )
    aggs = []
    for i in range(k):
        # Deterministic "random" coefficients from the permutation index.
        a = ((2 * i + 1) * 0x9E3779B97F4A7C15) % _MERSENNE or 1
        b = ((i + 1) * 0xC2B2AE3D27D4EB4F) % _MERSENNE
        aggs.append(
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_MERSENNE))).alias(f"mh_{i}")
        )
    return ex.groupBy(id_col).agg(*aggs)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact-signature similarity estimate.

    k=16 permutations in b=4 bands of r=4; a pair collides if any band's
    4-tuple matches.  Estimated Jaccard = fraction of agreeing
    permutations.  Rows-only check (the affine-hash pipeline is not
    reproducible in ANSI SQL).
    """
    docs = load_table(spark, sf_dir, "documents", fan=True)
    return minhash_lsh_candidate_pairs(docs, slot=f"dedup.minhash_sig.{sf_dir}")


def minhash_lsh_candidate_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    r: int = 4,
    slot: str = "dedup.minhash_sig",
) -> DataFrame:
    """(doc_id_a, doc_id_b, est_jaccard) for every banded LSH collision —
    the shared core of :func:`q_minhash_lsh_pairs` and the declarative
    ``dedup_neardup`` stage."""
    # slot-bounded (released when the next call replaces it): sig feeds
    # both the band explode and the two verify-join sides
    sig = persist_slot(minhash_signatures(docs, k=k), slot)
    band_rows = lsh_band_rows(sig, bands=bands, r=r)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )
    return attach_est_jaccard(cand, sig, k=k)


def lsh_band_rows(sig: DataFrame, bands: int = 4, r: int = 4) -> DataFrame:
    """``(doc_id, band, bucket)`` LSH postings of a signature frame —
    shared by the batch candidate join above and the incremental
    maintainer (streaming/minhash.py), so the banding cannot diverge
    between the two doors."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.hash(*[F.col(f"mh_{band * r + j}") for j in range(r)]).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def attach_est_jaccard(cand: DataFrame, sig: DataFrame, k: int = 16) -> DataFrame:
    """Attach the exact-signature similarity estimate to candidate pairs
    — the agreeing-permutation fraction, shared between both doors."""
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.mh_{i}") == F.col(f"sb.mh_{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        cand.join(sa, cand.doc_id_a == F.col("sa.doc_id"))
        .join(sb, cand.doc_id_b == F.col("sb.doc_id"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(agree / F.lit(k), 4).alias("est_jaccard"),
        )
    )


def simhash_sketches(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document.

    Bit j of the sketch is set iff the sum over tokens of ±1 (sign of bit
    j of ``xxhash64(token)``) is positive — equivalently, iff
    2·(#tokens with bit j set) > #tokens.

    Output contract: exactly ONE row per input document.  NULL-text
    docs carry ``simhash = 0`` (no tokens → every bit-sum is 0 → no bit
    set) — explode alone would silently DROP them (explode of a null
    array yields no rows), so they re-enter through a cheap filtered
    union; downstream joins may rely on the 1:1 cardinality.

    Shape note (measured, sf0.1, the minhash lesson writ large): the
    "no-shuffle" form — 64 ``aggregate`` HOF folds over the token-hash
    array — runs INTERPRETED per (bit × token) and took 293 s; this
    explode + 64 codegen'd map-side-combined bit-count sums computes the
    IDENTICAL sketch in ~3 s.  The explode shuffle carries only
    (doc_id, 8-byte hash)."""
    base = docs.select(F.col(id_col), F.col(text_col).alias("text"))
    ex = (
        base.filter(F.col("text").isNotNull())
        .select(
            id_col,
            F.explode(F.split(F.trim("text"), r"\s+")).alias("t"),
        )
        .select(id_col, F.xxhash64("t").alias("h"))
    )
    one = F.lit(1).cast("bigint")
    per = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright("h", j).bitwiseAND(one)).alias(f"c{j}")
            for j in range(64)
        ],
    )
    sketch = F.lit(0).cast("bigint")
    for j in range(64):
        sketch = sketch.bitwiseOR(
            F.when(
                2 * F.col(f"c{j}") > F.col("n_tok"),
                F.shiftleft(one, j),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    nulls = base.filter(F.col("text").isNull()).select(
        id_col, F.lit(0).cast("bigint").alias("simhash")
    )
    return per.select(id_col, sketch.alias("simhash")).unionByName(nulls)


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 4×16-bit band buckets, then exact
    Hamming distance ≤ 8 via ``bit_count(xor)``.  Rows-only check."""
    docs = load_table(spark, sf_dir, "documents", fan=True)
    sk = persist_slot(simhash_sketches(docs), f"dedup.simhash.{sf_dir}")
    bands = sk.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 8)
    )


def _balanced_sum(terms: list) -> "F.Column":
    """Sum a term list as a balanced binary tree (depth ⌈log2 n⌉, not n).

    Catalyst analysis/codegen walk expression trees depth-first; the
    64-deep left-assoc chain made q_dedup_embedding's cold plan cost
    ~2-3 s. The tree halves that. FP addition is order-sensitive, so the
    DuckDB oracle (ml/registry._balanced_sum_sql) builds the IDENTICAL
    tree — bit-equal doubles on both engines."""
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _normalized_flat(spark: SparkSession, sf_dir: str, dim: int) -> DataFrame:
    """Unit-normalized embedding components as scalar columns x0..x{dim-1}.

    Shared by both embedding-dedup variants so their cosines are
    bit-identical (and match the one DuckDB oracle, which divides then
    left-folds products in the same order).  Scalar columns, not arrays:
    higher-order array lambdas run interpreted (~15x slower in the O(n²)
    loop); left-assoc scalar chains stay inside whole-stage codegen.

    The persist() is load-bearing, not a cache hint: it cuts lineage so
    the pair-join condition references plain attributes.  Without it,
    filter pushdown substitutes the full cosine chain into the join
    condition and Catalyst's constraint propagation walks the blown-up
    tree until the driver OOMs — even at 500 rows.  (Normalization is the
    natural corpus-side "index build" materialization at any scale.)

    The frame lives in the ``dedup.flat`` slot keyed by ``(sf_dir,
    dim)``: the same corpus returns the same persisted frame, a new
    corpus replaces it, and ``release_all()`` frees it.
    """

    def build() -> tuple[DataFrame]:
        sq = [
            F.col("embedding")[i].cast("double") * F.col("embedding")[i].cast("double")
            for i in range(dim)
        ]
        norm = F.sqrt(_balanced_sum(sq))
        flat = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            *[(F.col("embedding")[i].cast("double") / norm).alias(f"x{i}") for i in range(dim)],
        )
        return (flat,)

    return keyed_slot("dedup.flat", (sf_dir, dim), build)[0]


def _pair_sides(flat: DataFrame, dim: int, shuffle_parts: int | None = None):
    """(a, b, dot): renamed join sides + the codegen'd left-assoc dot.

    The streamed side is repartitioned because the corpus parquet is one
    small file — the whole O(n²) nested loop would otherwise run in ONE
    task."""
    a = flat
    if shuffle_parts:
        a = a.repartition(shuffle_parts)
    a = a.select(
        F.col("vec_id").alias("vec_id_a"), *[F.col(f"x{i}").alias(f"a{i}") for i in range(dim)]
    )
    b = flat.select(
        F.col("vec_id").alias("vec_id_b"), *[F.col(f"x{i}").alias(f"b{i}") for i in range(dim)]
    )
    dot = _balanced_sum([F.col(f"a{i}") * F.col(f"b{i}") for i in range(dim)])
    return a, b, dot


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (north star: semantic dedup).

    Exact all-pairs cosine ≥ 0.45 over the ``embeddings`` fixture.
    Vectors are unit-normalized ONCE on the corpus side, so the per-pair
    work is a bare 64-term product sum — measured 30 s (interpreted
    array lambdas) → 3.5 s (flat scalar chain + norms) → 0.9 s warm
    (pre-normalized, no per-pair division) at sf0.1 / 2 M pairs; the
    balanced-tree sum then cut the cold plan cost ~25% more.  The DuckDB
    oracle performs the identical divide-then-balanced-tree-sum, so
    values hash-match bit-for-bit.

    100 TB path: :func:`q_dedup_embedding_blocked` — the same verify
    expression fed by a distributed blocked-matmul candidate generator
    instead of the all-pairs join.
    """
    dim = 64
    flat = _normalized_flat(spark, sf_dir, dim)
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    a, b, dot = _pair_sides(flat, dim, shuffle_parts)
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", dot.alias("cos_raw"))
        .filter(F.col("cos_raw") >= 0.45)
        .select("vec_id_a", "vec_id_b", F.round("cos_raw", 6).alias("cosine"))
    )


def q_dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: distributed blocked matmul for
    candidates, exact JVM-side verify for the result.

    The 100 TB shape of :func:`q_dedup_embedding`.  The O(n²) pair space
    is tiled into KB·(KB+1)/2 block pairs; each row is replicated to the
    block pairs it participates in (a KB-fold map-side blowup, NOT n²),
    and one ``applyInPandas`` group per block pair runs a vectorized
    numpy (BLAS) matmul to PRUNE to candidates above ``threshold - 1e-6``.
    The margin makes pruning sound: BLAS summation order differs from the
    balanced tree by ≤ d·ε·‖x‖‖y‖ ≈ 1e-14 for d=64 — 8 orders below the
    margin.  Candidates are then re-scored INSIDE the kernel with the
    exact balanced-tree fold (``t[:, 0::2] + t[:, 1::2]`` halving — the
    identical adjacent-pair tree ``_balanced_sum`` builds in Catalyst;
    IEEE mul/div/sqrt are correctly rounded on both runtimes, so the
    doubles are bit-equal) and filtered at the exact threshold.  The SAME
    DuckDB oracle therefore verifies both variants, and no second pass
    over the corpus (the round-1 broadcast re-score join and its ~5 s of
    wide whole-stage codegen) is needed.

    On a cluster, blocks land on different executors — total work is the
    same n²·d multiplies but fully parallel with only a KB-fold data
    replication, no driver collect, no broadcast of the full corpus.
    """
    import pandas as _pd

    n_blocks = 8
    threshold = 0.45
    emb = load_table(spark, sf_dir, "embeddings")

    blk = F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    # every block pair (i, j), i ≤ j, that this row's block belongs to
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda i: F.transform(
                    F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                    lambda j: F.struct(i.alias("pi"), j.alias("pj")),
                ),
            )
        ),
        lambda p: (p["pi"] <= p["pj"]) & ((p["pi"] == blk) | (p["pj"] == blk)),
    )
    tagged = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"), blk.alias("blk"))
        .withColumn("p", F.explode(pairs))
        .select(F.col("p.pi").alias("pi"), F.col("p.pj").alias("pj"), "vec_id", "blk", "e")
    )

    def block_candidates(pdf: _pd.DataFrame) -> _pd.DataFrame:
        # self-contained closure: numpy-only candidate generation + exact
        # balanced-tree re-score (bit-equal to the Catalyst tree)
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"vec_id_a": pd.Series(dtype="int64"), "vec_id_b": pd.Series(dtype="int64"),
             "cos_raw": pd.Series(dtype="float64")}
        )
        pi, pj = int(pdf["pi"].iloc[0]), int(pdf["pj"].iloc[0])
        left = pdf[pdf["blk"] == pi]
        right = pdf[pdf["blk"] == pj]
        if left.empty or right.empty:
            return empty

        def tree_fold(m: np.ndarray) -> np.ndarray:
            # adjacent-pair halving == _balanced_sum's tree for any width
            while m.shape[1] > 1:
                if m.shape[1] % 2:
                    m = np.concatenate(
                        [m[:, 0:-1:2] + m[:, 1::2], m[:, -1:]], axis=1
                    )
                else:
                    m = m[:, 0::2] + m[:, 1::2]
            return m[:, 0]

        def unit(m: np.ndarray) -> np.ndarray:
            return m / np.sqrt(tree_fold(m * m))[:, None]

        la_n = unit(np.stack(left["e"].to_numpy()))
        rb_n = unit(np.stack(right["e"].to_numpy()))
        sims = la_n @ rb_n.T  # BLAS prune with margin
        ai, bj = np.nonzero(sims >= 0.45 - 1e-6)
        if ai.size == 0:
            return empty
        cos = tree_fold(la_n[ai] * rb_n[bj])  # exact tree re-score
        ida = left["vec_id"].to_numpy()[ai]
        idb = right["vec_id"].to_numpy()[bj]
        lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        # lo<hi drops self-pairs; exact threshold on the tree-exact value
        keep = (lo < hi) & (cos >= 0.45)
        return pd.DataFrame({"vec_id_a": lo[keep], "vec_id_b": hi[keep], "cos_raw": cos[keep]})

    candidates = tagged.groupBy("pi", "pj").applyInPandas(
        block_candidates, "vec_id_a long, vec_id_b long, cos_raw double"
    )
    if n_blocks > 1:
        # a same-block pair surfaces as both (a,b) and (b,a) in its
        # diagonal group; values are bit-identical, keep one
        candidates = candidates.dropDuplicates(["vec_id_a", "vec_id_b"])
    assert threshold == 0.45  # kernel closure hardcodes it (self-contained)
    return candidates.select(
        "vec_id_a", "vec_id_b", F.round("cos_raw", 6).alias("cosine")
    )


def _two_phase_cc(
    edges: DataFrame, src: str, dst: str, max_rounds: int = 64
) -> tuple[DataFrame, int]:
    """Large-star/small-star alternation until the edge set reaches a
    fixpoint (a forest of stars rooted at each component's min id).

    Per round: large-star hangs every node's larger neighbors off its
    neighborhood min (``m = min(N(u) ∪ {u})``, emit (v, m) for v > u);
    small-star re-roots each node's smaller-or-equal neighbors at the
    neighborhood min of the min-oriented edges.  Both phases compute the
    min as a WINDOW over the grouping side — one shuffle each, no
    group-then-join-back.  ``localCheckpoint`` truncates lineage so
    Catalyst analysis stays O(1) per round instead of growing with the
    iteration count.

    Returns (labels, rounds); rounds is exposed for the O(log n)
    convergence property test."""
    from pyspark.sql import Window

    e = (
        edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def step(e: DataFrame) -> DataFrame:
        # large-star: symmetric adjacency, window-min per node
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = F.least(F.col("a"), F.min("b").over(Window.partitionBy("a")))
        large = (
            sym.withColumn("m", m)
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # small-star: orient (hi → lo), window-min per hi
        ss = large.select(
            F.greatest("a", "b").alias("h"), F.least("a", "b").alias("l")
        ).distinct()
        mm = F.min("l").over(Window.partitionBy("h"))
        smalled = ss.withColumn("m", mm)
        return (
            smalled.select(F.col("l").alias("a"), F.col("m").alias("b"))
            .unionByName(smalled.select(F.col("h").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    # the edge set's signature: at the fixpoint it stops changing
    signature = [
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent set signature, can't overflow ANSI
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ]
    e, rounds = fixpoint(
        e, step, every=1, bound=max_rounds, probe=lambda e, _: (e, signature)
    )
    # stars: every non-root has an edge to its root; roots label themselves
    labels = (
        e.select(F.col("a").alias("node"), F.col("b").alias("cluster"))
        .unionByName(e.select(F.col("b").alias("node"), F.col("b").alias("cluster")))
        .groupBy("node")
        .agg(F.min("cluster").alias("cluster"))
    )
    return labels, rounds


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    algorithm: str = "label_propagation",
) -> DataFrame:
    """Connected components — the step that turns near-dup PAIRS into
    dedup CLUSTERS.  Returns (node, cluster), cluster = component min.

    ``algorithm="label_propagation"`` (default): each node repeatedly
    takes the min of its own and its neighbors' labels.  O(diameter)
    rounds — near-dup clusters are shallow (stars around a few hubs), so
    3-5 rounds close real corpora; one shuffle-join + one aggregation
    per round.

    ``algorithm="two_phase"``: alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds regardless of diameter, for
    adversarially-deep dup chains.  Each phase is ONE shuffle (window
    min over the grouping key, no join-back).
    """
    if algorithm == "two_phase":
        labels, _rounds = _two_phase_cc(edges, src, dst)
    else:
        assert algorithm == "label_propagation", algorithm
        labels, _rounds = _label_propagation_cc(edges, src, dst)
    return labels


def _label_propagation_cc(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, int]:
    """Min-label propagation to the fixpoint; returns (labels, rounds),
    rounds counting the propagation rounds after the initial labelling
    (see :func:`connected_components`)."""
    # Persist the symmetrized edge list: every round joins against it,
    # and WITHOUT the cut each round would re-execute the full upstream
    # edge pipeline (for dedup clusters: shingling + df-cap windows +
    # the candidate self-join).  The round-8 scale probe measured the
    # unpersisted form at 47.8× under 10× data (more rounds × full
    # pipeline re-runs); with the cut it is ~2× (slot-bounded — the
    # next call releases it, operators/caching.py).
    sym = persist_slot(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "dedup.cc.sym",
    )
    # node set off the PERSISTED sym (symmetric, so the a-side covers
    # every endpoint) — deriving it from `edges` would execute the full
    # upstream pair pipeline a second time (measured ~40% of
    # q_dedup_clusters wall at sf0.1 before round 9)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    # Per-round state is EAGERLY localCheckpoint'ed, and convergence is
    # probed by the label-sum scalar, NOT a changed-rows limit(1) count.
    # The earlier persist + limit(1) probe only materialized the
    # partitions the limit touched — every untouched partition re-derived
    # an ever-deeper lineage next round, doubling round latency
    # (measured: 1.7 → 2 → 4 → 9 → 27 s/round on the 10× probe graph).
    # The checkpoint truncates lineage and materializes ALL partitions;
    # min-labels decrease monotonically, so the exact-decimal label sum
    # is strictly decreasing until the fixpoint — sum equality IS
    # convergence, with no join-back.
    label_sum = F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
    labels, seen = checkpoint_observed(
        nodes.withColumn("cluster", F.col("node")), label_sum
    )

    def step(labels: DataFrame) -> DataFrame:
        # min(own ∪ neighbors' labels) as ONE aggregate: push each label
        # across its edges, union the nodes' own labels, take the group
        # min.  Equivalent to the neighbor-min + left-outer-join-back
        # form but one shuffle cheaper per round (the 2-col label table
        # rides the union into the same groupBy exchange instead of
        # joining back on node).
        prop = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), "cluster"
        )
        return (
            prop.unionByName(labels.select("node", "cluster"))
            .groupBy("node")
            .agg(F.min("cluster").alias("cluster"))
        )

    return fixpoint(
        labels, step, every=1, probe=lambda s, _: (s, [label_sum]), seen=seen
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the Jaccard pair graph: each document that
    appears in any ≥0.5 pair, labeled with its component's min doc_id.
    Oracle = recursive-CTE transitive closure (exact same clustering)."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return connected_components(pairs, "doc_id_a", "doc_id_b").select(
        F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id")
    )


def q_dedup_clusters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as :func:`q_dedup_clusters` via the O(log n)
    large-star/small-star algorithm — labels are the component min on
    both paths, so the SAME recursive-CTE oracle verifies this variant
    (the algorithm choice is a physical detail, not a semantic one)."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return connected_components(
        pairs, "doc_id_a", "doc_id_b", algorithm="two_phase"
    ).select(F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup survivor selection with a QUALITY policy: per content
    hash keep the longest document (n_chars, doc_id tiebreak) — real
    pipelines keep the best copy, not the lowest id."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy(F.md5(F.col("text")))))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("n_copies").cast("bigint").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# segment-level (span) dedup — C4-style cross-document span removal
# --------------------------------------------------------------------------


def segment_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
) -> DataFrame:
    """Cross-document span dedup (C4 removed duplicated three-sentence
    spans; RefinedWeb/Dolma dedupe repeated lines): chop every document
    into non-overlapping ``seg_len``-token segments, keep each distinct
    segment only at its FIRST occurrence corpus-wide (lowest
    ``(doc_id, position)``), and report per-document retention.

    Output: one row per doc — ``n_segments``, ``n_kept``,
    ``tokens_kept`` (token mass surviving span dedup).

    100 TB shape: segmentation is pure codegen (sequence + slice over a
    materialized token array, no Python); the ONE shuffle keys on
    ``md5(segment)`` so it carries a 32-byte hash + two ints per
    segment, never segment text; the winner-per-segment window and the
    per-doc rollup are partial-agg friendly.  Duplicated-span mass is a
    small fraction of a web corpus, so the shuffle is ~corpus tokens /
    seg_len rows of fixed width — linear, skew-free (hash keys).
    """
    segs = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .withColumn("__toks", tokens("__text"))
        .withColumn("__n", F.size("__toks"))
        .withColumn(
            "__s",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.ceil(F.col("__n") / seg_len), F.lit(1)).cast("int")
                    - 1,
                )
            ),
        )
        .select(
            "doc_id",
            "__s",
            F.md5(
                F.concat_ws(" ", F.slice("__toks", F.col("__s") * seg_len + 1, seg_len))
            ).alias("__h"),
            F.least(F.lit(seg_len), F.col("__n") - F.col("__s") * seg_len).alias(
                "__seg_tok"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__h").orderBy("doc_id", "__s")
    ranked = segs.withColumn("__rn", F.row_number().over(w))
    kept = (F.col("__rn") == 1).cast("int")
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(kept * F.col("__seg_tok")).cast("bigint").alias("tokens_kept"),
    )


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup retention sweep at 8-token segments — the fixture's
    planted exact/near duplicates lose their repeated spans to the
    earliest copy."""
    return segment_dedup_stats(load_table(spark, sf_dir, "documents"), seg_len=8)


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-dup pairs by exact 3-gram CONTAINMENT ≥ 0.8:
    ``|A∩B| / |A|`` — the asymmetric complement of Jaccard
    (:func:`q_dedup_ngram_jaccard`), which is what catches a short doc
    embedded inside a longer one (quote farms, boilerplate wrappers)
    that symmetric Jaccard misses because the union is large.

    Same inverted-index shape and ``MAX_DF`` skew cap as the Jaccard
    operator (window counts, 2 shuffles); the threshold compares exact
    integers (``5*common >= 4*|A|``) so the score is engine-portable.
    The oracle applies the identical cap and threshold."""
    docs = load_table(spark, sf_dir, "documents")
    ex = _rare_shingle_index(docs)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.n_sh").alias("na"),
        )
        .agg(F.count("*").alias("common"))
    )
    return pairs.filter(F.col("common") * 5 >= F.col("na") * 4).select(
        "doc_id_a",
        "doc_id_b",
        F.round(F.col("common") / F.col("na"), 4).alias("containment"),
    )
