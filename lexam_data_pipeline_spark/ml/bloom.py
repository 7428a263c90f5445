"""Expression-level Bloom filter: mergeable membership sketch built and
probed entirely in whole-stage codegen.

The 100 TB decontamination problem: the benchmark n-gram set is small
(millions of grams) but the corpus side is billions of documents — the
exact broadcast join in :mod:`ml.decontam` already avoids shuffling the
corpus, yet every corpus gram still probes a multi-GB broadcast hash
relation.  A Bloom filter compresses that probe to a few hundred KB of
bits, so the overwhelmingly-clean corpus majority is rejected by pure
register arithmetic and only candidate grams (true hits + the ~FP%%)
reach the exact join.  Because the exact join CONFIRMS every candidate,
the composite is *output-identical* to exact decontamination — the
DuckDB oracle for the exact operator verifies the sketch path bit for
bit.  That prefilter→confirm shape is the standard way to keep sketches
honest in a pipeline.

Construction is a pure aggregation (no driver-side hashing):

1. each key row emits its ``k`` bit positions (``pmod(xxhash64(key, i),
   m)``) — codegen expressions;
2. positions group by 64-bit word index with a ``bit_or`` of the set
   bit — a map-side-combinable aggregate, so at cluster scale each
   executor ships at most ``m/64`` partial words;
3. the ≤ ``m/64`` (w, word) rows stay a DataFrame and broadcast straight
   into the probe joins — the filter never visits the driver.

The probe is ``k`` broadcast equi-joins on the word index with the bit
test as a join residual — no UDF, no big array in any row (see
``bloom_filter`` for why an array-literal probe is a trap).

Reference: the reference engine has no sketch surface; this extends
SURVEY.md's north-star curation tier (decontamination:
/root/reference/backend — absent there, standard in pretraining
pipelines per GPT-3 appendix C / Llama 2 §2.2-style eval hygiene).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from lexam_data_pipeline_spark.catalog import load_table, local_rows
from lexam_data_pipeline_spark.functions.text import shingle_set, tokens

#: 2^18 bits = 32 KiB = 4096 longs.  At the fixture's bench-gram counts
#: (~5k grams at sf0.01, ~50k at sf0.1) with k=3 this gives ~0.02% and
#: ~8% false-positive rates — both measured in tests/test_bloom.py.  At
#: production scale m is sized from an upstream count (n items at target
#: fpp p need m ≈ -n·ln(p)/ln(2)²).
DEFAULT_M_BITS = 1 << 18
DEFAULT_K = 3


def _bit_positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The ``k`` Bloom bit positions of ``key`` (codegen, always ≥ 0)."""
    return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)]


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> list[int]:
    """Aggregate a Bloom filter over ``keys[key_col]``; returns the
    ``m_bits/64`` filter words (index 0 = bits 0..63).

    The aggregation is map-side combinable: ``bit_or`` partials merge
    associatively, so the shuffle carries at most ``m/64`` words per
    executor regardless of key count — the same two-level shape as the
    exact-distinct bitmap aggregate (operators/approx.py).
    """
    n_words = m_bits // 64
    rows = bloom_build_df(keys, key_col, m_bits, k).collect()
    arr = [0] * n_words
    for row in rows:
        arr[row["w"]] = row["word"]
    return arr


def bloom_build_df(
    keys: DataFrame, key_col: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> DataFrame:
    """The filter as a (w, word) DataFrame — at most ``m_bits/64`` rows,
    absent rows meaning all-zero words.  Staying distributed end to end
    (build aggregate → broadcast probe join) avoids any driver
    round-trip; at cluster scale the filter never leaves the executors
    except as one broadcast.
    """
    pos = F.explode(F.array(*_bit_positions(F.col(key_col), m_bits, k))).alias("pos")
    return (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(pmod(pos, 64) as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("word"))
    )


def bloom_filter(
    df: DataFrame,
    key: Column,
    bloom: DataFrame | list[int],
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Keep only rows whose ``key`` is possibly in the filter — as ``k``
    chained BROADCAST equi-joins against the (w, word) filter relation.

    Why joins and not an array lookup: shipping the whole filter as an
    array literal re-converts m/64 elements per evaluation, and a one-row
    cross join materializes the 32 KB array into EVERY probe row whenever
    any interpreted expression upstream (e.g. a higher-order shingle
    transform) breaks whole-stage codegen — measured 4-10x degradation
    mid-session.  A broadcast hash join keyed on the 4-byte word index
    touches one 16-byte build row per probe, never copies the filter, and
    keeps the bit test (``word & mask != 0``) as a join residual.  An
    absent word index means an all-zero word — the inner join drops those
    probes, which is exactly the Bloom "bit not set" verdict.  No
    shuffle; the build side is at most m/64 rows regardless of key count.
    """
    if isinstance(bloom, list):
        words = local_rows(
            df.sparkSession,
            [(i, w) for i, w in enumerate(bloom) if w != 0], "w: int, word: bigint"
        )
    else:
        words = bloom
    out = df.withColumn("__bkey", key)
    for i in range(k):
        w_i = words.select(
            F.col("w").alias(f"__wi{i}"), F.col("word").alias(f"__wv{i}")
        )
        pos = F.pmod(F.xxhash64(F.col("__bkey"), F.lit(i)), F.lit(m_bits))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), F.pmod(pos, F.lit(64)).cast("int")
        )
        out = out.join(
            F.broadcast(w_i),
            ((pos / 64).cast("int") == F.col(f"__wi{i}"))
            & (F.col(f"__wv{i}").bitwiseAND(mask) != 0),
            "inner",
        ).drop(f"__wi{i}", f"__wv{i}")
    return out.drop("__bkey")


def bloom_prefilter_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Exact decontamination through a Bloom prefilter.

    corpus grams --bloom reject (codegen)--> candidates --exact join
    (confirm)--> per-doc contamination rollup.  Output is identical to
    the exact operator: the bloom can only ADD candidates (false
    positives), and the join removes exactly those.
    """

    def grams(df: DataFrame, idc: Column) -> DataFrame:
        return (
            df.select(idc, F.col(text_col))
            .withColumn("__toks", tokens(text_col))
            .withColumn("gram", F.explode(shingle_set(F.col("__toks"), n)))
            .drop("__toks", text_col)
        )

    from lexam_data_pipeline_spark.operators.caching import persist_slot

    # The bench gram set feeds TWO consumers — the bloom build aggregate
    # and the exact confirm join — so persist it once (it is the small
    # side by design; re-shingling the benchmark per consumer doubles
    # the only non-corpus work in the operator).
    bench_grams = persist_slot(
        grams(benchmark, F.col(id_col).alias("bench_id")).distinct(),
        "bloom.bench_grams",
    )
    bloom = persist_slot(
        bloom_build_df(bench_grams.select("gram").distinct(), "gram", m_bits, k),
        "bloom.words",
    )
    candidates = bloom_filter(grams(corpus, F.col(id_col)), F.col("gram"), bloom, m_bits, k)
    return (
        candidates.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination sweep: every 7th doc is the
    held-out set, 5-gram overlap.  Oracle = plain exact decontamination
    SQL — a hash-match PROVES the sketch path changes nothing."""
    docs = load_table(spark, sf_dir, "documents", fan=True)
    bench = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    return bloom_prefilter_decontaminate(corpus, bench, n=5)
