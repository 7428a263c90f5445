"""Behavioral tests for the dedup sketch operators on planted duplicates.

The fixture corpus has no duplicates, so these tests plant them: exact
copies, near-copies (one word changed), and unrelated text — and assert
each operator tier finds what it should.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lexam_data_pipeline_spark.ml.dedup import minhash_signatures, simhash_sketches

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")
OTHER = (
    "completely different content about spark partitioning strategies and "
    "shuffle optimization for large scale distributed query processing"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_identical_docs_have_identical_signatures(docs):
    sig = minhash_signatures(docs, k=16).collect()
    by_id = {r.doc_id: [r[f"mh_{i}"] for i in range(16)] for r in sig}
    assert by_id[1] == by_id[2]
    # near-duplicate agrees on most permutations, unrelated on almost none
    agree_near = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    agree_other = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    assert agree_near >= 8
    assert agree_other <= 2


def test_simhash_hamming_orders_by_similarity(spark, docs):
    sk = {r.doc_id: r.simhash for r in simhash_sketches(docs).collect()}
    assert sk[1] == sk[2]
    ham_near = bin(sk[1] ^ sk[3]).count("1")
    ham_other = bin(sk[1] ^ sk[4]).count("1")
    assert ham_near < ham_other
    assert ham_near <= 8


def test_simhash_keeps_null_text_docs(spark):
    """Output contract (round-8 advice): exactly one row per input doc;
    NULL-text docs carry simhash = 0 instead of being dropped by the
    explode (explode of a null split yields no rows)."""
    docs = spark.createDataFrame(
        [(1, "some text here"), (2, None), (3, "other words")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.simhash for r in simhash_sketches(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == 0
    assert rows[1] != 0 and rows[3] != 0


def test_exact_dedup_groups_identical_texts(spark, docs):
    surv = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .collect()
    )
    copies = {r.doc_id: r.n_copies for r in surv}
    assert copies[1] == 2  # doc 2 collapsed into doc 1
    assert copies[3] == 1 and copies[4] == 1


def test_ivf_knn_recall(spark, sf_oracle):
    """IVF probe (4 of 16 clusters) must return well-ordered top-10 with
    substantial recall vs exact brute force (deterministic pipeline →
    stable result)."""
    from lexam_data_pipeline_spark.ml.ivf import q_knn_ivf
    from lexam_data_pipeline_spark.ml.similarity import q_knn_bruteforce

    ivf = q_knn_ivf(spark, sf_oracle).collect()
    assert len(ivf) == 10
    cosines = [r["cosine"] for r in ivf]
    assert cosines == sorted(cosines, reverse=True)
    exact = {r["vec_id"] for r in q_knn_bruteforce(spark, sf_oracle).collect()}
    assert len({r["vec_id"] for r in ivf} & exact) >= 6


def test_lang_id_on_planted_texts(spark, tmp_path):
    """Behavioral lang-ID check on texts with known marker words (the
    fixture corpus is synthetic word soup, so plant real-ish samples)."""
    import os

    from lexam_data_pipeline_spark.ml.textstats import q_lang_id

    rows = [
        (1, "the cat and the dog went to the house of the king", "en", "s", 50),
        (2, "der Hund und die Katze das ist ein Haus und der Garten", "de", "s", 50),
        (3, "le chat et la maison les oiseaux est grand et le jardin", "fr", "s", 50),
        (4, "el perro y la casa los gatos es grande y el sol", "es", "s", 50),
        (5, "zzz qqq xxx vvv www", "zh", "s", 20),  # no markers → unknown
    ]
    d = str(tmp_path / "langid_sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r["predicted_lang"] for r in q_lang_id(spark, d).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}


def test_rolling_hash_properties(spark):
    """Rabin-Karp fingerprint: equal text → equal hash; any word change
    or reorder → different hash (w.h.p., deterministic here)."""
    from lexam_data_pipeline_spark.ml.textstats import rolling_hash
    from lexam_data_pipeline_spark.functions.text import tokens

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),   # identical
        (3, "alpha beta gamma DELTA"),   # one word changed
        (4, "delta gamma beta alpha"),   # reordered
        (5, ""),                          # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", rolling_hash(tokens("text")).alias("h")
        ).collect()
    }
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert got[1] != got[4]  # order-sensitive, unlike min-fingerprint
    assert all(0 <= h < (1 << 31) for h in got.values())


@pytest.fixture(scope="module")
def planted_sf(spark, tmp_path_factory):
    """A documents table with known near-dup families: 8 families of
    (base, one-word-changed, exact copy) plus 8 unrelated docs."""
    import os

    rows = []
    doc_id = 0
    for fam in range(8):
        # per-family word soup: families share NO vocabulary, so
        # cross-family Jaccard is 0 and in-family near-dups are ~0.85
        words = [f"f{fam}w{i}" for i in range(28)]
        base = " ".join(words)
        changed = " ".join(words[:14] + [f"f{fam}CHANGED"] + words[15:])
        for variant in (base, changed, base):
            rows.append((doc_id, variant, "en", "planted", len(variant)))
            doc_id += 1
    for i in range(8):
        rows.append(
            (doc_id, f"unrelated filler text number {i} with unique words "
                     f"{i}cat {i}dog {i}bird {i}fish nothing shared here",
             "en", "noise", 80)
        )
        doc_id += 1
    d = str(tmp_path_factory.mktemp("planted") / "sf")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    return d


def test_minhash_lsh_recall_vs_exact_jaccard(spark, planted_sf):
    """The sketch is only useful if its candidate set covers the exact
    near-dup pairs: LSH candidates must include >= 90% of the pairs the
    exact n-gram Jaccard (threshold 0.5) finds — a broken permutation or
    banding scheme fails this immediately."""
    from lexam_data_pipeline_spark.ml.dedup import (
        q_dedup_ngram_jaccard,
        q_minhash_lsh_pairs,
    )

    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in q_dedup_ngram_jaccard(spark, planted_sf).collect()
    }
    assert len(exact) >= 8  # every family contributes at least one pair
    cand = {
        (r.doc_id_a, r.doc_id_b)
        for r in q_minhash_lsh_pairs(spark, planted_sf).collect()
    }
    covered = exact & cand
    assert len(covered) >= 0.9 * len(exact), (
        f"LSH recall {len(covered)}/{len(exact)}; missing: {sorted(exact - cand)[:10]}"
    )


def test_simhash_recall_on_planted_families(spark, planted_sf):
    """SimHash band buckets must surface the exact-copy pairs (identical
    sketch -> every band collides) and most one-word-change pairs, while
    staying far below all-pairs (the point of bucketing)."""
    from lexam_data_pipeline_spark.ml.dedup import q_simhash_buckets

    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in q_simhash_buckets(spark, planted_sf).collect()
    }
    # exact copies: doc 3k and 3k+2 in every family
    exact_pairs = {(3 * f, 3 * f + 2) for f in range(8)}
    assert exact_pairs <= got
    # one-word-change pairs: (3k, 3k+1); demand >= 75% coverage
    near_pairs = {(3 * f, 3 * f + 1) for f in range(8)}
    assert len(near_pairs & got) >= 6
    # bucketing must not degenerate to all-pairs (32 docs -> 496 pairs)
    assert len(got) < 100


@pytest.mark.slowsuite
def test_two_phase_cc_logn_rounds_on_path_graph(spark):
    """Adversarial 1k-node path graph: min-label propagation needs
    O(diameter)=999 rounds; large-star/small-star must converge in
    O(log n) and still label every node with the component min (0)."""
    import math

    from lexam_data_pipeline_spark.ml.dedup import _two_phase_cc

    n = 1000
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    labels, rounds = _two_phase_cc(edges, "src", "dst")
    got = labels.collect()
    assert len(got) == n
    assert all(r["cluster"] == 0 for r in got)
    assert rounds <= 2 * math.ceil(math.log2(n)) + 5, rounds


def test_two_phase_cc_matches_label_propagation(spark):
    """Same clustering as the default algorithm on a multi-component
    graph with chains, stars, and a cycle."""
    from lexam_data_pipeline_spark.ml.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(10, 15)]        # chain 10-15
        + [(20, v) for v in (21, 22, 23)]           # star at 20
        + [(30, 31), (31, 32), (32, 30)]            # cycle
        + [(40, 41)]                                # pair
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    lp = {
        (r["node"], r["cluster"])
        for r in connected_components(df, "src", "dst").collect()
    }
    tp = {
        (r["node"], r["cluster"])
        for r in connected_components(df, "src", "dst", algorithm="two_phase").collect()
    }
    assert lp == tp


def _cc_case(spark):
    from lexam_data_pipeline_spark.ml import dedup

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 15)]
        + [(20, v) for v in (21, 22, 23)]
        + [(30, 31), (31, 32), (32, 30)],
        ["src", "dst"],
    )
    out = {}
    for solver in (dedup._label_propagation_cc, dedup._two_phase_cc):
        labels, rounds = solver(edges, "src", "dst")
        out[solver.__name__] = (
            sorted((r["node"], r["cluster"]) for r in labels.collect()),
            rounds,
        )
    return out


def _pagerank_tol_case(spark):
    from lexam_data_pipeline_spark.ml.graph import pagerank

    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 5) % n) for i in range(0, n, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    return sorted(
        (r["node"], round(r["rank"], 12))
        for r in pagerank(df, n_iter=50, tol=1e-6).collect()
    )


def _bfs_30_hops_case(spark):
    from lexam_data_pipeline_spark.ml.graph import bfs_hops

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)] + [(i + 1, i) for i in range(n)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    return sorted((r["node"], r["hop"]) for r in bfs_hops(edges, seeds, 30).collect())


@pytest.mark.parametrize(
    "solve",
    [
        pytest.param(_cc_case, id="cc"),
        pytest.param(_pagerank_tol_case, id="pagerank_tol"),
        # three boundaries, each solved twice: ~45 s, so with the deep runs
        pytest.param(_bfs_30_hops_case, id="bfs_30_hops", marks=pytest.mark.slowsuite),
    ],
)
def test_solvers_fall_back_when_round_metrics_never_arrive(spark, monkeypatch, solve):
    """Each probed boundary reads its convergence metrics from an
    Observation on the checkpoint job (operators/iterate).  When they
    never arrive, the boundary must not block: the solver recomputes the
    metrics with an explicit aggregate and ends with the same result
    after the same number of boundaries."""
    from lexam_data_pipeline_spark.operators import iterate

    real = iterate.observed_within
    waits = []

    def arrives(obs, deadline):
        waits.append(deadline)
        return real(obs, deadline)

    monkeypatch.setattr(iterate, "observed_within", arrives)
    observed = solve(spark)
    observed_waits = len(waits)
    waits.clear()

    def never_arrives(obs, deadline):
        waits.append(deadline)
        return None

    monkeypatch.setattr(iterate, "observed_within", never_arrives)
    assert solve(spark) == observed
    assert len(waits) == observed_waits > 0
    if solve is _cc_case:
        # every checkpoint took the fallback: LPA's initial labelling
        # plus one per round, and one per two-phase round
        lp_rounds = observed["_label_propagation_cc"][1]
        tp_rounds = observed["_two_phase_cc"][1]
        assert len(waits) == lp_rounds + 1 + tp_rounds
    if solve is _bfs_30_hops_case:
        # hop 13 drains the frontier: boundaries at hops 5, 10 and 15
        assert observed == [(i, i) for i in range(13)] and len(waits) == 3


def test_minhash_estimates_jaccard_within_bound(spark):
    """The estimator property itself: signature-agreement rate must
    approximate the true shingle Jaccard.  k=64 permutations give a
    standard error of ~1/sqrt(64) = 0.125; assert within 3 SE."""
    import math

    from lexam_data_pipeline_spark.functions.text import shingle_set, tokens
    from lexam_data_pipeline_spark.ml.dedup import minhash_signatures
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variants = {
        1: base,
        2: base,                                  # identical → J = 1
        3: base + " extra words appended here",   # high overlap
        4: "totally different content with none shared at all okay",  # ~0
    }
    docs = spark.createDataFrame(
        list(variants.items()), "doc_id long, text string"
    )
    k = 64
    sigs = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(k)]
        for r in minhash_signatures(docs, k=k).collect()
    }
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select(
            "doc_id", shingle_set(tokens("text")).alias("sh")
        ).collect()
    }
    se3 = 3.0 / math.sqrt(k)
    for a, b in [(1, 2), (1, 3), (1, 4)]:
        true_j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / k
        assert abs(est - true_j) <= se3, (a, b, true_j, est)
