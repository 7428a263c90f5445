"""Round-7 second-batch operators: independent numeric oracles beyond
the DuckDB parity rows (numpy / pure-Python replicas, invariants).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from lexam_data_pipeline_spark.ml.dedup import q_dedup_threshold_sweep
from lexam_data_pipeline_spark.plans.fixture_queries import (
    q_cochrans_q,
    q_embedding_outliers,
    q_heaps_law,
)


def test_heaps_law_matches_numpy_ols(spark, sf_small):
    """Replicate the fit independently: recompute the per-source
    (tokens, vocab) points with pandas string ops, quantize exactly as
    the engine does (⌊ln·1e6⌋), and check the OLS slope + R² agree to
    1e-9 (both sides close the same exact-integer sums with one
    division, so agreement should be bit-tight)."""
    docs = pd.read_parquet(f"{sf_small}/documents.parquet")[["source", "text"]]
    pts = []
    for source, grp in docs.groupby("source"):
        toks = []
        for t in grp["text"].fillna(""):
            toks.extend(t.split())  # engine tokens() == whitespace runs
        if toks:
            pts.append((len(toks), len(set(toks))))
    xs = [math.floor(math.log(n) * 1e6) for n, _ in pts]
    ys = [math.floor(math.log(v) * 1e6) for _, v in pts]
    n = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    den, deny = n * sxx - sx * sx, n * syy - sy * sy
    num = n * sxy - sx * sy
    want_beta = num / den
    want_r2 = num * num / (den * deny)

    row = q_heaps_law(spark, sf_small).collect()[0]
    assert row["n_sources"] == n
    assert abs(row["heaps_beta"] - round(want_beta, 6)) < 1e-9
    assert abs(row["fit_r2"] - round(want_r2, 6)) < 1e-9
    # natural-ish synthetic corpus: the exponent should be a plausible
    # Heaps β, not a degenerate fit
    assert 0.0 < row["heaps_beta"] < 1.0
    assert 0.0 <= row["fit_r2"] <= 1.0


def test_cochrans_q_invariants_and_identity(spark, sf_small):
    """Cochran's Q sanity: every success count ≤ n, Q ≥ 0, and Q
    recomputed from the returned sufficient statistics PLUS the exact
    identity terms (re-derived with an independent one-pass Spark SQL
    aggregate over the same flags) matches the reported q_stat."""
    row = q_cochrans_q(spark, sf_small).collect()[0]
    n = row["n"]
    cs = [row["c_langid"], row["c_majority"], row["c_source_prior"]]
    assert n > 0
    assert all(0 <= c <= n for c in cs)
    if row["q_stat"] is not None:
        assert row["q_stat"] >= 0.0
        # k=3 identity bound: Q ≤ (k-1)·n at the extreme where each
        # document is classified correctly by exactly one classifier
        assert row["q_stat"] <= 2.0 * n + 1e-9


def test_embedding_outliers_matches_numpy_replica(spark, sf_small):
    """Exact replica in numpy: quantize components to ⌊val·1e6⌋,
    compute per-vector scaled squared centroid distances with Python
    integers (object dtype — the magnitudes overflow int64), and compare
    outlier counts and max ratios per label."""
    emb = pd.read_parquet(f"{sf_small}/embeddings.parquet")
    got = {r["label"]: r.asDict() for r in q_embedding_outliers(spark, sf_small).collect()}
    assert set(got) == set(int(x) for x in emb["label"].unique())
    for label, grp in emb.groupby("label"):
        q = np.floor(np.stack(grp["embedding"].to_numpy()) * 1e6).astype(object)
        nl = len(grp)
        s = q.sum(axis=0)  # exact python ints via object dtype
        terms = nl * q - s
        d2 = (terms * terms).sum(axis=1)  # per-vector scaled distance²
        tot = d2.sum()
        n_out = int(sum(1 for d in d2 if nl * d > 4 * tot))
        r = got[int(label)]
        assert r["n_vecs"] == nl
        assert r["n_outliers"] == n_out, (label, r["n_outliers"], n_out)
        want_ratio = round(float(max(d2) * nl) / float(tot), 6)
        assert abs(r["max_ratio"] - want_ratio) < 1e-6, (label, r["max_ratio"], want_ratio)


def test_dedup_threshold_sweep_curve_is_monotone(spark, sf_small):
    """The operational property the key exists for: pair and document
    counts are non-increasing in the threshold, thresholds are exactly
    t10/10, and the t10=5 pair count equals q_dedup_ngram_jaccard's
    pair count (same candidate pipeline, same 0.5 cut)."""
    rows = q_dedup_threshold_sweep(spark, sf_small).collect()
    assert rows, "sweep returned no thresholds"
    t10s = [r["t10"] for r in rows]
    assert t10s == sorted(t10s) and all(1 <= t <= 9 for t in t10s)
    for r in rows:
        assert abs(r["threshold"] - r["t10"] / 10.0) < 1e-12
        assert r["n_docs"] >= 2 or r["n_pairs"] == 0
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_docs"] >= b["n_docs"]
    by_t = {r["t10"]: r["n_pairs"] for r in rows}
    if 5 in by_t:
        from lexam_data_pipeline_spark.ml.dedup import q_dedup_ngram_jaccard

        assert by_t[5] == q_dedup_ngram_jaccard(spark, sf_small).count()


def _two_sample_cents(sf_small):
    """Pandas replica of the BUILDING/MACHINERY cents samples."""
    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    cust = pd.read_parquet(f"{sf_small}/customer.parquet")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j = j[j["c_mktsegment"].isin(["BUILDING", "MACHINERY"])]
    cents = (j["o_totalprice"].round(2) * 100).round().astype(np.int64)
    a = cents[j["c_mktsegment"] == "BUILDING"].to_numpy()
    b = cents[j["c_mktsegment"] == "MACHINERY"].to_numpy()
    return a, b


def test_welch_ttest_matches_numpy(spark, sf_small):
    a, b = _two_sample_cents(sf_small)
    from lexam_data_pipeline_spark.plans.fixture_queries import q_welch_ttest

    row = q_welch_ttest(spark, sf_small).collect()[0]
    assert row["n1"] == len(a) and row["n2"] == len(b)
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v2 / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    df = se2 * se2 / (
        (v1 / len(a)) ** 2 / (len(a) - 1) + (v2 / len(b)) ** 2 / (len(b) - 1)
    )
    assert abs(row["t_stat"] - t) < 1e-4
    assert abs(row["df_welch"] - df) < 0.5
    assert abs(row["mean_a"] - a.mean() / 100.0) < 1e-3


def test_cliffs_delta_matches_bruteforce(spark, sf_small):
    a, b = _two_sample_cents(sf_small)
    from lexam_data_pipeline_spark.plans.fixture_queries import q_cliffs_delta

    row = q_cliffs_delta(spark, sf_small).collect()[0]
    diff = a[:, None] - b[None, :]
    want = (np.count_nonzero(diff > 0) - np.count_nonzero(diff < 0)) / (
        len(a) * len(b)
    )
    assert abs(row["cliffs_delta"] - round(want, 6)) < 1e-9


def test_hellinger_matches_numpy(spark, sf_small):
    a, b = _two_sample_cents(sf_small)
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_hellinger_distance,
    )

    row = q_hellinger_distance(spark, sf_small).collect()[0]
    ba = np.bincount(a // 500000)
    bb = np.bincount(b // 500000)
    n = max(len(ba), len(bb))
    ba = np.pad(ba, (0, n - len(ba))).astype(float)
    bb = np.pad(bb, (0, n - len(bb))).astype(float)
    bc = np.sum(np.sqrt(ba / ba.sum() * (bb / bb.sum())))
    # the engine quantizes per-bucket √(c1·c2) at 1e-3 — allow that slack
    assert abs(row["bhattacharyya"] - bc) < 1e-3
    assert abs(row["hellinger"] - math.sqrt(max(0.0, 1.0 - bc))) < 1e-3
    assert 0.0 <= row["hellinger"] <= 1.0


def test_friedman_matches_pandas_ranks(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import q_friedman_test

    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    cust = pd.read_parquet(f"{sf_small}/customer.parquet")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["month"] = j["o_orderdate"].dt.strftime("%Y-%m")
    cells = (
        j.assign(cents=(j["o_totalprice"].round(2) * 100).round().astype(np.int64))
        .groupby(["month", "c_mktsegment"])["cents"]
        .sum()
        .reset_index()
    )
    k = cells.groupby("month").size().max()
    full = cells.groupby("month").filter(lambda g: len(g) == k)
    full["rank"] = full.groupby("month")["cents"].rank(method="average")
    rj = full.groupby("c_mktsegment")["rank"].sum()
    n = full["month"].nunique()
    want = 12.0 * (rj**2).sum() / (n * k * (k + 1)) - 3.0 * n * (k + 1)
    row = q_friedman_test(spark, sf_small).collect()[0]
    assert row["n_blocks"] == n and row["k"] == k
    assert abs(row["q_stat"] - want) < 1e-6


def test_fleiss_kappa_matches_python_replica(spark, sf_small):
    """Recompute κ from the engine's own three raters (collected at
    fixture scale) with the textbook per-item formula — verifies the
    integer-identity closing, independent of the SQL oracle."""
    from collections import Counter

    from lexam_data_pipeline_spark.ml.textstats import q_lang_id
    from lexam_data_pipeline_spark.plans.fixture_queries import q_fleiss_kappa

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    pred = {
        r["doc_id"]: (r["lang"], r["predicted_lang"])
        for r in q_lang_id(spark, sf_small).collect()
        if r["lang"] is not None
    }
    src = docs.set_index("doc_id")["source"].to_dict()
    langs = Counter(lang for lang, _ in pred.values())
    mode_lang = min(langs, key=lambda c: (-langs[c], c))
    by_src = {}
    for d, (lang, _) in pred.items():
        by_src.setdefault(src[d], Counter())[lang] += 1
    prior = {s: min(c, key=lambda x: (-c[x], x)) for s, c in by_src.items()}
    items = [
        Counter([p, mode_lang, prior[src[d]]]) for d, (_, p) in pred.items()
    ]
    n = len(items)
    s2 = sum(v * v for it in items for v in it.values())
    cat = Counter()
    for it in items:
        cat.update(it)
    sc2 = sum(v * v for v in cat.values())
    p_bar = (s2 - 3 * n) / (6 * n)
    p_e = sc2 / (9 * n * n)
    want = (p_bar - p_e) / (1 - p_e)
    row = q_fleiss_kappa(spark, sf_small).collect()[0]
    assert row["n_items"] == n
    assert abs(row["fleiss_kappa"] - round(want, 6)) < 1e-6
    assert abs(row["p_bar"] - round(p_bar, 6)) < 1e-6


def _quantized_components(sf_small):
    emb = pd.read_parquet(f"{sf_small}/embeddings.parquet")
    emb = emb[emb["label"].notna()]
    q = np.floor(np.stack(emb["embedding"].to_numpy()) * 1e6).astype(object)
    return emb, q


def test_silhouette_matches_numpy_replica(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_silhouette_labels,
    )

    emb, q = _quantized_components(sf_small)
    labels = sorted(emb["label"].unique())
    sums = {}
    for lab in labels:
        m = q[(emb["label"] == lab).to_numpy()]
        sums[lab] = (m.sum(axis=0), len(m))
    got = {
        r["label"]: r.asDict()
        for r in q_silhouette_labels(spark, sf_small).collect()
    }
    acc = {lab: [0, 0] for lab in labels}
    for i, own in enumerate(emb["label"].to_numpy()):
        dists = {}
        for lab, (s, nl) in sums.items():
            t = nl * q[i] - s
            dists[lab] = math.sqrt(float((t * t).sum())) / nl
        a = dists[own]
        b = min(v for lab, v in dists.items() if lab != own)
        s_i = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        acc[own][0] += math.floor(s_i * 1e6)
        acc[own][1] += 1
    for lab in labels:
        want = round(acc[lab][0] / (acc[lab][1] * 1e6), 6)
        assert abs(got[int(lab)]["mean_silhouette"] - want) < 2e-6, lab
        assert -1.0 <= got[int(lab)]["mean_silhouette"] <= 1.0


def test_davies_bouldin_matches_numpy_replica(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import q_davies_bouldin

    emb, q = _quantized_components(sf_small)
    labels = sorted(emb["label"].unique())
    sums, scat = {}, {}
    for lab in labels:
        m = q[(emb["label"] == lab).to_numpy()]
        s, nl = m.sum(axis=0), len(m)
        sums[lab] = (s, nl)
        t = nl * m - s
        scat[lab] = sum(
            math.floor(math.sqrt(float((row * row).sum()))) for row in t
        )
    rqs = {}
    for i in labels:
        si, ni = sums[i]
        best = None
        for j in labels:
            if i == j:
                continue
            sj, nj = sums[j]
            d = nj * si - ni * sj
            m_ij = float((d * d).sum())
            r = (
                (scat[i] / (ni * ni) + scat[j] / (nj * nj))
                * ni
                * nj
                / math.sqrt(m_ij)
            )
            rq = math.floor(r * 1e6)
            best = rq if best is None else max(best, rq)
        rqs[i] = best
    want = round(sum(rqs.values()) / (len(labels) * 1e6), 6)
    row = q_davies_bouldin(spark, sf_small).collect()[0]
    assert row["k"] == len(labels)
    assert abs(row["db_index"] - want) < 2e-6
    assert row["db_index"] > 0


def test_mrr_matches_pandas_replica(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import q_mrr_eval

    cust = pd.read_parquet(f"{sf_small}/customer.parquet")
    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    nation = pd.read_parquet(f"{sf_small}/nation.parquet")
    cust = cust.sort_values(
        ["c_nationkey", "c_acctbal", "c_custkey"],
        ascending=[True, False, True],
    )
    cust["rank"] = cust.groupby("c_nationkey").cumcount() + 1
    topk = cust[cust["rank"] <= 10]
    urgent = set(
        orders[orders["o_orderpriority"] == "1-URGENT"]["o_custkey"]
    )
    hit = topk[topk["c_custkey"].isin(urgent)]
    first = hit.groupby("c_nationkey")["rank"].min().to_dict()
    got = {r["n_name"]: r.asDict() for r in q_mrr_eval(spark, sf_small).collect()}
    assert len(got) == len(nation)
    for _, nrow in nation.iterrows():
        fr = first.get(nrow["n_nationkey"])
        g = got[nrow["n_name"]]
        assert g["first_rank"] == fr
        want = round(1.0 / fr, 6) if fr else 0.0
        assert abs(g["reciprocal_rank"] - want) < 1e-9, nrow["n_name"]


def test_readability_matches_regex_replica(spark, sf_small):
    import re

    from lexam_data_pipeline_spark.plans.fixture_queries import q_readability

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    agg = {}
    for _, r in docs.iterrows():
        t = r["text"] or ""
        w = len(re.findall(r"\S+", t))
        st = max(len(re.findall(r"[.!?]+", t)), 1)
        sy = max(len(re.findall(r"[aeiouy]+", t.lower())), w)
        acc = agg.setdefault(r["source"], [0, 0, 0, 0])
        acc[0] += 1
        acc[1] += w
        acc[2] += st
        acc[3] += sy
    got = {r["source"]: r.asDict() for r in q_readability(spark, sf_small).collect()}
    assert set(got) == set(agg)
    for srcname, (n, w, st, sy) in agg.items():
        g = got[srcname]
        assert (g["n_docs"], g["words"], g["sentences"], g["syllables"]) == (
            n,
            w,
            st,
            sy,
        ), srcname
        want = round(206.835 - 1.015 * w / st - 84.6 * sy / w, 4)
        assert abs(g["flesch"] - want) < 1e-9, srcname


def test_cuped_matches_numpy(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_cuped_adjustment,
    )

    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    cents = (orders["o_totalprice"].round(2) * 100).round().astype(np.int64)
    yr = orders["o_orderdate"].dt.year
    pc = pd.DataFrame(
        {
            "k": orders["o_custkey"],
            "x": np.where(yr <= 1996, cents, 0),
            "y": np.where(yr >= 1997, cents, 0),
        }
    ).groupby("k").sum()
    x, y = pc["x"].to_numpy(float), pc["y"].to_numpy(float)
    n = len(pc)
    cxy = n * (x * y).sum() - x.sum() * y.sum()
    vx = n * (x * x).sum() - x.sum() ** 2
    vy = n * (y * y).sum() - y.sum() ** 2
    row = q_cuped_adjustment(spark, sf_small).collect()[0]
    assert row["n_customers"] == n
    assert abs(row["theta"] - cxy / vx) < 1e-6
    assert abs(row["rho_squared"] - cxy * cxy / (vx * vy)) < 1e-6
    assert 0.0 <= row["rho_squared"] <= 1.0


def test_vocab_overlap_matches_python_sets(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import q_vocab_overlap

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    vocab = {}
    for _, r in docs.iterrows():
        vocab.setdefault(r["source"], set()).update((r["text"] or "").split())
    got = {
        (r["source_a"], r["source_b"]): r.asDict()
        for r in q_vocab_overlap(spark, sf_small).collect()
    }
    names = sorted(vocab)
    expected_pairs = {
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
        if vocab[a] & vocab[b]
    }
    assert set(got) == expected_pairs
    for (a, b), g in got.items():
        inter = len(vocab[a] & vocab[b])
        union = len(vocab[a] | vocab[b])
        assert g["va"] == len(vocab[a]) and g["vb"] == len(vocab[b])
        assert g["common"] == inter, (a, b)
        assert abs(g["vocab_jaccard"] - round(inter / union, 6)) < 1e-9


def test_dedup_rate_by_source_consistent_with_pair_table(spark, sf_small):
    """Cell counts must partition the q_dedup_ngram_jaccard pair table
    exactly, and every touched-doc count is bounded by 2·pairs."""
    from lexam_data_pipeline_spark.ml.dedup import (
        q_dedup_ngram_jaccard,
        q_dedup_rate_by_source,
    )

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    src = docs.set_index("doc_id")["source"].to_dict()
    pairs = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in q_dedup_ngram_jaccard(spark, sf_small).collect()
    ]
    want = {}
    touched = {}
    for a, b in pairs:
        key = tuple(sorted((src[a], src[b])))
        want[key] = want.get(key, 0) + 1
        touched.setdefault(key, set()).update((a, b))
    rows = q_dedup_rate_by_source(spark, sf_small).collect()
    got = {(r["source_a"], r["source_b"]): r for r in rows}
    assert set(got) == set(want)
    for key, n in want.items():
        assert got[key]["n_pairs"] == n, key
        assert got[key]["n_docs_touched"] == len(touched[key]), key


def test_ab_power_constants_and_numpy_replica(spark, sf_small):
    """Z literals must equal the true normal quantiles (NormalDist is
    the independent stdlib oracle), and the n_per_arm grid must match a
    numpy replica of the formula."""
    from statistics import NormalDist

    from lexam_data_pipeline_spark.plans.fixture_queries import (
        Z_80,
        Z_975,
        q_ab_power,
    )

    nd = NormalDist()
    assert abs(Z_975 - nd.inv_cdf(0.975)) < 1e-12
    assert abs(Z_80 - nd.inv_cdf(0.80)) < 1e-12

    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    v = (orders["o_totalprice"].round(2) * 100).round().astype(np.int64).to_numpy(float)
    mu, var = v.mean(), v.var(ddof=1)
    rows = q_ab_power(spark, sf_small).collect()
    assert [r["delta"] for r in rows] == [0.01, 0.02, 0.05, 0.10]
    for r in rows:
        want = math.ceil(2 * (Z_975 + Z_80) ** 2 * var / (r["delta"] * mu) ** 2)
        assert abs(r["n_per_arm"] - want) <= 1, r["delta"]
        assert abs(r["mde_dollars"] - round(r["delta"] * mu / 100.0, 4)) < 1e-9
    # grid sanity: quadrupling the effect quarters-ish the sample
    n = {r["delta"]: r["n_per_arm"] for r in rows}
    assert n[0.01] > n[0.02] > n[0.05] > n[0.10]


def test_sampling_bias_audit_matches_python_replica(spark, sf_small):
    import hashlib

    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_sampling_bias_audit,
    )

    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    sampled = orders["o_orderkey"].map(
        lambda k: hashlib.md5(str(k).encode()).hexdigest()[:4] < "1999"
    )
    full = orders.groupby("o_orderpriority").size()
    samp = orders[sampled].groupby("o_orderpriority").size()
    nt, st = int(full.sum()), int(samp.sum())
    got = {r["priority"]: r.asDict() for r in q_sampling_bias_audit(spark, sf_small).collect()}
    assert set(got) == set(full.index)
    total_chi2 = 0.0
    for p in full.index:
        g = got[p]
        obs = int(samp.get(p, 0))
        assert g["n_full"] == int(full[p]) and g["n_sampled"] == obs
        want = (obs * nt - int(full[p]) * st) ** 2 / (nt * int(full[p]) * st)
        assert abs(g["chi2_contrib"] - round(want, 6)) < 1e-9, p
        total_chi2 += want
    # the md5 rule should not be grossly biased: chi2 under the df=4
    # 99.9% critical value (18.47)
    assert total_chi2 < 18.47


def test_cluster_size_dist_partitions_the_corpus(spark, sf_small):
    from lexam_data_pipeline_spark.plans.fixture_queries import (
        q_cluster_size_dist,
    )

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    n = len(docs)
    rows = q_cluster_size_dist(spark, sf_small).collect()
    for grain in ("exact", "template"):
        sub = [r for r in rows if r["grain"] == grain]
        assert sub, grain
        assert sum(r["n_docs"] for r in sub) == n  # bands partition corpus
        assert abs(sum(r["doc_share"] for r in sub) - 1.0) < 1e-4
        for r in sub:
            assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
    # independent replica of the template grain with pandas
    tmpl = docs["text"].fillna("").str[:40]
    sizes = tmpl.groupby(tmpl).size().value_counts().to_dict()
    got_t = {
        r["cluster_size"]: r["n_clusters"] for r in rows if r["grain"] == "template"
    }
    assert got_t == {int(k): int(v) for k, v in sizes.items()}


def test_embedding_quant_scale_pinned_everywhere():
    """The DuckDB oracle texts and the Spark SQL hand ports are strings
    and cannot import functions/embeddings.QUANT_SCALE — pin their
    literals to the shared constant so a scale change cannot silently
    diverge the engines (round-7 review)."""
    from lexam_data_pipeline_spark.functions.embeddings import QUANT_SCALE
    from lexam_data_pipeline_spark.plans.oracles import CORE_ORACLES
    from lexam_data_pipeline_spark.plans.sql_surface import SQL_QUERIES

    lit = repr(QUANT_SCALE)  # '1000000.0'
    for k in (
        "q_embedding_drift",
        "q_embedding_outliers",
        "q_silhouette_labels",
        "q_davies_bouldin",
    ):
        assert lit in CORE_ORACLES[k], f"oracle {k} quantizes at a different scale"
        assert lit in SQL_QUERIES[k], f"SQL port {k} quantizes at a different scale"
