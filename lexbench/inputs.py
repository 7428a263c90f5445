"""Seeded input generator for the benchmark.

Two input sets, both written as single-row-group parquet (the layout of
the engine's fixture tables, so scans stay one task and the engine's own
``fan=True`` call sites decide fan-out):

* the ten fixture tables the registry keys read (``region`` ... ``embeddings``),
  with the schemas, value domains and row counts of the engine's
  ``sf<scale>`` fixture: uniform star-schema facts, a Poisson event stream,
  a 31-word document corpus with 5% near-duplicates and a few exact
  duplicates, and unit-norm 64-d embeddings with 10 labels;
* a LEXam-shaped ``questions / variants / answers / judgments`` set derived
  from ``documents``: one question per document, one variant per question
  plus an open-question variant for every third, two answers per variant,
  two judges per successful open answer.  All three 3-valued boolean flags
  are present (the registry's own projection carries only
  ``international``, which the facet endpoint cannot run on).

Everything is drawn from one ``numpy`` generator seeded by the caller, so
the same seed gives byte-identical tables.  The ``lexam`` pandas frames are
also returned, so correctness checks can compute reference answers without
touching Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# LEXam domains (serving.dashboard / model.CONFIGS)
AREAS = ("Private", "Public", "Criminal", "Interdisciplinary")
JURISDICTIONS = ("Swiss", "International", "Generic")
MCQ_SIZES = {"mcq_4_choices": 4, "mcq_8_choices": 8, "mcq_16_choices": 16, "mcq_32_choices": 32}
CONFIGS = (*MCQ_SIZES, "open_question")
MODELS = ("model-a", "model-b")
JUDGES = ("judge-x", "judge-y")

_US = "timestamp[us]"


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _bool3(rng: np.random.Generator, n: int, p_true: float, p_null: float) -> pa.Array:
    u = rng.random(n)
    vals = u < p_true
    mask = u >= 1.0 - p_null
    return pa.array(vals, type=pa.bool_(), mask=mask)


def fixture_counts(sf: float) -> dict[str, int]:
    """Row counts of the engine's ``sf`` fixture (documents/embeddings have
    a floor of 500, as the committed small fixtures do)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "lineitem": max(int(6_000_000 * sf), 400),
        "events": max(int(1_000_000 * sf), 100),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
        "users": max(int(15_000 * sf), 10),
    }


def documents_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    n_words = rng.integers(10, 101, n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    # 5% near-duplicates (another document + " dup") and ~0.2% exact copies
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_fixture(root: str, rng: np.random.Generator, sf: float) -> None:
    """Write the ten fixture tables under ``root``."""
    c = fixture_counts(sf)

    def put(name: str, cols: dict) -> None:
        _write(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        },
    )
    nc = c["customer"]
    put(
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        },
    )
    ns = c["supplier"]
    put(
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        },
    )
    npart = c["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    put(
        "part",
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        },
    )
    no = c["orders"]
    day0 = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(1, "D")
    put(
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": pa.array(day0 + rng.integers(0, 2405, no) * day, _US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        },
    )
    nl = c["lineitem"]
    orderkey = rng.integers(0, no, nl).astype(np.int64)
    put(
        "lineitem",
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(day0 + rng.integers(1, 2500, nl) * day, _US),
        },
    )
    ne = c["events"]
    t0 = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86_400 * 1_000_000
    put(
        "events",
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]"), _US),
            "user_id": rng.integers(0, c["users"], ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
    )
    docs = documents_frame(rng, c["documents"])
    _write(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(root, "documents.parquet"))
    nv = c["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.07, (10, 64))
    x = rng.normal(0.0, 1.0, (nv, 64)) + centers[labels] * 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    )


@dataclass
class Lexam:
    questions: pd.DataFrame
    variants: pd.DataFrame
    answers: pd.DataFrame
    judgments: pd.DataFrame


def lexam_frames(rng: np.random.Generator, docs: pd.DataFrame) -> Lexam:
    """Derive the LEXam tables from a ``documents`` frame."""
    n = len(docs)
    doc_id = docs["doc_id"].to_numpy()
    is_mcq_q = rng.random(n) < 0.8
    questions = pd.DataFrame(
        {
            "id": [f"{d:08d}" for d in doc_id],
            "question": docs["text"].to_numpy(),
            "course": [f"Course {s}" for s in docs["source"]],
            "language": np.where(docs["lang"].to_numpy() == "de", "de", "en"),
            "area": np.array(AREAS)[rng.integers(0, len(AREAS), n)],
            "jurisdiction": np.array(JURISDICTIONS)[rng.integers(0, len(JURISDICTIONS), n)],
            "year": (2000 + rng.integers(0, 24, n)).astype(np.int32),
            "n_statements": pd.Series(rng.choice([4, 5, 8], n), dtype="Int32").where(is_mcq_q),
        }
    )
    qb = {
        "none_as_an_option": _bool3(rng, n, 0.25, 0.1),
        "negative_question": _bool3(rng, n, 0.2, 0.1),
        "international": _bool3(rng, n, 0.15, 0.1),
    }
    for name, arr in qb.items():
        questions[name] = arr.to_pandas(types_mapper=pd.ArrowDtype)

    # variants: one per question (MCQ size or open), plus an open/test
    # variant for every third question -> ~1.33 variants per question
    rows = []
    split = np.where(rng.random(n) < 0.5, "dev", "test")
    first_cfg = np.where(
        is_mcq_q, np.array(list(MCQ_SIZES))[rng.integers(0, 4, n)], "open_question"
    )
    golds = rng.integers(0, 32, n)
    for i, d in enumerate(doc_id):
        qid = questions["id"].iat[i]
        cfg = first_cfg[i]
        if cfg == "open_question":
            rows.append((int(d) * 10, qid, cfg, split[i], None, None, docs["text"].iat[i][:80]))
        else:
            k = MCQ_SIZES[cfg]
            choices = [f"{chr(65 + j)} {WORDS[(i + j) % len(WORDS)]}" for j in range(k)]
            rows.append((int(d) * 10, qid, cfg, split[i], choices, int(golds[i] % k), None))
        if i % 3 == 0:
            text = docs["text"].iat[i]
            rows.append((int(d) * 10 + 1, qid, "open_question", "test", None, None, "merge-audit " + text[10:70]))
    variants = pd.DataFrame(
        rows, columns=["id", "question_id", "config", "split", "choices", "gold", "answer"]
    )
    variants["gold"] = variants["gold"].astype("Int32")

    # answers: two runs per variant; experiment 2 for ~1/7 of variants
    nv = len(variants)
    vid = np.repeat(variants["id"].to_numpy(), 2)
    run = np.tile([0, 1], nv)
    gold = np.repeat(variants["gold"].to_numpy(dtype="float64", na_value=np.nan), 2)
    is_mcq = ~np.isnan(gold)
    err = (run == 1) & (rng.random(2 * nv) < 0.04)
    li = rng.integers(0, 5, 2 * nv)
    has_letter = is_mcq & (li < 4) & ~err
    letter_str = np.array(list("ABCDE"))[li]
    letters = np.where(has_letter, letter_str, None)
    correct = pd.array(np.where(has_letter, li == np.nan_to_num(gold, nan=-1), False), dtype="boolean")
    correct[~has_letter] = pd.NA
    in_tok = pd.array(100 + rng.integers(0, 60, 2 * nv), dtype="Int64")
    in_tok[rng.random(2 * nv) < 0.05] = pd.NA
    answers = pd.DataFrame(
        {
            "id": vid * 10 + run,
            "experiment_id": np.where(rng.random(nv).repeat(2) < 1 / 7, 2, 1).astype(np.int64),
            "variant_id": vid,
            "run_index": run.astype(np.int32),
            "model_name": np.array(MODELS)[run],
            "answer_text": np.where(
                has_letter, np.char.add(np.char.add("###", letter_str), "###"), "open answer"
            ),
            "extracted_letter": letters,
            "mcq_correct": correct,
            "input_tokens": in_tok,
            "output_tokens": pd.array(20 + rng.integers(0, 30, 2 * nv), dtype="Int64"),
            "error": np.where(err, "timeout", None),
        }
    )
    judged = answers[answers["extracted_letter"].isna() & answers["error"].isna()]
    aid = np.repeat(judged["id"].to_numpy(), 2)
    g = np.tile([0, 1], len(judged))
    scores = rng.integers(0, 33, len(aid)) / 32.0  # binary-exact doubles
    score = pd.array(scores, dtype="Float64")
    score[rng.random(len(aid)) < 0.04] = pd.NA
    judgments = pd.DataFrame(
        {
            "answer_id": aid,
            "judge_model": np.array(JUDGES)[g],
            "score": score,
            "input_tokens": pd.array(50 + rng.integers(0, 30, len(aid)), dtype="Int64"),
            "output_tokens": pd.array(10 + rng.integers(0, 20, len(aid)), dtype="Int64"),
        }
    )
    return Lexam(questions, variants, answers, judgments)


def write_lexam(root: str, lx: Lexam) -> None:
    for name in ("questions", "variants", "answers", "judgments"):
        frame = getattr(lx, name)
        _write(pa.Table.from_pandas(frame, preserve_index=False), os.path.join(root, f"{name}.parquet"))


def make_inputs(root: str, seed: int, sf: float, *, fixture: bool) -> Lexam:
    """Generate one run's inputs under ``root``.  ``fixture=False`` writes
    only ``documents`` and the LEXam tables (all the serving and pipeline
    workloads read)."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    if fixture:
        write_fixture(root, rng, sf)
        docs = pd.read_parquet(os.path.join(root, "documents.parquet"))
    else:
        docs = documents_frame(rng, fixture_counts(sf)["documents"])
        _write(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(root, "documents.parquet"))
    lx = lexam_frames(np.random.default_rng([seed, 1]), docs)
    write_lexam(root, lx)
    return lx
