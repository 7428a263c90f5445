"""Smoke tests of the benchmark at sf0.001.

Run from the repository root (takes a few minutes; each case starts Spark):

    python3 -m pytest lexbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, trace: int, seed: int = 3) -> dict:
    cmd = [
        *SPEC["command"],
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", "2",
        "--trace", str(trace),
        "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    out = run_bench(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_wrong_result_is_a_failed_op(monkeypatch):
    """A serving function that returns the wrong question is caught by the
    output check and counted as a failed op."""
    import run
    from lexam_data_pipeline_spark import serving

    real = serving.get_question
    monkeypatch.setattr(serving, "get_question", lambda q, v, qid: real(q, v, "no-such-id"))
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.chdir(ROOT)
    buf = io.StringIO()
    with redirect_stdout(buf):
        code = run.main(["--workload", "serve", "--seed", "3", "--seconds", "1", "--sf", "0.001"])
    assert code == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["failed"] >= 1 and out["correct"] is False


def test_exact_counters_repeat():
    """Two traced runs of one seed give the same per-op jobs, stages and
    tasks (the counters the layer diff compares exactly)."""
    import layer_diff

    paths = []
    os.makedirs(os.path.join(ROOT, ".lexbench", "traces"), exist_ok=True)
    for _ in range(2):
        before = set(os.listdir(os.path.join(ROOT, ".lexbench", "traces")))
        run_bench("serve", 1, seed=5)
        after = set(os.listdir(os.path.join(ROOT, ".lexbench", "traces")))
        (new,) = after - before
        paths.append(os.path.join(ROOT, ".lexbench", "traces", new))
    diffs = layer_diff.counter_check(*(layer_diff.load(p) for p in paths))
    assert not diffs["jobs"] and not diffs["stages"] and not diffs["tasks"], diffs
