"""Smoke test of the benchmark at tiny input sizes (~200 conversations).

    python3 -m pytest perfbench/ -q

Every workload runs once untraced and once traced; each run must pass its
own correctness checks and emit every metric BENCHMARK.json names, with its
unit. Traced runs must also account for their operation: stage (or query)
walls sum to the operation wall within 5%, and no Spark job submitted inside
the operation falls outside every stage span.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.inputs import WideVocabGenerator, check_unambiguous  # noqa: E402
from perfbench.tracing import STAGE_METHODS  # noqa: E402

WORKLOADS = ["append", "headline_queries", "rebuild", "wide_vocab"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    spec = _spec()["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(m[k] > 0 for k in m), m
        return
    if workload == "headline_queries":
        parts = [k for k in m if k.startswith("q.") and k.endswith(".wall_s")]
    else:
        parts = [f"{s}.wall_s" for s in STAGE_METHODS]
        assert all(m[f"{s}.spark_jobs"] > 0 for s in STAGE_METHODS), m
    assert abs(sum(m[k] for k in parts) - m["op.wall_s"]) <= 0.05 * m["op.wall_s"]
    assert m["op.spark_jobs"] > 0
    assert m["op.unattributed_jobs"] == 0


def test_fails_without_the_program(tmp_path):
    """Run from a directory holding only the benchmark: exit non-zero and
    print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "append", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_wide_vocab_pool_is_unambiguous():
    gen = WideVocabGenerator(seed=3, n_entities=5000)
    assert len({forms[0] for forms in gen._aliases}) == 5000
    dup = [gen._aliases[0], list(gen._aliases[0])]
    with pytest.raises(ValueError):
        check_unambiguous(dup)
