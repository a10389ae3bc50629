"""The benchmark's own tests: seeded inputs, the declared metric set, a
tiny-input smoke run of both workloads in both modes (a few minutes), and
the no-engine failure. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402
from tracing import _union  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_inputs_other_seed_other_inputs(workload, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    names = _files(a)
    assert names and names == _files(b) == _files(c)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch == names


def test_block_vocabulary_keeps_sf01_3gram_density(tmp_path):
    """A smaller block gets a smaller vocabulary, so a 3-gram still
    occurs in about as many documents as in sf0.1 (about ten)."""
    import shape

    assert gen.vocab_size(gen.SF01_DOCS) == len(gen.VOCAB)
    gen.generate("corpus_dedup", 3, str(tmp_path))
    docs = shape.documents(str(tmp_path / "documents.parquet"))
    assert docs["documents"] == gen.SIZES["default"]["docs_per_block"]
    assert 8.0 < docs["docs_per_3gram"] < 11.5


class _FakeRunner:
    exhausted = False
    nominal_pass_s = 5.0

    def __init__(self):
        self.kinds = []

    def run_pass(self, no, kind, traced):
        self.kinds.append((kind, traced))
        return type("P", (), {"wall_s": 1.0})()


@pytest.mark.parametrize("trace", [False, True])
def test_pass_plan(trace):
    import run

    runner = _FakeRunner()
    run._plan_passes(runner, trace, seconds=0.0)
    warm = [t for k, t in runner.kinds if k == "warm"]
    assert runner.kinds[0][0] == "cold"
    # Plain runs: at least two warm passes. Traced runs: one block
    # plain-traced-traced-plain, whatever --seconds says.
    assert warm == ([False, True, True, False] if trace else [False, False])
    # The count follows --seconds, not the clock.
    runner = _FakeRunner()
    run._plan_passes(runner, trace, seconds=16.0)
    assert len(runner.kinds) == 1 + (4 if trace else 3)
    runner = _FakeRunner()
    run._plan_passes(runner, trace, seconds=30.0)
    assert len(runner.kinds) == 1 + (8 if trace else 6)


def test_union_and_latency_summary():
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union([(0, 10)], 2, 4) == 2
    few = workloads.latency_summary([3.0, 1.0, 2.0])
    assert few["p50_s"] == 2.0 and few["tail_s"] is None
    many = workloads.latency_summary([float(i) for i in range(1, 41)])
    assert many["tail_percentile"] == 75.0 and many["tail_s"] == 30.0


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_smoke_prints_declared_metrics(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
