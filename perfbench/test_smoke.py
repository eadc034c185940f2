"""The benchmark's own tests: helpers, plus a tiny-size run of every
workload, untraced and traced, through the real command line.

Run from the checkout root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.corpus import Corpus, CorpusSpec
from perfbench.oracle import fingerprint
from perfbench.procs import descendants
from perfbench.trace import _union_length
from perfbench.workloads import per_layer_names, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, "a"), (2, "b")])
    b = fingerprint(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a != fingerprint(["x", "y"], [(1, "a"), (2, "c")])
    assert fingerprint(["x"], [(1,), (1,)])[0] == 2
    assert fingerprint(["x"], [(-1,)]) != fingerprint(["x"], [(-2,)])


def test_union_length_merges_overlaps_and_clips():
    assert _union_length([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert _union_length([(0, 5)], 1, 2) == 1
    assert _union_length([], 0, 1) == 0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    pct, value, beyond = tail_percentile([float(i) for i in range(100)])
    assert (pct, value, beyond) == (89, 89.0, 10)


def test_a_delta_replaces_the_previous_one():
    root = os.path.join(ROOT, ".perfbench", "corpus-test")
    shutil.rmtree(root, ignore_errors=True)
    c = Corpus(root, CorpusSpec(40), seed=1)

    def visible() -> list[str]:
        return sorted(f for f in os.listdir(c.dir) if not f.startswith("."))

    try:
        assert len(visible()) == 4 and c.snapshot() == c.base
        for _ in range(3):
            c.replace_delta(c.make_docs(5))
            assert len(visible()) == 5 and c.n_docs == 45
            assert c.snapshot()[-1].startswith(c.kept)
            assert os.path.basename(c.snapshot()[-1]) == visible()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_descendants_lists_child_processes():
    child = subprocess.Popen(["sleep", "30"])
    try:
        assert child.pid in descendants()
    finally:
        child.kill()
        child.wait()
    assert child.pid not in descendants()


def test_benchmark_json_names_match_the_code():
    assert [m["name"] for m in SPEC["per_layer"]] == per_layer_names()
    assert [w["name"] for w in SPEC["workloads"]] == ["build", "serve"]


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build", "serve"])
def test_tiny_run(workload: str, trace: int):
    proc = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny"], ROOT)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert list(result["metrics"]) == [m["name"] for m in SPEC[kind]]
    for m in SPEC[kind]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package():
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = _run(["--workload", "build", "--seed", "1", "--seconds", "1"],
                    bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
