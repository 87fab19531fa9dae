"""Self-check of the benchmark: a tiny pass of every workload completes, its
output checks pass, and the metric names it prints match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

Each case starts its own JVM (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

#: layers each workload calls; their wall time must be non-zero when traced
CALLED_LAYERS = {
    "neardup": ("assemble", "minhash", "lsh", "verify", "cluster"),
    "exact": ("assemble", "chunk", "dedup", "reconstruct"),
}


def _bench(tmp_path, workload: str, trace: int, root: str = ROOT) -> subprocess.CompletedProcess:
    # run from an unrelated working directory: the harness must not depend on it
    return subprocess.run(
        [sys.executable, os.path.join(root, *SPEC["command"][1:]),
         "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--base-convs", "40"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )


def test_workload_names_match():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(CALLED_LAYERS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(CALLED_LAYERS))
def test_tiny_pass(tmp_path, workload, trace):
    p = _bench(tmp_path, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["failures"]
    assert result["attempted"] >= 1
    section = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == [(m["name"], m["unit"]) for m in section]
    if trace:
        for layer in CALLED_LAYERS[workload]:
            assert result["metrics"][f"{layer}.wall_s"]["value"] > 0, layer
        assert result["metrics"]["trace.span_coverage"]["value"] >= 0.9
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        assert report["failed_ops"] == 0


def test_fails_without_the_program(tmp_path):
    """Holding only BENCHMARK.json and the benchmark's own files, the command
    exits non-zero and prints no result."""
    bare = tmp_path / "bare"
    bare.mkdir()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    skip = shutil.ignore_patterns(".work", "__pycache__")
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), bare / p, ignore=skip)
    p = _bench(tmp_path, "neardup", 0, root=str(bare))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
