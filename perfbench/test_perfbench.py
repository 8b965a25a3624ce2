"""The benchmark's own test: smoke runs at tiny sizes.

    python -m pytest perfbench/test_perfbench.py -q      # ~6 min, local[k]

Checks that every metric BENCHMARK.json names is emitted with its unit,
that no operation failed or returned a wrong result, and that the traced
self-times add up to the traced wall.
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
UNATTRIBUTED_MAX = 0.10  # share of the traced wall outside any child span


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_lists_match_benchmark_json():
    sys.path.insert(0, HERE)
    import run as bench

    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in s["workloads"]] == list(bench.WORKLOADS)
    assert s["command"][1:] == ["perfbench/run.py"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(str(tmp_path), "--workload", "search", "--seed", "1",
            "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "correct" not in p.stdout


@pytest.mark.parametrize("workload", ["search", "churn"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke(workload, trace):
    p = run(ROOT, "--workload", workload, "--seed", "3", "--smoke",
            "--trace", trace)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = spec()["per_layer" if trace == "1" else "end_to_end"]
    got = out["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)
    if trace == "1":
        with open(os.path.join(ROOT, ".bench_out", f"trace-{workload}-3.json")) as f:
            meta = json.load(f)["meta"]
        assert abs(meta["self_time_sum_s"] - meta["wall_s"]) <= 0.01 * meta["wall_s"]
        assert got["trace.unattributed_frac"]["value"] <= UNATTRIBUTED_MAX
        assert meta["wrong"] == [] and "dedup_digest" in meta["checks"]
