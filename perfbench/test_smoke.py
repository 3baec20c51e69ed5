"""Tiny-scale smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced on tiny inputs (one
cycle each) and checks the printed result's shape, then checks that a
corrupted answer is counted as a failure and that the command fails
without the package next to it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARKED = ("olap_interactive", "text_curation")
#: runnable, but left out of BENCHMARK.json (see README.md)
WORKLOADS = BENCHMARKED + ("olap_batch",)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(BENCHMARKED)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for name in names + list(WORKLOADS):
        assert NAME.fullmatch(name), name


@pytest.mark.parametrize("traced", [False, True])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, traced):
    spec = _spec()
    listed = spec["per_layer"] if traced else spec["end_to_end"]
    result = run.run(workload, seed=3, seconds=0, traced=traced, scale="tiny")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    json.dumps(result)


def test_corrupted_answer_raises_error_rate():
    def corrupt(template, rows):
        if template == "groupby.mean":
            return [tuple(v + 1.0 if isinstance(v, float) else v for v in r) for r in rows]
        return rows

    result = run.run("olap_interactive", seed=3, seconds=0, traced=False,
                     scale="tiny", corrupt=corrupt)
    assert not result["correct"]
    assert result["failed"] / result["attempted"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".*", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
