"""Smoke tests for the benchmark: every named metric is printed with its
unit, and a directory without the engine exits non-zero with no result.

    python -m pytest perfbench/tests -q     # ~2 minutes (one smoke run)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402


@pytest.fixture(scope="module")
def smoke():
    """One traced smoke run over every workload: each record carries the
    end-to-end, named and per-layer figures."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    records = [json.loads(x[len("record "):]) for x in lines if x.startswith("record ")]
    return records, json.loads(lines[-1])


def test_last_line_contract(smoke):
    _records, last = smoke
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True
    assert last["failed"] == 0 and last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == metrics.PER_LAYER_UNITS


def test_every_workload_prints_every_metric_with_its_unit(smoke):
    records, _last = smoke
    assert [r["workload"] for r in records] == list(metrics.WORKLOADS)
    for r in records:
        assert r["failed"] == 0, r["workload"]
        assert {k: v["unit"] for k, v in r["e2e"].items()} == metrics.E2E_UNITS
        assert {k: v["unit"] for k, v in r["per_layer"].items()} == metrics.PER_LAYER_UNITS
        for k in metrics.E2E_UNITS:
            assert r["e2e"][k]["value"] > 0, (r["workload"], k)
        named = r["named"]
        for name, unit in metrics.NAMED[r["workload"]]:
            # a tail percentile may fall back to a lower one, renamed
            stem = name.rsplit("_p", 1)[0] if "_p9" in name else name
            got = [k for k in named if k == name or k.startswith(stem + "_p")]
            assert got, (r["workload"], name)
            assert all(named[k]["unit"] == unit for k in got)
        for key in ("cores", "mem_gb", "driver_mem"):
            assert key in r["host"]
        assert r["corpus_docs"] > 0


def test_benchmark_json_matches_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(e) for e in metrics.E2E
    ]
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER_UNITS


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
