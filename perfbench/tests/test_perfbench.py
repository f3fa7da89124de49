"""Self-test of the benchmark at toy size (``--small``: sf0.001 TPC-H,
2k YCSB rows, 2k events) with windows of a few seconds.

    python3 -m pytest perfbench/tests -q

Each test launches a real server process, so the file takes a minute or
two.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.harness import nproc  # noqa: E402


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["tpch_olap", "ycsb_mix", "ingest_dashboard"])
def test_every_end_to_end_metric_with_its_unit(workload):
    out = _result(_cli("--workload", workload, "--seed", "7", "--seconds", "4", "--trace", "0", "--small"))
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == spec
    assert all(math.isfinite(v["value"]) and v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    proc = _cli("--workload", "ycsb_mix", "--seed", "7", "--seconds", "4", "--trace", "1", "--small")
    out = _result(proc)
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == spec
    assert out["metrics"]["flightsql.rpcs_per_op"]["value"] > 0
    assert out["metrics"]["dml.calls_per_op"]["value"] > 0
    assert "# span dump:" in proc.stdout
    for name in ("dml.update_table.ms_per_call", "op.read.p50_ms", "spark.jvm_gc_ms_per_op"):
        assert f"\n{name} " in proc.stdout


def test_wrong_expected_answer_counts_as_failed():
    def plant(wl):
        # terminal 0's model now expects other values for every key it owns
        term = wl.terms[0]
        for key in term.model:
            term.model[key] = ["wrong"] * 10

    rep = bench.run("ycsb_mix", 7, 3, trace=False, small=True, tamper=plant)
    assert bench.end_to_end(rep)["failed_frac"] > 0


def test_load_generator_stays_within_its_thread_and_connection_budget():
    rep = bench.run("tpch_olap", 7, 3, trace=False, small=True)
    budget = min(4, nproc())
    assert rep["terminals"] == budget
    assert rep["connections"] <= budget
    assert rep["threads_max"] <= budget


def test_refuses_to_run_without_the_program(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            (bench_dir / name).write_bytes(open(src, "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ycsb_mix", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
