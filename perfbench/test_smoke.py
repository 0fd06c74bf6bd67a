"""Smoke tests of the benchmark itself, on the tiny sf0.001 input.

    python3 -m pytest perfbench -q

Runs every workload once, a traced run, a run whose expected digests are
deliberately wrong, and a run in a directory without the program. Takes
a few minutes; Spark start-up dominates.
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
sys.path.insert(0, HERE)

from workload import END_TO_END, PER_LAYER, PROBE_OPS, WORKLOADS  # noqa: E402


def bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = proc.stdout.splitlines()
    info = json.loads(lines[-2]) if len(lines) >= 2 else None
    result = json.loads(lines[-1]) if lines else None
    return proc.returncode, info, result


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_clean(workload):
    code, info, result = bench("--workload", workload, "--trace", "0", "--smoke")
    assert code == 0, info
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert info["error_rate"] == 0.0
    assert set(result["metrics"]) == set(END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == END_TO_END[name]
        assert m["value"] > 0, name
    assert info["cpu_probe_start_s"] > 0 and info["cpu_probe_end_s"] > 0
    assert info["peak_rss_mb"] > 0


def test_wrong_expected_digest_fails_every_op():
    code, info, result = bench("--workload", "corpus", "--trace", "0", "--smoke",
                               "--poison-expected")
    assert code != 0
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
    assert info["error_rate"] == 1.0
    assert result["metrics"]["ok_rate"]["value"] == 0.0
    assert all("digest" in f for f in info["failures"])


def test_traced_run_reports_every_per_layer_metric():
    code, info, result = bench("--workload", "asof", "--trace", "1", "--smoke")
    assert code == 0, info
    metrics = result["metrics"]
    assert set(metrics) == set(PER_LAYER)
    assert metrics["entry.py4j_calls"]["value"] > 0
    assert metrics["exec.tasks"]["value"] > 0
    assert metrics["plan.codegen_compiles_cold"]["value"] > 0
    assert metrics["op.q_stats_asof.warm_s"]["value"] > 0
    assert metrics["mem.peak_rss_mb"]["value"] > 0
    # the transcripts, checkpoint and ops probes of the traced asof run
    assert metrics["transcripts.scan_s"]["value"] > 0
    assert metrics["checkpoint.buckets_full"]["value"] == 8
    assert metrics["checkpoint.buckets_recover"]["value"] == 4
    assert metrics["checkpoint.buckets_noop"]["value"] == 0
    assert metrics["checkpoint.bytes_written"]["value"] > 0
    for q in PROBE_OPS:
        assert metrics[f"op.{q}.cold_s"]["value"] > 0, q
        assert metrics[f"op.{q}.warm_s"]["value"] > 0, q
    assert metrics["entry.build_jobs"]["value"] > 0
    # op spans are covered by their build / optimize / collect children
    assert metrics["trace.op_uncovered_frac_max"]["value"] <= 0.10


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_benchmark_json_names_the_measured_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
