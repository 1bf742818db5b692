"""Smoke tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each test starts a real local Spark session in a child process, so the file
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import inputs  # noqa: E402
import spans  # noqa: E402


def bench(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["extract_mixed", "checkpoint_light", "ops_suite"])
def test_smoke_run_is_correct_and_complete(workload):
    code, out = bench("--workload", workload, "--smoke", "--trace", "0")
    res = last_json(out)
    assert code == 0, out
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_layer_and_writes_spans():
    code, out = bench("--workload", "checkpoint_light", "--smoke", "--trace", "1")
    res = last_json(out)
    assert code == 0, out
    assert set(res["metrics"]) == {m["name"] for m in spec()["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["kernels.extract_turn.us_per_turn"] > 0
    assert m["pipeline.map.stage_run_ms"] > 0
    assert m["runner.files_after_compact"] <= m["runner.files_written"]
    assert m["self_s.bucket"] > 0


def test_traced_extraction_run_also_reports_the_ops_layer():
    code, out = bench("--workload", "extract_mixed", "--smoke", "--trace", "1")
    res = last_json(out)
    assert code == 0, out
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["kernels.extract_turn.us_per_turn"] > 0
    assert 0.5 < m["kernels.phase_share"] <= 1.0
    assert all(m[k] > 0 for k in m if k.startswith("ops.") and k.endswith("_s"))
    assert m["ops.jvm_cpu_ms"] > 0


@pytest.mark.parametrize("workload", ["extract_mixed", "ops_suite"])
def test_wrong_reference_counts_as_failed(workload):
    code, out = bench("--workload", workload, "--smoke", "--trace", "0", "--corrupt-reference")
    res = last_json(out)
    assert code != 0
    assert not res["correct"] and res["failed"] >= 1


def test_without_the_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, out = bench("--workload", "extract_mixed", cwd=str(tmp_path))
    assert code != 0
    assert '"correct"' not in out


def test_reference_digest_covers_order_and_role():
    res = {"payload_type": "ocr", "source": "x", "is_fallback": False, "blocks": [], "extracted_text": "t", "spans": []}
    base = inputs.item_digest("conv_000001", 2, "tool", res)
    assert base != inputs.item_digest("conv_000001", 2, "user", res)
    assert base != inputs.item_digest("conv_000001", 3, "tool", res)


def test_self_time_subtracts_covered_child_intervals():
    tr = spans.Tracer(enabled=True)
    tr.spans = [
        {"id": 0, "parent": None, "layer": "run", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "a", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "layer": "a", "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 1, "layer": "b", "start": 2.0, "end": 3.0},
    ]
    got = tr.self_times()
    assert got == {"run": 6.0, "a": 4.0, "b": 1.0}
