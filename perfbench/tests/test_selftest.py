"""Self-test of the benchmark at sf0.001: every workload runs once, all of
its outputs pass their checks, and every check also rejects the
deliberately wrong expected result the runner compares it with.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent


def run(workload: str, *extra: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--scale", "sf0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("workload", ["cdc_upsert", "curation_batch"])
def test_workload_checks_pass_and_catch_wrong_expectations(workload):
    result, out = run(workload)
    assert result["correct"] is True, out
    assert result["failed"] == 0 and result["attempted"] > 0
    m = re.search(r"^checks (\d+) attempted \d+ failed \d+ perturbed_undetected (\d+)$", out, re.M)
    assert m, out
    checks, undetected = int(m.group(1)), int(m.group(2))
    assert checks > 0
    assert undetected == 0, f"{undetected} of {checks} checks accepted a wrong expected result"
    from run import E2E  # noqa: E402  (perfbench is the script's directory)

    assert set(result["metrics"]) == {k for k, _ in E2E}
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]


def test_traced_run_reports_every_per_layer_metric():
    result, out = run("cdc_upsert", "--trace", "1")
    from run import per_layer_names  # noqa: E402

    assert list(result["metrics"]) == [k for k, _ in per_layer_names()]
    assert result["correct"] is True, out
    assert result["metrics"]["warehouse.commit_s.upsert"]["value"] > 0
    assert result["metrics"]["py4j.roundtrips"]["value"] > 0


def test_benchmark_json_matches_the_runner():
    from run import E2E, per_layer_names  # noqa: E402

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(E2E)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_upsert", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
