"""Smoke test of the benchmark: every workload at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts the benchmark as a benchmark session does (a fresh
process from the repository root) and checks that every metric named for
the workload is printed with its unit, that the last line carries the
BENCHMARK.json metrics, and that a deliberately wrong result drives
``error_rate`` above 0 and the exit code away from 0.  Takes a few
minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

COMMON = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
          "error_rate": "ratio"}
EXPECTED = {
    "er_stored": {**COMMON, "mentions_per_s": "1/s", "pairwise_f1": "ratio"},
    "contract_sf01": {**COMMON, "mentions_per_s": "1/s", "flagship_s": "s",
                      "queries_s": "s"},
}


def run(*args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--smoke", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    return proc.returncode, proc.stdout.strip().splitlines()


def e2e_lines(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines:
        m = re.fullmatch(r"e2e (\S+) = (\S+) (\S+)", line)
        if m:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


@pytest.mark.parametrize("workload", sorted(EXPECTED))
def test_every_metric_is_emitted_with_its_unit(workload):
    rc, lines = run("--workload", workload, "--trace", "0")
    assert rc == 0, "\n".join(lines[-20:])
    printed = e2e_lines(lines)
    for name, unit in EXPECTED[workload].items():
        assert name in printed, name
        assert printed[name][1] == unit, (name, printed[name])
    assert printed["error_rate"][0] == 0
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(v["value"] > 0 for v in last["metrics"].values())


@pytest.mark.parametrize("workload", sorted(EXPECTED))
def test_traced_run_reports_every_per_layer_metric(workload):
    rc, lines = run("--workload", workload, "--trace", "1")
    assert rc == 0, "\n".join(lines[-20:])
    last = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    # a layer the workload runs reports a measured value, with its time
    not_run = {ln.split()[1] for ln in lines
               if ln.startswith("layer ") and ln.endswith("(not run on "
                                                           "this workload)")}
    walls = [k for k in want if k.endswith(".wall_s") and k not in not_run]
    assert walls and all(last["metrics"][k]["value"] > 0 for k in walls)
    assert all(last["metrics"][k]["value"] == 0 for k in not_run)
    spans = [ln for ln in lines if ln.startswith("span ")]
    assert spans and all("self_s=" in ln for ln in spans)
    assert any(ln.startswith("layer run.trace_overhead_s") for ln in lines)


@pytest.mark.parametrize("workload", ["er_stored", "contract_sf01"])
def test_wrong_result_is_caught(workload):
    rc, lines = run("--workload", workload, "--trace", "0", "--inject-error")
    assert rc != 0
    assert e2e_lines(lines)["error_rate"][0] > 0
    last = json.loads(lines[-1])
    assert last["correct"] is False and last["failed"] > 0


def test_without_the_program_it_fails_fast(tmp_path):
    """Only BENCHMARK.json and perfbench/: non-zero exit, no result."""
    import shutil

    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_stored",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
