"""Smoke test of the benchmark itself, at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every workload and metric named in BENCHMARK.json is printed
with its unit, that the traced run meets its own acceptance (span coverage,
Python-pass counts, the registry queries and their oracles), that one
flipped decision fails the run, and that the benchmark refuses to run
without the engine.  About six minutes on four cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str, cwd: Path = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [*SPEC["command"], "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed(workload):
    code, out = bench("--workload", workload, "--trace", "0", "--scale", "tiny")
    res = result(out)
    assert code == 0 and res["correct"], out
    assert res["attempted"] >= 2 and res["failed"] == 0
    assert_metrics(res, SPEC["end_to_end"])
    assert res["metrics"]["keep_f1"]["value"] == 1.0
    assert res["metrics"]["extract_match"]["value"] == 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    code, out = bench("--workload", workload, "--trace", "1", "--scale", "tiny")
    res = result(out)
    assert code == 0 and res["correct"], out
    assert_metrics(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.span_coverage"] >= 0.9
    if workload == "state_ticks_history":
        # the history tick's plan holds the fused pass 4 times, a plain one once
        assert m["plans.pipeline.python_passes"] == 4
        assert m["streaming.incremental.plain.python_passes"] == 1
        assert m["operators.compact.history_demoted"] == 20
    else:
        # every registry query ran; only the one listed known oracle defect
        # (registry.KNOWN_ORACLE_DEFECTS) may miss its oracle
        jobs = [k for k in m if k.startswith("plans.driver_queries.")
                and k.endswith(".jobs")]
        assert len(jobs) == 12 and all(m[k] > 0 for k in jobs)
        assert m["plans.driver_queries.oracle_match"] >= 10 / 11


def test_one_flipped_keep_fails_the_run():
    code, out = bench("--workload", WORKLOADS[0], "--trace", "0",
                      "--scale", "tiny", "--flip-one-keep")
    res = result(out)
    assert code != 0
    assert not res["correct"] and res["failed"] >= 1


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = bench("--workload", WORKLOADS[0], "--trace", "0", cwd=tmp_path)
    assert code != 0
    assert out.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
