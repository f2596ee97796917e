"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Each test runs ``perfbench/run.py`` as a subprocess (one Spark session
per run, ~30 s each on 4 cores), the way the benchmark is invoked.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def result(workload: str, *extra: str, trace: int = 0, seconds: str = "1") -> dict:
    rc, lines = bench(
        ROOT, "--workload", workload, "--seed", "7", "--seconds", seconds,
        "--trace", str(trace), "--size", "tiny", *extra,
    )
    assert rc == 0, lines
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_with_its_unit(workload, trace):
    out = result(workload, trace=trace)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_corrupted_export_byte_is_a_failed_op():
    out = result("egress_hot_repo", "--inject", "corrupt-export", seconds="3")
    assert out["failed"] >= 1 and out["correct"] is False


def test_file_that_never_commits_is_a_failed_op():
    # the streamed files are landed by the traced catch-up run's tail probe
    out = result("catchup", "--inject", "stuck-file", trace=1)
    assert out["failed"] >= 1 and out["correct"] is False


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_raising_unit_is_a_failed_op(workload):
    # the first timed pass or export raises; later ones still measure
    out = result(workload, "--inject", "raise", seconds="3")
    assert out["failed"] >= 1 and out["correct"] is False
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    rc, lines = bench(str(tmp_path), "--workload", "catchup", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)
