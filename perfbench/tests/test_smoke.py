"""Every workload's tiny-input smoke mode runs the benchmark's own code
end to end, and the benchmark refuses to run without the program.

    python -m pytest perfbench/tests/test_smoke.py -q    # about 3 minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=180)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_smoke_run_reports_every_end_to_end_metric(workload):
    res = bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", "0", "--smoke")
    assert res.returncode == 0, res.stderr[-3000:]
    last = json.loads(res.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 3
    assert set(last["metrics"]) == {m["name"] for m in spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in last["metrics"].values())


def test_smoke_traced_run_reports_every_per_layer_metric():
    res = bench(ROOT, "--workload", "wildweb_batch", "--seed", "7", "--seconds", "1",
                "--trace", "1", "--smoke")
    assert res.returncode == 0, res.stderr[-3000:]
    last = json.loads(res.stdout.strip().splitlines()[-1])
    assert last["correct"]
    assert set(last["metrics"]) == {m["name"] for m in spec()["per_layer"]}
    values = {k: v["value"] for k, v in last["metrics"].items()}
    assert values["sinks.jobs"] > 0 and values["streaming.pipeline.epochs"] > 0


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = bench(str(tmp_path), "--workload", "corpus_dedup", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert res.returncode != 0
    assert res.stdout.strip() == ""
