"""Smoke-size runs of the benchmark, so a broken benchmark fails fast.

    python3 -m pytest perfbench/test_smoke.py

Each workload runs traced at ``--seconds 1`` (one measured pass): the
traced run also makes the untraced passes, so every output check, every
end-to-end metric and every per-layer metric is exercised.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["landing_small_files", "landing_bulk", "corpus_near_dup"])
def test_workload_smoke(workload):
    p = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {name for name, _ in run.per_layer_names()}
    for name, unit in run.END_TO_END:
        assert any(line.startswith(f"{name} = ") and f" {unit}" in line for line in lines), name
    if workload == "landing_small_files":
        assert result["metrics"]["stream.restarts"]["value"] == 1
        assert result["metrics"]["ingest.pipeline.IngestionPipeline.process_batch.jobs"]["value"] > 0


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "landing_bulk", "--seed", "1", "--seconds", "1",
               "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
