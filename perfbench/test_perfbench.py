"""The benchmark's own test: every workload, traced, twice with one seed.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run must pass every output check, and the counts that do not
depend on timing must repeat exactly between the two runs. Takes about
four minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

EXACT = (
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "sources.files_written",
    "streaming.batches",
)


def _run(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_checks_pass_and_counts_repeat(workload):
    first, second = _run(workload, 7), _run(workload, 7)
    for out in (first, second):
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    for name in EXACT:
        assert first["metrics"][name] == second["metrics"][name], name
    assert first["metrics"]["scheduler.jobs"]["value"] > 0


def test_refuses_without_engine(tmp_path):
    """Outside a checkout of the engine the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "curation_iterative",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
