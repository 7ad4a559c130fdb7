"""Smoke runs of the benchmark: each workload on tiny inputs, in both
modes, must be correct and report every metric of BENCHMARK.json. Each run
starts Spark, so these take minutes; pytest does not collect this file on
its own. Run it by name from the repository root:

    python -m pytest enginebench/smoke_check.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from enginebench.workloads import SPECS

ROOT = Path(__file__).resolve().parents[1]


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "3", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SPECS))
def test_smoke_run_is_correct_and_reports_every_metric(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        result = _run(workload, trace)
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        names = {m["name"]: m["unit"] for m in spec[section]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == names
        if section == "end_to_end":
            assert all(v["value"] > 0 for v in result["metrics"].values())
