"""Tiny-size smoke of every workload, traced and untraced.

    python3 -m pytest perfbench/test_smoke.py -q      # or
    python3 perfbench/test_smoke.py

Each case runs ``run.py --profile tiny --seconds 0`` (one cold and one warm
iteration) from the repository root and checks that the run exits 0,
passes its output checks, and prints exactly the metrics BENCHMARK.json
declares, each with its declared unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("subset-tpch", "curate", "subset-wide")


def run_tiny(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--profile", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny(workload: str, trace: int) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"]
                for m in bench["per_layer" if trace else "end_to_end"]}
    out = run_tiny(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        if not trace:
            assert v["value"] > 0, name


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
