"""The bench registry (``bench.ENTRIES``) stays buildable.

Every entry's ``build`` runs against the sf0.001 fixtures, shared prep
included, and each DataFrame it returns is planned; no entry's timed
action runs.  A library change that breaks a bench entry fails here
instead of at the next bench recording.  ``scripts/bench_profile.py``, which
reads the same registry, is driven once end to end.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

from pyspark.sql import DataFrame

import bench

REPO = Path(bench.__file__).parent


def test_every_entry_builds_and_plans(spark, sf_dir):
    ctx = bench.BenchContext(spark, sf_dir)
    try:
        for name, (build, _) in bench.ENTRIES.items():
            try:
                built = build(ctx)
                if isinstance(built, DataFrame):
                    built._jdf.queryExecution().executedPlan()
                else:
                    assert callable(built)
            except Exception as e:
                raise AssertionError(f"bench entry {name!r}: {e}") from e
            ctx.release()
            assert not ctx._held
        dirs = list(ctx._dirs)
        assert dirs, "the file fixtures were never built"
    finally:
        ctx.close()
    assert not any(os.path.exists(d) for d in dirs)


def test_profile_script_times_an_entry_and_writes_its_plan(sf_dir, tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "bench_profile.py"),
         "exact_dedup", "diversity_stats", "--runs", "1",
         "--plans-dir", str(tmp_path), "--suffix", "_x"],
        capture_output=True, text=True, env=env, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    dedup_line, diversity_line = proc.stdout.strip().splitlines()[-2:]
    assert dedup_line.startswith("exact_dedup: median "), dedup_line
    # each timed run's wall time comes with its codegen compile count
    assert re.search(r"samples=\[[\d.]+\] compiles=\[\d+\]", dedup_line), \
        dedup_line
    assert "exchanges=" in dedup_line and "python_nodes=" in dedup_line
    # nodes are counted in the plan tree only, not again in the numbered
    # detail blocks: diversity's one Arrow kernel is one node
    assert diversity_line.startswith("diversity_stats: median "), \
        diversity_line
    assert "python_nodes=1 " in diversity_line, diversity_line
    plan = (tmp_path / "exact_dedup_x.txt").read_text()
    assert "== Physical Plan ==" in plan
    # ids that change between captures are normalized, so two capture
    # directories compare with diff -r
    assert "#N" in plan and not re.search(r"#\d", plan), plan


def test_no_script_shadows_a_stdlib_module():
    """``python scripts/X.py`` puts ``scripts/`` first on ``sys.path``, so a
    script named like a stdlib module replaces that module for every script
    there: one named ``profile`` broke pyspark's import (through
    ``cProfile``) in ``check_oracles.py`` and ``stress_smoke.py``."""
    stems = {p.stem for p in (REPO / "scripts").glob("*.py")}
    assert not stems & sys.stdlib_module_names
