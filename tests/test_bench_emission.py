"""Structural safety of bench.py's two-line emission (VERDICT r11 punch #2,
reworked r18 per VERDICT r17 "What's wrong #2").

The driver keeps EXACTLY the last 2000 chars of stdout (every committed
BENCH_r*.json ``tail`` is len 2000) and parses the final line as JSON —
BENCH_r09 was lost to one overgrown line, and rounds 13-17 lost the
driver-visible per-query map to the wholesale drop fallback.  These tests
pin, WITHOUT running Spark, that the final line stays parseable and under
``bench.FINAL_LINE_BOUND`` at the CURRENT bench registry size plus 10
synthetic entries, that the 1-dp query map survives on the final line
(trimmed per-entry past the bound, never dropped wholesale), and that
full-precision per-query values are never lost (they always live in
``queries_full`` on the preceding detail line).
"""

from __future__ import annotations

import json
from pathlib import Path

import bench

BOUND = bench.FINAL_LINE_BOUND
N_SYNTHETIC = 10


def _current_bench_names() -> list[str]:
    return list(bench.ENTRIES)


def test_registry_names_match_the_committed_detail_record():
    # no entry may be lost or renamed: the registry carries exactly the
    # entries of the last full-core recording
    repo = Path(bench.__file__).parent
    detail = json.loads((repo / "BENCH_DETAIL_r18.json").read_text())
    assert len(bench.ENTRIES) == 90
    assert sorted(bench.ENTRIES) == sorted(detail["queries_full"])


def _fake_run(names: list[str]):
    # worst-case-ish magnitudes: three-digit seconds render as 6 chars at
    # 2 dp in the compact map
    timings = {n: 123.456 + i * 0.001 for i, n in enumerate(names)}
    noise = {n: 12.3 for n in names}
    return timings, noise


def test_final_line_bounded_at_current_size_plus_headroom():
    names = _current_bench_names() + [
        f"synthetic_round13_entry_{i:02d}" for i in range(N_SYNTHETIC)
    ]
    timings, noise = _fake_run(names)
    detail_line, final_line = bench.emit_lines(
        timings, noise, (0.5, 0.6, 0.7), (2.5, 1.6, 1.2), idle_wait_s=35.0)
    assert len(final_line) <= BOUND, len(final_line)
    final = json.loads(final_line)
    # driver-contract scalars always on the final line
    for field in ("metric", "value", "unit", "queries", "bench_cpus", "sf"):
        assert field in final, field
    # the noise/loadavg scalars moved to the detail line (VERDICT r17 #2)
    detail = json.loads(detail_line)
    for field in ("noise_pct_max", "loadavg_start", "loadavg_end",
                  "idle_wait_s", "host_cpus"):
        assert field in detail, field
    # full-precision per-query values ALWAYS live on the detail line
    assert detail["queries_full"] == timings
    assert detail["noise_pct"] == noise
    # any trimmed entry is accounted for, and the survivors dominate
    omitted = final.get("n_omitted", 0)
    assert len(final["queries"]) + omitted == len(timings)
    # this scenario is deliberately harsh (every value renders 5 chars at
    # +10 synthetic entries); the realistic-magnitude gate below asserts
    # >= 0.9 at the true registry size
    assert len(final["queries"]) >= 0.7 * len(timings), (
        "per-query map mostly lost from the driver-visible line again")


def test_final_line_restores_driver_visible_map_at_current_size():
    # VERDICT r17 "Done = PERF_r18 per_query non-empty": at the CURRENT
    # registry size with realistic magnitudes the map must be present and
    # near-complete on the final line the driver parses.
    names = _current_bench_names()
    timings = {n: 0.123 + (i % 70) * 0.1 for i, n in enumerate(names)}
    noise = {n: 12.3 for n in names}
    _, final_line = bench.emit_lines(
        timings, noise, (0.1, 0.1, 0.1), (0.2, 0.2, 0.2))
    assert len(final_line) <= BOUND
    final = json.loads(final_line)
    assert len(final["queries"]) >= 0.9 * len(names)


def test_final_line_keeps_map_while_it_fits():
    timings, noise = _fake_run(["q1", "q2"])
    _, final_line = bench.emit_lines(
        timings, noise, (0.1, 0.1, 0.1), (0.2, 0.2, 0.2))
    final = json.loads(final_line)
    assert final["queries"] == {"q1": 123.5, "q2": 123.5}
    assert "n_omitted" not in final


def test_map_trim_fallback_fires_past_bound():
    # enough long-named entries to force the 1-dp map past the bound:
    # the CHEAPEST entries trim first, the expensive ones (the entries
    # a regression comparison most needs) survive, nothing is dropped
    # wholesale
    names = [f"very_long_synthetic_bench_entry_name_{i:03d}"
             for i in range(60)]
    timings = {n: 0.1 + i * 0.01 for i, n in enumerate(names)}
    timings["the_most_expensive_entry_with_a_really_long_name"] = 500.0
    noise = {n: 1.0 for n in timings}
    _, final_line = bench.emit_lines(
        timings, noise, (0.1, 0.1, 0.1), (0.2, 0.2, 0.2))
    assert len(final_line) <= BOUND
    final = json.loads(final_line)
    assert "the_most_expensive_entry_with_a_really_long_name" \
        in final["queries"]
    kept_min = min(timings[k] for k in final["queries"])
    dropped_max = max(timings[k] for k in timings
                      if k not in final["queries"])
    assert dropped_max <= kept_min, "trim order must be cheapest-first"
    assert final["n_omitted"] >= 1
    assert len(final["queries"]) + final["n_omitted"] == len(timings)
    assert final["value"] == round(sum(timings.values()), 3)


def test_wait_for_idle_disabled_is_noop():
    assert bench.wait_for_idle(timeout_s=0) == 0.0


def test_detail_artifact_lands_parses_and_covers_every_entry(tmp_path,
                                                             monkeypatch):
    # VERDICT r14 "What's missing #2": the per-query record must survive
    # as a file, not just a (truncatable) stdout line.
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    names = _current_bench_names()
    timings, noise = _fake_run(names)
    detail_line, final_line = bench.emit_lines(
        timings, noise, (0.1, 0.1, 0.1), (0.2, 0.2, 0.2), idle_wait_s=1.0)
    # round number derives from the latest driver-recorded BENCH_r*.json
    (tmp_path / "BENCH_r07.json").write_text("{}")
    (tmp_path / "BENCH_r14.json").write_text("{}")
    path = bench.write_detail_artifact(detail_line, final_line,
                                       str(tmp_path))
    assert path.endswith("BENCH_DETAIL_r15.json")
    merged = json.loads(Path(path).read_text())
    assert merged["queries_full"] == timings          # every entry, full dp
    assert merged["noise_pct"] == noise
    assert merged["value"] == round(sum(timings.values()), 3)
    for field in ("metric", "unit", "loadavg_start", "idle_wait_s", "sf"):
        assert field in merged, field
    # no tmp residue from the atomic replace
    assert not list(tmp_path.glob("*.tmp"))


def test_detail_artifact_scaling_run_suffix(tmp_path, monkeypatch):
    # VERDICT r17 "What's wrong #3": the driver's 8-core scaling run
    # landed as the NEXT round's bare detail name and would masquerade as
    # its full-core floor.  A bench_cpus != host-core run now lands with
    # an explicit _c{cpus} suffix.
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    monkeypatch.setattr(bench, "CPUS", "8")
    assert bench.os.cpu_count() != 8, "test host unexpectedly has 8 cores"
    timings, noise = _fake_run(["q1"])
    d, f = bench.emit_lines(timings, noise, (0, 0, 0), (0, 0, 0))
    (tmp_path / "BENCH_r17.json").write_text("{}")
    path = bench.write_detail_artifact(d, f, str(tmp_path))
    assert path.endswith("BENCH_DETAIL_r18_c8.json")


def test_calibration_stamp_rides_the_detail_line():
    # VERDICT r17 "Next round" #9: the host-drift probe ratios are
    # stamped into every detail record
    timings = {"minhash_lsh_pairs": 6.14, "dsir_sample": 2.50, "other": 1.0}
    noise = {k: 1.0 for k in timings}
    stamp = bench.calibration_stamp(timings)
    d, _ = bench.emit_lines(timings, noise, (0, 0, 0), (0, 0, 0),
                            extra_detail=stamp)
    detail = json.loads(d)
    probes = detail["calibration"]["probes"]
    assert probes["minhash_lsh_pairs"]["ratio"] == 2.0
    assert probes["dsir_sample"]["ratio"] == 1.0
    # a probe missing from the run (e.g. a future rename) degrades to
    # absence, never a crash
    assert bench.calibration_stamp({"x": 1.0})["calibration"]["probes"] == {}


def test_detail_artifact_round_override_and_empty_dir(tmp_path, monkeypatch):
    timings, noise = _fake_run(["q1"])
    d, f = bench.emit_lines(timings, noise, (0, 0, 0), (0, 0, 0))
    assert bench.write_detail_artifact(d, f, str(tmp_path)).endswith(
        "BENCH_DETAIL_r01.json")
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "23")
    assert bench.write_detail_artifact(d, f, str(tmp_path)).endswith(
        "BENCH_DETAIL_r23.json")


def test_committed_detail_artifacts_parse():
    # every BENCH_DETAIL_r*.json committed at the repo root must parse and
    # carry a non-empty full-precision query map
    repo = Path(bench.__file__).parent
    for p in sorted(repo.glob("BENCH_DETAIL_r*.json")):
        merged = json.loads(p.read_text())
        assert merged["queries_full"], p.name
        assert all(isinstance(v, (int, float))
                   for v in merged["queries_full"].values()), p.name


def test_bench_diff_tool(tmp_path):
    """scripts/bench_diff.py: movers past BOTH thresholds only,
    like-for-like subtotals over the shared set, added/removed
    entries, exit-code gating."""
    import subprocess
    import sys

    sys.path.insert(0, str(Path(__file__).parent.parent / "scripts"))
    import bench_diff

    a = {"queries_full": {"q1": 1.0, "q2": 0.1, "q3": 2.0, "old": 1.0},
         "loadavg_start": [0.1, 0.2, 0.3], "idle_wait_s": 0.0,
         "noise_pct_max": 30.0}
    b = {"queries_full": {"q1": 1.05, "q2": 0.3, "q3": 3.1, "new": 0.5},
         "loadavg_start": [0.2, 0.2, 0.2], "idle_wait_s": 10.0,
         "noise_pct_max": 40.0}
    out = bench_diff.diff(a, b)
    assert out["shared_entries"] == 3
    assert out["subtotal_a"] == 3.1 and out["subtotal_b"] == 4.45
    assert out["added_in_b"] == ["new"]
    assert out["removed_in_b"] == ["old"]
    # q1: +5% (under frac) no; q2: +0.2s (under sec) no; q3: +1.1s and
    # +55% -> the ONLY mover
    assert [m["query"] for m in out["movers"]] == ["q3"]
    # CLI round trip + exit gating
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    proc = subprocess.run(
        [sys.executable, str(Path(bench_diff.__file__)),
         str(pa), str(pb)], capture_output=True, text=True)
    assert proc.returncode == 1  # movers exist
    parsed = json.loads(proc.stdout)
    assert parsed["movers"][0]["query"] == "q3"
    proc0 = subprocess.run(
        [sys.executable, str(Path(bench_diff.__file__)),
         "--threshold-sec", "5", str(pa), str(pb)],
        capture_output=True, text=True)
    assert proc0.returncode == 0  # gate clear past a loose threshold
