"""Layer measurement from outside the program.

* :class:`Tracer` wraps the public functions of each ``condenser_spark``
  module (and the engine's phase methods) and records one span per call:
  ``(id, parent, layer, function, start, end, iteration)``.  Spans stay in
  memory and are written out once, at exit.
* :class:`JobCounter` reads job, stage and task counts from
  ``sc.statusTracker()``.
* :func:`parse_event_log` reads executor and IO totals from Spark's event
  log, which the traced run turns on with a launch-time conf.

Nothing here edits the program: wrappers are installed by rebinding module
and class attributes after import.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

# (layer, module, public functions).  A layer's time is the self time of
# its spans: the call's duration minus what its child spans cover.
LAYERS: list[tuple[str, str, tuple[str, ...]]] = [
    ("graph", "condenser_spark.graph", (
        "redact_relationships", "prepare_topo_input", "toposort_strata",
        "get_topological_order_by_tables", "compute_disconnected_tables",
        "compute_upstream_tables", "compute_downstream_tables")),
    ("operators.plan", "condenser_spark.operators.filters", (
        "apply_where", "bernoulli_sample", "deterministic_sample",
        "upstream_filter_match", "apply_limit", "drop_null_keys")),
    ("operators.plan", "condenser_spark.operators.joins", (
        "semi_join_keys", "missing_keys", "fetch_by_keys")),
    ("operators.plan", "condenser_spark.operators.projection", (
        "columns_to_null", "project_with_fk_nulls")),
    ("operators.validate", "condenser_spark.operators.validate", (
        "referential_violations",)),
    ("operators.tabulate", "condenser_spark.operators.validate", (
        "tabulate",)),
    ("registry.load", "condenser_spark.registry", ("load_source_tables",)),
    ("registry.write", "condenser_spark.registry", (
        "write_dest", "teardown_dest")),
    ("registry.lookup", "condenser_spark.registry", (
        "empty_like", "lookup_df")),
    ("session.start", "condenser_spark.session", ("get_spark",)),
    ("curate.corpus", "condenser_spark.curate", ("curate_corpus",)),
    ("functions.plan", "condenser_spark.functions.text", (
        "c4_clean", "c4_pass_condition", "gopher_quality_flags",
        "gopher_pass_condition")),
    ("functions.plan", "condenser_spark.functions.dedup", (
        "near_dedup_documents", "minhash_signatures", "minhash_lsh_pairs",
        "dup_clusters", "decontaminate_bloom", "contamination_pairs_bloom",
        "build_shingle_bloom")),
    ("functions.plan", "condenser_spark.functions.dsir", (
        "dsir_weights", "dsir_sample")),
    ("functions.dsir_train", "condenser_spark.functions.dsir", (
        "train_hashed_ngram_lm",)),
    ("streaming.bloom_build", "condenser_spark.streaming.textdedup", (
        "build_line_bloom", "build_kgram_bloom")),
    ("streaming.plan", "condenser_spark.streaming.textdedup", (
        "dedup_lines_stream", "exact_substring_stream")),
    ("streaming.plan", "condenser_spark.streaming.curate", (
        "curate_stream",)),
]

# SubsetEngine methods -> span names.  ``_set_dest_group`` runs twice per
# ``run_middle_out``: first for passthrough tables, then for disconnected.
ENGINE_PHASES = {
    "_subset_direct": "engine.direct",
    "_subset_upstream": "engine.upstream",
    "_subset_downstream": "engine.downstream",
    "_set_dest": "engine.barrier",
    "_append_dest": "engine.barrier",
}


class Tracer:
    """In-memory span recorder.  Spans are per thread; a span opened in a
    worker thread has parent 0."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.iteration: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, fn):
        tracer = self
        fn_name = fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((sid, parent, layer, fn_name,
                                         t0, t1, tracer.iteration))

        return traced

    def install(self) -> None:
        """Import every traced module and rebind each listed function, in
        its own module and in every ``condenser_spark`` module that
        imported it by name."""
        originals: dict[int, tuple] = {}
        for layer, mod_name, names in LAYERS:
            mod = importlib.import_module(mod_name)
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = (fn, self.wrap(layer, fn))
        for mod_name in ("condenser_spark.engine", "condenser_spark.__main__",
                         "condenser_spark.curate",
                         "condenser_spark.streaming.curate"):
            importlib.import_module(mod_name)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("condenser_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
        self._install_engine()

    def _install_engine(self) -> None:
        from condenser_spark.engine import SubsetEngine

        for meth, name in ENGINE_PHASES.items():
            setattr(SubsetEngine, meth,
                    self.wrap(name, getattr(SubsetEngine, meth)))
        group = SubsetEngine._set_dest_group
        run = SubsetEngine.run_middle_out
        passthrough = self.wrap("engine.passthrough", group)
        disconnected = self.wrap("engine.disconnected", group)

        def set_dest_group(eng, items):
            eng._bench_groups = getattr(eng, "_bench_groups", 0) + 1
            phase = passthrough if eng._bench_groups == 1 else disconnected
            return phase(eng, items)

        def run_middle_out(eng):
            eng._bench_groups = 0
            return run(eng)

        SubsetEngine._set_dest_group = set_dest_group
        SubsetEngine.run_middle_out = run_middle_out

    def wrap_count(self) -> None:
        """Record every ``DataFrame.count`` as a ``curate.count`` span:
        inside ``curate_corpus`` these are the per-stage report counts."""
        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.count = self.wrap("curate.count", DataFrame.count)

    @staticmethod
    def calibrate(n: int = 20_000) -> float:
        """Seconds one wrapped call costs over a plain call."""
        def noop():
            return None

        probe = Tracer()
        wrapped = probe.wrap("probe", noop)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        t1 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t2 = time.perf_counter()
        return max(0.0, ((t2 - t1) - (t1 - t0)) / n)

    def _of(self, iteration) -> list[tuple]:
        return [s for s in self.spans if s[6] == iteration]

    def self_times(self, iteration) -> dict[str, float]:
        """Per layer: summed self time over spans of ``iteration``."""
        spans = self._of(iteration)
        child = defaultdict(float)
        for sid, parent, _, _, t0, t1, _ in spans:
            if parent:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _, layer, _, t0, t1, _ in spans:
            out[layer] += (t1 - t0) - child[sid]
        return out

    def wall(self, iteration, layer: str) -> float:
        """Length of the union of ``layer``'s span intervals (spans of one
        phase may overlap across the engine's worker threads)."""
        return union_length((s[4], s[5]) for s in self._of(iteration)
                            if s[2] == layer)

    def calls(self, iteration, prefix: str, outermost: bool = False) -> int:
        """Spans of ``iteration`` whose layer starts with ``prefix``; with
        ``outermost``, only those not nested in another such span."""
        spans = self._of(iteration)
        layer = {s[0]: s[2] for s in spans}
        return sum(1 for s in spans if s[2].startswith(prefix)
                   and not (outermost
                            and layer.get(s[1], "").startswith(prefix)))

    def children(self, iteration, parent: str, layer: str) -> list[float]:
        """Durations of ``layer`` spans directly under a ``parent`` span, in
        call order."""
        spans = sorted(self._of(iteration), key=lambda s: s[4])
        ids = {s[0] for s in spans if s[2] == parent}
        return [s[5] - s[4] for s in spans if s[2] == layer and s[1] in ids]

    def dump(self, path: str) -> None:
        keys = ("id", "parent", "layer", "function", "start", "end",
                "iteration")
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(dict(zip(keys, span))) + "\n")


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------ status tracker

class JobCounter:
    """Counts the jobs, stages and tasks an iteration launched, from
    ``sc.statusTracker()``: the jobs of the iteration's job groups, plus
    ungrouped jobs first seen during the iteration (the engine's writer
    threads do not inherit the caller's job group)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.seen: set[int] = set(self._ungrouped())

    def _ungrouped(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def collect(self, groups: list[str]) -> tuple[dict, list[int]]:
        st = self.sc.statusTracker()
        jobs = {j for g in groups for j in st.getJobIdsForGroup(g)}
        fresh = set(self._ungrouped()) - self.seen
        self.seen |= fresh
        jobs |= fresh
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                if s is not None and s.numTasks:
                    stages += 1
                    tasks += s.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}, \
            sorted(jobs)


# ------------------------------------------------------------ event log

def parse_event_log(path: str) -> dict:
    """Job intervals and task totals from one Spark event log file:
    ``{"jobs": {job_id: (start_s, end_s)}, "tasks": [ {job_id, ...} ]}``.
    Times are epoch seconds (the JVM's wall clock)."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, list] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = [ev["Submission Time"] / 1000.0, None]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                outm = m.get("Output Metrics") or {}
                records = (inp.get("Records Read", 0)
                           + sr.get("Total Records Read", 0))
                tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "scan_bytes": inp.get("Bytes Read", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0)
                    + m.get("Memory Bytes Spilled", 0),
                    "output_bytes": outm.get("Bytes Written", 0),
                    "empty": records == 0,
                })
    return {"jobs": {j: (a, b) for j, (a, b) in jobs.items()
                     if b is not None},
            "tasks": tasks}
