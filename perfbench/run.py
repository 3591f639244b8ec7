"""The repository's benchmark of record.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One Python process drives one
``local[<cores>]`` Spark session in a closed loop with one client: set up
once cold, one cold iteration (``first_iter_s``), then warm iterations back
to back for ``--seconds`` (``iter_s_p50``), then set up again several times
on the warm JVM (their median is ``setup_s``).  Inputs are generated from
``--seed`` before any clock starts.  Every iteration's output is checked.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.  ``--trace 1``
is a separate run that wraps each layer's public functions, turns on
Spark's event log, and prints the per-layer metrics instead.  The last
stdout line is the result JSON; the line before it is a summary with the
sample counts and ``failed_frac``.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gen
from layers import JobCounter, Tracer, parse_event_log, union_length
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Set-up runs once cold before the iterations (that repetition also launches
# the JVM and is left out of setup_s), and again warm after them: at least
# SETUP_REPS times, and on until SETUP_MIN_S of wall time has passed or
# SETUP_MAX_REPS are done, so a cheap set-up gets enough samples for a steady
# median and an expensive one still stops at two.
SETUP_REPS, SETUP_MIN_S, SETUP_MAX_REPS = 2, 3.0, 15
# No timed iteration starts after this many seconds into the run, so a much
# slower program still finishes a run, warm set-ups included, inside 180 s.
RUN_DEADLINE_S = 110
# After the cold iteration, wait up to this long for the JIT compiler to go
# idle before the first warm iteration.
JIT_SETTLE_S = 2.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--profile", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is the smoke profile")
    return p.parse_args(argv)


def declared_metrics(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def configure_env(work: str, trace: bool, event_dir: str) -> None:
    """Launch-time settings: everything Spark and Python write stays under
    ``work``; the traced run adds the event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # A fixed, pre-touched driver heap (the 1g default) keeps the JVM's
    # resident size from depending on when G1 chose to grow the heap, so
    # peak_rss_mb moves with non-heap and Python memory, not GC timing.
    args = ["--driver-memory", "1g",
            "--driver-java-options",
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "--conf", f"spark.local.dir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(event_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quiesce(sc, settle_s: float = 0.0) -> None:
    """Untimed, before an iteration: collect garbage in Python and in the
    JVM, and with ``settle_s`` also wait (at most that long) until the JIT
    compiler's total compile time stops growing, so a timed iteration does
    not inherit the previous one's garbage or compile backlog."""
    gc.collect()
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    if settle_s:
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        deadline = time.perf_counter() + settle_s
        last = jit.getTotalCompilationTime()
        while time.perf_counter() < deadline:
            time.sleep(0.25)
            now = jit.getTotalCompilationTime()
            if now == last:
                break
            last = now


def layer_metrics(tracer, wl, iters, setup_ids, event_log) -> dict:
    """Per-layer metrics: means over the timed warm iterations, set-up
    layers as the median over the warm set-up repetitions."""
    warm = [it for it in iters if it["timed"]]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def self_t(layer):
        return mean(tracer.self_times(it["i"]).get(layer, 0.0)
                    for it in warm)

    def setup_t(name):
        return statistics.median(tracer.self_times(s).get(name, 0.0)
                                 for s in setup_ids)

    m = {
        "spark.jobs": statistics.median(it["jobs"]["jobs"] for it in warm),
        "spark.stages": statistics.median(
            it["jobs"]["stages"] for it in warm),
        "spark.tasks": statistics.median(it["jobs"]["tasks"] for it in warm),
        "graph.s": self_t("graph"),
        "graph.calls": mean(tracer.calls(it["i"], "graph") for it in warm),
        "operators.plan_s": self_t("operators.plan"),
        "operators.calls": mean(
            tracer.calls(it["i"], "operators.") for it in warm),
        "operators.validate_s": self_t("operators.validate"),
        "operators.tabulate_s": self_t("operators.tabulate"),
        "engine.barrier_s": mean(
            tracer.wall(it["i"], "engine.barrier") for it in warm),
        "engine.barrier_calls": mean(
            tracer.calls(it["i"], "engine.barrier", outermost=True)
            for it in warm),
        "registry.write_s": self_t("registry.write"),
        "registry.load_iter_s": self_t("registry.load"),
        "functions.plan_s": self_t("functions.plan"),
        "session.start_s": setup_t("session.start"),
        "registry.load_s": setup_t("registry.load"),
        "functions.dsir_train_s": setup_t("functions.dsir_train"),
        "streaming.bloom_build_s": setup_t("streaming.bloom_build"),
        "trace.spans": mean(tracer.calls(it["i"], "") for it in warm),
        "trace.iter_s_p50": statistics.median(it["wall"] for it in warm),
    }
    for phase in ("direct", "upstream", "passthrough", "downstream",
                  "disconnected"):
        m[f"engine.{phase}_s"] = mean(
            tracer.wall(it["i"], f"engine.{phase}") for it in warm)
    m["trace.overhead_s"] = m["trace.spans"] * tracer.calibrate()

    # curate: the report's per-stage counts, in report order, after the
    # input count
    stages = wl.stage_names() if hasattr(wl, "stage_names") else []
    for stage in ("c4_clean", "gopher_rules", "near_dedup", "decontaminate",
                  "dsir_select"):
        vals = []
        for it in warm:
            counts = tracer.children(it["i"], "curate.corpus", "curate.count")
            if stage in stages and len(counts) == len(stages) + 1:
                vals.append(counts[stages.index(stage) + 1])
        m[f"curate.{stage}_s"] = mean(vals)

    # executor and IO totals from the event log, by the iteration's jobs
    per_iter = []
    gaps = []
    for it in warm:
        jobs = set(it["jobs_ids"])
        tasks = [t for t in event_log["tasks"] if t["job"] in jobs]
        per_iter.append(tasks)
        ivs = [(max(a, it["t0"]), min(b, it["t1"]))
               for j, (a, b) in event_log["jobs"].items() if j in jobs]
        gaps.append((it["t1"] - it["t0"])
                    - union_length([iv for iv in ivs if iv[1] > iv[0]]))
    for key in ("run_s", "cpu_s", "gc_s"):
        m[f"exec.{key}"] = mean(sum(t[key] for t in ts) for ts in per_iter)
    for key in ("scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "output_bytes"):
        m[f"io.{key}"] = mean(sum(t[key] for t in ts) for ts in per_iter)
    n_tasks = sum(len(ts) for ts in per_iter)
    m["spark.empty_task_frac"] = (
        sum(t["empty"] for ts in per_iter for t in ts) / n_tasks
        if n_tasks else 0.0)
    m["spark.driver_gap_s"] = mean(gaps)
    for key in ("engine.dest_files", "streaming.batches",
                "streaming.add_batch_s", "streaming.query_planning_s",
                "streaming.wal_commit_s"):
        m[key] = mean(it["counts"].get(key, 0) for it in warm)
    return m


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "condenser_spark",
                                       "__init__.py")):
        print(f"error: no condenser_spark/ package in {ROOT}; run the "
              "benchmark from the root of a full checkout", file=sys.stderr)
        return 2
    marks = [("start", time.perf_counter())]
    stat0 = cpu_times()
    sys.path.insert(0, ROOT)
    names = declared_metrics(args.trace)
    work = os.path.join(ROOT, ".perfbench_work")
    scratch = os.path.join(work, "run", f"{args.workload}-{os.getpid()}")
    event_dir = os.path.join(scratch, "events")
    cls = WORKLOADS[args.workload]
    inputs = {k: gen.inputs(work, k, args.profile, args.seed)
              for k in cls.INPUTS}
    configure_env(work, bool(args.trace), event_dir)
    os.makedirs(scratch, exist_ok=True)
    marks.append(("inputs", time.perf_counter()))
    try:
        return measure(args, cls(inputs, scratch), names, work, event_dir,
                       marks, stat0)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args, wl, names, work, event_dir, marks, stat0) -> int:
    """Set up, iterate, check, and print the summary and result lines."""
    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()
        tracer.wrap_count()
    from condenser_spark import session

    cpus = len(os.sched_getaffinity(0))
    spark = None
    setup_times, setup_ids = [], []

    def set_up() -> None:
        """One set-up repetition: a new session, then the workload's own
        set-up, timed together."""
        nonlocal spark
        if spark is not None:
            spark.stop()
            quiesce(spark.sparkContext)
        if tracer:
            tracer.iteration = f"setup-{len(setup_times)}"
            setup_ids.append(tracer.iteration)
        t0 = time.perf_counter()
        spark = session.get_spark(f"perfbench-{args.workload}",
                                  master=f"local[{cpus}]",
                                  shuffle_partitions=cpus)
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
        if tracer:
            tracer.iteration = None

    try:
        set_up()  # cold: also launches the JVM
        marks.append(("cold_setup", time.perf_counter()))

        sc = spark.sparkContext
        counter = JobCounter(sc)
        iters = []
        warm_start = None
        min_warm = wl.MIN_WARM if args.seconds > 0 else 1
        warmup = wl.WARMUP if args.seconds > 0 else 0
        while True:
            i = len(iters)
            quiesce(sc, JIT_SETTLE_S if i == 1 else 0.0)
            group = f"perfbench-{i}"
            sc.setJobGroup(group, f"{args.workload} iteration {i}")
            if tracer:
                tracer.iteration = i
            e0, t0 = time.time(), time.perf_counter()
            try:
                result, err = wl.iterate(spark, i), None
            except Exception:  # a failed iteration is counted, not fatal
                result, err = None, traceback.format_exc(limit=3)
            wall = time.perf_counter() - t0
            e1 = time.time()
            if tracer:
                tracer.iteration = None
            jobs, job_ids = counter.collect(
                [group] + ([] if err else wl.job_groups()))
            if i == 0:
                # what the checks compare against, computed once the cold
                # iteration has warmed the JVM; its jobs carry their own
                # group, so no iteration counts them
                sc.setJobGroup("perfbench-reference", "output reference")
                wl.reference(spark)
                marks.append(("first_iter+reference", time.perf_counter()))
            try:
                errs = [err] if err else wl.check(result)
                counts = {} if err else wl.layer_counts()
            except Exception:  # a check that cannot run fails the iteration
                errs, counts = [traceback.format_exc(limit=3)], {}
            for e in errs:
                print(f"iteration {i}: {e}", file=sys.stderr)
            timed = i > warmup
            iters.append({"i": i, "timed": timed, "wall": wall, "t0": e0,
                          "t1": e1, "ok": not errs, "jobs": jobs,
                          "jobs_ids": job_ids, "counts": counts})
            if not timed:
                continue
            if warm_start is None:  # the window opens with the first timed
                warm_start = t0
            now = time.perf_counter()
            if (now - warm_start >= args.seconds
                    and len(iters) - 1 - warmup >= min_warm) \
                    or now - warm_start >= 3 * args.seconds \
                    or now - marks[0][1] >= RUN_DEADLINE_S:
                break
        marks.append(("iterations", time.perf_counter()))
        app_id = sc.applicationId

        # warm set-up repetitions, on a JVM the iterations have warmed
        warm_from = time.perf_counter()
        while len(setup_times) <= SETUP_REPS or (
                time.perf_counter() - warm_from < SETUP_MIN_S
                and len(setup_times) <= SETUP_MAX_REPS):
            set_up()
        marks.append(("warm_setup", time.perf_counter()))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
    marks.append(("stop", time.perf_counter()))

    warm = [it["wall"] for it in iters if it["timed"]]
    iter_p50 = statistics.median(warm)
    failed = sum(not it["ok"] for it in iters)
    if args.trace:
        event_log = parse_event_log(os.path.join(event_dir, app_id))
        values = layer_metrics(tracer, wl, iters, setup_ids[1:], event_log)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            work, "traces", f"{args.workload}-s{args.seed}.spans.jsonl"))
    else:
        values = {
            "setup_s": statistics.median(setup_times[1:]),
            "first_iter_s": iters[0]["wall"],
            "iter_s_p50": iter_p50,
            "src_rows_per_s": wl.source_rows / iter_p50,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
    missing = sorted(set(names) - set(values))
    if missing:
        print(f"error: no value for declared metrics {missing}",
              file=sys.stderr)
        return 3
    # the share of the machine's CPU time the hypervisor gave to other
    # guests during the run: the host's noise, for reading the figures
    dt = [b - a for a, b in zip(stat0, cpu_times())]
    steal = dt[7] / sum(dt) if len(dt) > 7 and sum(dt) else 0.0
    summary = {
        "workload": args.workload, "seed": args.seed,
        "profile": args.profile, "trace": args.trace,
        "source_rows": wl.source_rows, "warm_iterations": len(warm),
        "setup_s": [round(t, 4) for t in setup_times],
        "failed_frac": failed / len(iters),
        "iter_s": [round(w, 4) for w in warm],
        "warmup_iter_s": [round(it["wall"], 4) for it in iters[1:]
                          if not it["timed"]],
        "cpu_steal_frac": round(steal, 4),
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "phase_s": {b[0]: round(b[1] - a[1], 2)
                    for a, b in zip(marks, marks[1:])},
    }
    if hasattr(wl, "dest_bytes"):
        summary["dest_bytes"] = wl.dest_bytes
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(iters),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in names.items()},
    }))
    return 0


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    raise SystemExit(main())
