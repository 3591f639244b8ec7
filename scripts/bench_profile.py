"""Time bench entries in isolation and capture their plans.

    SPARK_GRAFT_SF_DIR=<sf dir> python scripts/bench_profile.py NAME... \
        [--runs N] [--plans-dir D --suffix S]

Each NAME is an entry of ``bench.ENTRIES``.  The session is the bench's
(``bench.start_session``), and each entry is timed as the bench times it:
one untimed warm-up run, then the median of ``--runs`` runs of the same
build and act.  Next to each timed run's wall time the line gives the
classes Janino compiled during it (0 once the codegen cache holds the
entry's plans).  For a DataFrame entry the line also counts the Exchange
and Python-evaluation nodes of its ``explain("formatted")`` plan, once per
node of the plan tree (the numbered detail blocks below the tree list each
node again and are not counted).  ``--plans-dir`` writes that plan to
``D/<name><S>.txt`` with the ids that differ
between two captures of the same plan normalized (expression ids ``#N``,
``plan_id=N``, ``RDD[N] at localCheckpoint``), so two capture directories
compare with ``diff -r``.  A development tool; the bench does not run it.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402

PYTHON_NODES = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas")
# a node line of a formatted plan's tree, e.g. ``   +- * Project (4)``; the
# detail block of the same node opens ``(4) Project``
TREE_NODE = re.compile(r"^[ :|+\-*]*(\w[\w ]*?) \((\d+)\)$", re.M)


# ids that differ between two captures of one plan: expression ids,
# exchange plan ids, and the RDD id and call site of a checkpointed scan
VOLATILE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^\s,\]]+"), r"RDD[N] at \1"),
)


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    for pattern, repl in VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def plan_shape(plan: str) -> tuple[int, int]:
    """(Exchange nodes, Python-evaluation nodes) in a formatted plan's
    trees, subquery trees included.  A node is counted once by its operator
    id: the tree repeats a cached relation's subtree at every use."""
    nodes = {op_id: name for name, op_id in TREE_NODE.findall(plan)}.values()
    return (sum("Exchange" in n for n in nodes),
            sum(bool(PYTHON_NODES.fullmatch(n)) for n in nodes))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="scripts/bench_profile.py",
                                description=__doc__.split("\n")[0])
    p.add_argument("names", nargs="+", metavar="NAME")
    p.add_argument("--runs", type=int, default=3,
                   help="timed runs after the warm-up (default 3)")
    p.add_argument("--plans-dir", help="write each DataFrame entry's plan here")
    p.add_argument("--suffix", default="",
                   help="plan file name suffix, e.g. _before")
    args = p.parse_args(argv)
    unknown = [n for n in args.names if n not in bench.ENTRIES]
    if unknown:
        p.error(f"not bench entries: {', '.join(unknown)}")
    if args.runs < 1:
        p.error("--runs must be at least 1")

    spark = bench.start_session()
    ctx = bench.BenchContext(spark)
    try:
        for name in args.names:
            built = bench.ENTRIES[name].build(ctx)
            shape = ""
            if isinstance(built, DataFrame):
                plan = formatted_plan(built)
                exchanges, python_nodes = plan_shape(plan)
                shape = (f"  exchanges={exchanges}"
                         f" python_nodes={python_nodes}")
                if args.plans_dir:
                    os.makedirs(args.plans_dir, exist_ok=True)
                    path = os.path.join(args.plans_dir,
                                        f"{name}{args.suffix}.txt")
                    with open(path, "w") as fh:
                        fh.write(plan)
                    shape += f" -> {path}"
            runs = bench.time_entry(ctx, name, args.runs)
            walls = sorted(wall for wall, _ in runs)
            print(f"{name}: median {walls[len(walls) // 2]:.3f}s"
                  f"  samples={[round(wall, 3) for wall, _ in runs]}"
                  f" compiles={[n for _, n in runs]}{shape}", flush=True)
    finally:
        ctx.close()
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
