"""CLI entry point — the Spark analogue of ``python direct_subset.py``
(/root/reference/direct_subset.py:16-28):

    python -m condenser_spark config.json --source SRC_DIR --dest DEST_DIR
    python -m condenser_spark --stdin --source SRC_DIR --dest DEST_DIR < config.json

Lifecycle mirrors the reference end to end (direct_subset.py:27-66):
teardown dest -> load source tables -> middle-out subset -> pre-constraint
hooks -> RI validation (the constraint-application analogue) -> post-subset
hooks -> write dest parquet -> print the subset-ratio tabulation.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m condenser_spark",
        description="Referentially-intact subsetting of parquet datasets on Spark",
    )
    p.add_argument("config", nargs="?", default=None,
                   help="path to the subset config JSON")
    p.add_argument("--stdin", action="store_true",
                   help="read config JSON from stdin (reference parity: "
                        "direct_subset.py --stdin)")
    p.add_argument("--source", required=True,
                   help="source directory of {table}.parquet datasets")
    p.add_argument("--dest", required=True,
                   help="destination directory (torn down first)")
    p.add_argument("--source-format", default="parquet",
                   choices=["parquet", "csv", "json", "orc"],
                   help="table file format under --source")
    p.add_argument("--materialize", default="parquet",
                   choices=["none", "persist", "checkpoint", "parquet"],
                   help="phase-barrier mode; 'parquet' (default) writes each "
                        "table as it lands — the scale-safe barrier")
    p.add_argument("-v", "--verbose", action="store_true",
                   help="log per-phase wall times to stderr (reference -v "
                        "parity)")
    return p


def main(argv: list[str] | None = None,
         spark: SparkSession | None = None) -> int:
    from condenser_spark.config import SubsetConfig
    from condenser_spark.engine import SubsetEngine
    from condenser_spark.registry import (
        load_source_tables,
        teardown_dest,
        write_dest,
    )
    from condenser_spark.session import get_spark

    args = build_parser().parse_args(argv)
    if args.stdin:
        cfg = SubsetConfig.from_dict(json.load(sys.stdin))
    elif args.config:
        cfg = SubsetConfig.from_json(args.config)
    else:
        print("error: provide a config path or --stdin", file=sys.stderr)
        return 2

    owns_session = spark is None
    spark = spark or get_spark("condenser-subset")
    # -v shows the engine's INFO records only: the root logger stays as it
    # is, since INFO elsewhere can cost jobs (functions.dedup counts the
    # hot keys it drops when INFO is on)
    engine_log = logging.getLogger("condenser_spark.engine")
    level = engine_log.level
    handler = logging.StreamHandler(sys.stderr) if args.verbose else None
    if handler:
        engine_log.addHandler(handler)
        engine_log.setLevel(logging.INFO)
    try:
        teardown_dest(args.dest)  # S7: stale tables must not survive
        source = load_source_tables(spark, args.source,
                                    source_format=args.source_format)
        eng = SubsetEngine(
            spark, cfg, source,
            dest_path=args.dest if args.materialize == "parquet" else None,
            materialize=args.materialize,
        )
        eng.run()  # phases + hooks + RI validation (raises when not closed)
        if args.materialize != "parquet":
            # parquet mode already materialized every table into dest
            write_dest(eng.dest, args.dest)
        else:
            # tables only touched as empty schema replicas still need a write
            for t, df in eng.dest.items():
                if not os.path.exists(os.path.join(args.dest, f"{t}.parquet")):
                    write_dest({t: df}, args.dest)
        # A3 tabulation (/root/reference/result_tabulator.py:6-22); sorted
        # here, since a global sort plans a range exchange even over the
        # report's LocalRelation
        rows = sorted(eng.report().collect(), key=lambda r: r.table_name)
        for row in rows:
            print(f"{row.table_name}: {row.source_count} -> {row.dest_count} "
                  f"({row.percent:.2f}%)")
        eng.cleanup()
        return 0
    finally:
        if handler:
            engine_log.removeHandler(handler)
            engine_log.setLevel(level)
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
