"""The workloads.  Each is driven the same way by ``run.py``:

* ``setup(spark)`` — timed into ``setup_s`` (after the session starts):
  source registration and the model/index builds a workload reuses;
* ``reference(spark)`` — untimed, once, after the cold iteration: anything
  the output checks need;
* ``iterate(spark, i)`` — one closed-loop iteration, timed;
* ``check(result)`` — a list of problems with that iteration's output.

The program sees only the generated files under the input directory.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

import pyarrow.parquet as pq

DOC_SCHEMA = "doc_id long, text string, lang string"


def parquet_rows(path: str) -> int:
    """Rows in a parquet dataset directory, from the part-file footers."""
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.ParquetFile(
                    os.path.join(dirpath, f)).metadata.num_rows
    return total


def tree_stats(path: str) -> tuple[int, int]:
    """(parquet part files, bytes of all files) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(dirpath, f))
            files += f.endswith(".parquet")
    return files, size


class Workload:
    """``inputs`` maps each input kind (a ``gen.GENERATORS`` key) named in
    ``INPUTS`` to its ``(dir, meta)``; a plain workload names one kind."""

    INPUTS: tuple[str, ...] = ()
    # untimed warm-up iterations between the cold one and the timed ones
    WARMUP = 0
    # timed iterations a run measures at the least, however long they take
    MIN_WARM = 2

    def __init__(self, inputs: dict, scratch: str) -> None:
        (self.inp, self.meta), = (inputs[k] for k in self.INPUTS)
        self.scratch = scratch
        self.source_rows = self.meta["source_rows"]
        self.first: object = None  # first iteration's output, for checks

    def setup(self, spark) -> None:
        pass

    def reference(self, spark) -> None:
        pass

    def layer_counts(self) -> dict:
        """Counters only the workload can see, for the iteration just
        checked."""
        return {}

    def job_groups(self) -> list[str]:
        """Job groups besides the iteration's own that the last iteration's
        jobs ran under (a streaming query sets its own)."""
        return []

    def _same_as_first(self, got, what: str) -> list[str]:
        if self.first is None:
            self.first = got
            return []
        return [] if got == self.first else [f"{what} differ from iteration 0"]


class SubsetTpch(Workload):
    """The CLI lifecycle, parquet barrier: teardown, load, subset, hooks,
    RI validation, report."""

    INPUTS = ("tpch",)
    # the first iterations after the cold one still speed up as the JIT
    # compiles (5.7, 5.3, 4.9, 4.7 s, then ~4.5 s), so one is left untimed;
    # iterations take ~5 s, so a 10 s window would hold two, whose median is
    # their mean, and a third lets the median drop one disturbed iteration
    WARMUP = 1
    MIN_WARM = 3

    def setup(self, spark) -> None:
        from condenser_spark.config import SubsetConfig
        from condenser_spark.registry import load_source_tables

        self.cfg_path = os.path.join(self.inp, "config.json")
        SubsetConfig.from_json(self.cfg_path)  # fail in setup, not in a run
        self.dest = os.path.join(self.scratch, "dest")
        # source registration, as the CLI does it at the start of every
        # iteration
        load_source_tables(spark, os.path.join(self.inp, "source"))

    def iterate(self, spark, i: int):
        from condenser_spark.__main__ import main

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = main([self.cfg_path, "--source",
                       os.path.join(self.inp, "source"), "--dest", self.dest,
                       "--materialize", "parquet"], spark=spark)
        return rc, out.getvalue()

    def check(self, result) -> list[str]:
        rc, report = result
        errs = [] if rc == 0 else [f"CLI exit code {rc}"]
        tables = sorted(d[:-len(".parquet")] for d in os.listdir(self.dest)
                        if d.endswith(".parquet"))
        counts = {t: parquet_rows(os.path.join(self.dest, f"{t}.parquet"))
                  for t in tables}
        if counts.get("orders") != self.meta["expected_orders"]:
            errs.append(f"dest orders {counts.get('orders')} != "
                        f"{self.meta['expected_orders']} sampled keys")
        if "orders: " not in report:
            errs.append("no tabulation printed")
        files, size = tree_stats(self.dest)
        self.dest_files, self.dest_bytes = files, size
        return errs + self._same_as_first(counts, "per-table dest counts")

    def layer_counts(self) -> dict:
        return {"engine.dest_files": self.dest_files}


class SubsetWide(Workload):
    """SubsetEngine with the in-memory (localCheckpoint) barrier over a
    wide, deep FK DAG: many tables, few rows each."""

    INPUTS = ("wide",)

    def setup(self, spark) -> None:
        from condenser_spark.config import SubsetConfig
        from condenser_spark.registry import load_source_tables

        self.cfg = SubsetConfig.from_json(
            os.path.join(self.inp, "config.json"))
        self.source = load_source_tables(
            spark, os.path.join(self.inp, "source"))

    def iterate(self, spark, i: int):
        from condenser_spark.engine import SubsetEngine

        eng = SubsetEngine(spark, self.cfg, self.source,
                           materialize="checkpoint")
        eng.run()
        rows = eng.report().collect()
        return {r.table_name: (r.source_count, r.dest_count) for r in rows}

    def check(self, result) -> list[str]:
        errs = []
        for t in self.cfg.initial_target_tables:
            if not result.get(t, (0, 0))[1]:
                errs.append(f"target {t} is empty")
        if len(result) != self.meta["tables"]:
            errs.append(f"report has {len(result)} tables")
        if any(d > s for s, d in result.values()):
            errs.append("a dest table is larger than its source")
        return errs + self._same_as_first(result, "report rows")


class CurateDocs(Workload):
    """curate_corpus: C4, Gopher, near dedup, decontamination, DSIR."""

    INPUTS = ("docs",)

    def setup(self, spark) -> None:
        from condenser_spark.functions.dedup import build_shingle_bloom
        from condenser_spark.functions.dsir import train_hashed_ngram_lm

        def read(name):
            return spark.read.schema(DOC_SCHEMA).parquet(
                os.path.join(self.inp, name))

        self.docs = read("docs.parquet")
        self.eval = read("eval.parquet")
        # models and the eval index are built once and reused by every
        # iteration
        self.target_lm = train_hashed_ngram_lm(
            read("target.parquet")).localCheckpoint()
        self.raw_lm = train_hashed_ngram_lm(self.docs).localCheckpoint()
        self.eval_bloom = build_shingle_bloom(self.eval, n=8)

    def iterate(self, spark, i: int):
        from condenser_spark.curate import curate_corpus

        cur, rep = curate_corpus(
            self.docs, c4=True, gopher=True, dedup="near",
            eval_df=self.eval, decontaminate_opts={"bloom": self.eval_bloom},
            dsir_opts={"target_lm": self.target_lm, "raw_lm": self.raw_lm,
                       "k": self.meta["dsir_k"]})
        report = [tuple(r) for r in rep.collect()]
        kept = sorted(r.doc_id for r in cur.select("doc_id").collect())
        return report, kept

    def check(self, result) -> list[str]:
        report, kept = result
        errs = []
        by = {r[0]: r for r in report}
        for stage in ("c4_clean", "gopher_rules", "near_dedup",
                      "decontaminate", "dsir_select"):
            r = by.get(stage)
            if r is None:
                errs.append(f"stage {stage} missing from the report")
            elif not 0 < r[3] < r[1]:
                errs.append(f"stage {stage} dropped {r[3]} of {r[1]}")
        if "dsir_select" in by and by["dsir_select"][2] != self.meta["dsir_k"]:
            errs.append(f"dsir_select kept {by['dsir_select'][2]}, "
                        f"not k={self.meta['dsir_k']}")
        if "decontaminate" in by and \
                by["decontaminate"][3] < 0.9 * self.meta["twins"]:
            errs.append(f"decontaminate dropped {by['decontaminate'][3]} "
                        f"of {self.meta['twins']} planted twins")
        if set(kept) & set(self.meta["twin_ids"]):
            errs.append("a planted eval twin survived the chain")
        return errs + self._same_as_first(result, "report rows or kept ids")

    def stage_names(self) -> list[str]:
        return [r[0] for r in (self.first or ([], []))[0]]


class CurateStream(Workload):
    """curate_stream over a real readStream into a parquet sink, drained
    with an availableNow trigger."""

    INPUTS = ("stream",)
    K = 20
    TIMEOUT_S = 120

    def _stages(self) -> dict:
        # ExactSubstr rewrites text as one space-joined line, so C4's
        # default five-line floor would drop every document after it
        # (NOTES.md, "Known defects"); the line floor is set to one here.
        return {"line_bloom": self.line_bloom, "kgram_bloom": self.kgram_bloom,
                "k": self.K, "c4": {"min_kept_lines": 1}, "gopher": True}

    def setup(self, spark) -> None:
        from condenser_spark.streaming.textdedup import (
            build_kgram_bloom,
            build_line_bloom,
        )

        landed = spark.read.schema(DOC_SCHEMA).parquet(
            os.path.join(self.inp, "landed.parquet"))
        self.line_bloom = build_line_bloom(landed)
        self.kgram_bloom = build_kgram_bloom(landed, k=self.K)
        self.incoming = os.path.join(self.inp, "incoming")

    def reference(self, spark) -> None:
        from condenser_spark.streaming.curate import curate_stream

        batch = spark.read.schema(DOC_SCHEMA).parquet(self.incoming)
        self.expected = curate_stream(batch, **self._stages()).count()

    def iterate(self, spark, i: int):
        from condenser_spark.streaming.curate import curate_stream

        sink = os.path.join(self.scratch, "sink")
        ckpt = os.path.join(self.scratch, "checkpoint")
        for d in (sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        src = (spark.readStream.schema(DOC_SCHEMA)
               .option("maxFilesPerTrigger", self.meta["files_per_trigger"])
               .parquet(self.incoming))
        q = (curate_stream(src, **self._stages()).writeStream
             .format("parquet").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start(sink))
        if not q.awaitTermination(self.TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"stream not drained in {self.TIMEOUT_S} s")
        self.progress = q.recentProgress
        self.run_id = str(q.runId)
        return parquet_rows(sink)

    def check(self, result) -> list[str]:
        errs = []
        if result != self.expected:
            errs.append(f"sink holds {result} rows, batch curate_stream "
                        f"gives {self.expected}")
        if not 0 < result < self.source_rows:
            errs.append(f"stream kept {result} of {self.source_rows}")
        return errs

    def layer_counts(self) -> dict:
        def total(key):
            return sum(p.durationMs.get(key, 0) for p in self.progress) / 1e3

        batches = sum(1 for p in self.progress if p.numInputRows)
        return {"streaming.batches": batches,
                "streaming.add_batch_s": total("addBatch"),
                "streaming.query_planning_s": total("queryPlanning"),
                "streaming.wal_commit_s": total("walCommit")}

    def job_groups(self) -> list[str]:
        return [self.run_id]


class Curate(Workload):
    """Batch curation of a corpus, then ingest-time curation of incoming
    files: one :class:`CurateDocs` iteration followed by one
    :class:`CurateStream` drain, sharing one session."""

    INPUTS = ("docs", "stream")

    def __init__(self, inputs: dict, scratch: str) -> None:
        self.docs = CurateDocs(inputs, scratch)
        self.stream = CurateStream(inputs, scratch)
        self.source_rows = self.docs.source_rows + self.stream.source_rows

    def setup(self, spark) -> None:
        self.docs.setup(spark)
        self.stream.setup(spark)

    def reference(self, spark) -> None:
        self.stream.reference(spark)

    def iterate(self, spark, i: int):
        return self.docs.iterate(spark, i), self.stream.iterate(spark, i)

    def check(self, result) -> list[str]:
        return self.docs.check(result[0]) + self.stream.check(result[1])

    def layer_counts(self) -> dict:
        return self.stream.layer_counts()

    def job_groups(self) -> list[str]:
        return self.stream.job_groups()

    def stage_names(self) -> list[str]:
        return self.docs.stage_names()


WORKLOADS = {
    "subset-tpch": SubsetTpch,
    "curate": Curate,
    "subset-wide": SubsetWide,
}
