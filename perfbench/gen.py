"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(profile, seed)``: the same seed
writes the same files.  Inputs land under ``<work>/inputs/<key>/`` and are
reused while that directory holds a ``_meta.json`` (written last, so a
half-written set is regenerated).  Each generator checks its own output
before it is used and records what the workload checks need in the meta.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 7
KEEP_CACHED = 6  # input sets kept on disk; older ones are removed

# Sizes per profile.  "full" is the benchmark of record; "tiny" is the
# smoke profile (one iteration, seconds per workload).
PROFILES = {
    "full": {
        "tpch": {"orders": 40_000, "customers": 4_000, "suppliers": 300,
                 "parts": 5_000, "order_files": 4, "lineitem_files": 4},
        "wide": {"strata": 4, "width": 8, "base_rows": 500, "growth": 3,
                 "cap": 20_000},
        "docs": {"docs": 300, "eval_docs": 30},
        "stream": {"files": 4, "docs_per_file": 150, "landed_docs": 300,
                   "files_per_trigger": 2},
    },
    "tiny": {
        "tpch": {"orders": 3_000, "customers": 300, "suppliers": 20,
                 "parts": 400, "order_files": 2, "lineitem_files": 2},
        "wide": {"strata": 3, "width": 3, "base_rows": 50, "growth": 3,
                 "cap": 500},
        "docs": {"docs": 200, "eval_docs": 20},
        "stream": {"files": 2, "docs_per_file": 60, "landed_docs": 100,
                   "files_per_trigger": 1},
    },
}


class InputError(RuntimeError):
    """A generated input set failed its own check."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise InputError(msg)


def _pool(rng: np.random.Generator, prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix} {i} {rng.integers(1 << 30):x}"
                     for i in range(n)], dtype=object)


def _write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as a directory of ``n_files`` part files, so a scan
    splits across cores the way a Spark-written dataset does."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- subset-tpch

TPCH_EDGES = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def gen_tpch(out: str, p: dict, seed: int) -> dict:
    """TPC-H-shaped tables.  Order keys are a seeded sample of a sparse key
    space, so the 10% ``pmod(o_orderkey, 100) < 10`` target picks a
    different order set per seed."""
    rng = np.random.default_rng([seed, 1])
    n_o, n_c, n_s, n_p = (p["orders"], p["customers"], p["suppliers"],
                          p["parts"])
    comments = _pool(rng, "comment", 2_000)
    d0 = np.datetime64("1992-01-01")

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int64),
        "r_name": [f"REGION{i}" for i in range(5)],
        "r_comment": comments[:5].tolist(),
    })
    tables["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int64),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": rng.integers(0, 5, 25),
        "n_comment": comments[5:30].tolist(),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_c + 1)],
        "c_nationkey": rng.integers(0, 25, n_c),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_c),
        "c_comment": rng.choice(comments, n_c).tolist(),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(1, n_s + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_s + 1)],
        "s_nationkey": rng.integers(0, 25, n_s),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2),
        "s_comment": rng.choice(comments, n_s).tolist(),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(1, n_p + 1, dtype=np.int64),
        "p_name": rng.choice(comments, n_p).tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, n_p)],
        "p_size": rng.integers(1, 51, n_p),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_p), 2),
        "p_comment": rng.choice(comments, n_p).tolist(),
    })
    okeys = rng.choice(n_o * 4, n_o, replace=False).astype(np.int64) + 1
    odate = d0 + rng.integers(0, 2400, n_o).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_c + 1, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_o), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_o),
        "o_comment": rng.choice(comments, n_o).tolist(),
    })
    per_order = rng.integers(1, 8, n_o)
    n_l = int(per_order.sum())
    lidx = np.repeat(np.arange(n_o), per_order)
    starts = np.cumsum(per_order) - per_order
    ship = odate[lidx] + rng.integers(1, 122, n_l).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": okeys[lidx],
        "l_partkey": rng.integers(1, n_p + 1, n_l),
        "l_suppkey": rng.integers(1, n_s + 1, n_l),
        "l_linenumber": (np.arange(n_l) - starts[lidx] + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_l), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_l), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_shipdate": ship,
        "l_shipmode": rng.choice(
            ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], n_l),
        "l_comment": rng.choice(comments, n_l).tolist(),
    })

    src = os.path.join(out, "source")
    files = {"orders": p["order_files"], "lineitem": p["lineitem_files"]}
    for name, t in tables.items():
        _write_parts(t, os.path.join(src, f"{name}.parquet"),
                     files.get(name, 1))

    # self-check from the written files: every FK value exists in its target
    def col(t: str, c: str) -> np.ndarray:
        return pq.read_table(os.path.join(src, f"{t}.parquet"),
                             columns=[c]).column(0).to_numpy()

    for fk_t, fk_c, tg_t, tg_c in TPCH_EDGES:
        _check(bool(np.isin(col(fk_t, fk_c), col(tg_t, tg_c)).all()),
               f"tpch: {fk_t}.{fk_c} has values missing from {tg_t}.{tg_c}")
    _check(len(np.unique(col("orders", "o_orderkey"))) == n_o,
           "tpch: order keys are not unique")
    expected_orders = int((col("orders", "o_orderkey") % 100 < 10).sum())
    _check(0 < expected_orders < n_o, "tpch: empty or full orders sample")

    config = {
        "initial_targets": [
            {"table": "orders", "percent": 10, "sample_key": "o_orderkey"}],
        "passthrough_tables": ["region"],
        "excluded_tables": [],
        "dependency_breaks": [],
        "fk_augmentation": [
            {"fk_table": a, "fk_columns": [b], "target_table": c,
             "target_columns": [d]} for a, b, c, d in TPCH_EDGES],
        "upstream_filters": [],
        "keep_disconnected_tables": True,
        "seed": 42,
    }
    with open(os.path.join(out, "config.json"), "w") as f:
        json.dump(config, f)
    return {
        "source_rows": sum(t.num_rows for t in tables.values()),
        "expected_orders": int(expected_orders),
    }


# ---------------------------------------------------------------- subset-wide

def wide_table_name(k: int, j: int) -> str:
    return f"w{k}_{j:02d}"


def gen_wide(out: str, p: dict, seed: int) -> dict:
    """A layered FK DAG: ``strata`` × ``width`` tables; every table below
    the first stratum has two FKs into two distinct tables of the stratum
    above.  Row counts grow ``growth``× per stratum up to ``cap``."""
    rng = np.random.default_rng([seed, 2])
    n_k, width = p["strata"], p["width"]
    src = os.path.join(out, "source")
    rows = [min(p["base_rows"] * p["growth"] ** k, p["cap"])
            for k in range(n_k)]
    ids: dict[str, np.ndarray] = {}
    edges = []
    total = 0
    for k in range(n_k):
        n = rows[k]
        for j in range(width):
            name = wide_table_name(k, j)
            pk = rng.choice(n * 10, n, replace=False).astype(np.int64)
            cols = {"id": pk}
            if k > 0:
                a, b = rng.choice(width, 2, replace=False)
                for fk, parent in (("p1", a), ("p2", b)):
                    tg = wide_table_name(k - 1, int(parent))
                    cols[fk] = rng.choice(ids[tg], n)
                    edges.append((name, fk, tg, "id"))
            cols["val"] = rng.integers(0, 1 << 40, n)
            cols["tag"] = [f"t{v}" for v in rng.integers(0, 1000, n)]
            _write_parts(pa.table(cols),
                         os.path.join(src, f"{name}.parquet"), 1)
            ids[name] = pk
            total += n
    for fk_t, fk_c, tg_t, _ in edges:
        got = pq.read_table(os.path.join(src, f"{fk_t}.parquet"),
                            columns=[fk_c]).column(0).to_numpy()
        _check(bool(np.isin(got, ids[tg_t]).all()),
               f"wide: {fk_t}.{fk_c} has values missing from {tg_t}.id")
    mid = max(1, n_k // 2)
    targets = [wide_table_name(mid - 1, 0), wide_table_name(mid, width // 2)]
    config = {
        "initial_targets": [
            {"table": t, "percent": 10, "sample_key": "id"} for t in targets],
        "passthrough_tables": [],
        "excluded_tables": [],
        "dependency_breaks": [],
        "fk_augmentation": [
            {"fk_table": a, "fk_columns": [b], "target_table": c,
             "target_columns": [d]} for a, b, c, d in edges],
        "upstream_filters": [],
        "keep_disconnected_tables": False,
        "seed": 42,
    }
    with open(os.path.join(out, "config.json"), "w") as f:
        json.dump(config, f)
    return {"source_rows": total, "tables": n_k * width}


# ---------------------------------------------------------------- documents

_STOPS = ("the", "and", "of", "to", "that", "with", "for", "this", "from",
          "have", "is", "on")
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


class _Writer:
    """Seeded prose: lines of 6-12 words ending in a period, about one
    word in five a stop word, and every line's second word one of Gopher's
    stop words in turn, so any two lines pass Gopher's two-stop-word rule.
    Words are drawn in blocks, so a corpus of thousands of documents
    generates in well under a second."""

    BLOCK = 1 << 16

    def __init__(self, rng: np.random.Generator, vocab: int = 6_000):
        self.rng = rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(3, 9, vocab)
        self.vocab = np.array(
            ["".join(rng.choice(letters, n)) for n in lens], dtype=object)
        w = 1.0 / np.arange(1, vocab + 1) ** 0.9
        self.p = w / w.sum()
        self.buf: list[str] = []
        self.pos = 0
        self.lines = 0

    def words(self, n: int) -> list[str]:
        if self.pos + n > len(self.buf):
            block = self.rng.choice(self.vocab, self.BLOCK, p=self.p)
            stop = self.rng.random(self.BLOCK) < 0.2
            block[stop] = np.array(_STOPS, dtype=object)[
                self.rng.integers(len(_STOPS), size=int(stop.sum()))]
            self.buf, self.pos = block.tolist(), 0
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return out

    def line(self, n: int | None = None) -> str:
        words = self.words(n or int(self.rng.integers(6, 13)))
        words[1] = _GOPHER_STOPS[self.lines % len(_GOPHER_STOPS)]
        self.lines += 1
        return " ".join(words) + "."

    def doc(self, n_lines: int | None = None) -> str:
        n_lines = n_lines or int(self.rng.integers(9, 14))
        return "\n".join(self.line() for _ in range(n_lines))


def _mix(rng: np.random.Generator, n: int, shares: dict) -> np.ndarray:
    """``n`` kind labels in seeded order, each kind's count fixed by its
    share, so every seed plants the same number of each kind."""
    counts = {k: int(round(v * n)) for k, v in shares.items()}
    first = next(iter(shares))
    counts[first] += n - sum(counts.values())
    return rng.permutation(np.repeat(list(counts), list(counts.values())))


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string()),
                     "lang": pa.array(["en"] * len(ids), pa.string())})


def gen_docs(out: str, p: dict, seed: int) -> dict:
    """A corpus in which every curate stage has something to drop:
    6% C4 failures (a code brace or too few full-sentence lines), 6%
    Gopher failures (too few words), 6% near-duplicates of plain docs,
    2.5% docs that quote an eval doc (the decontamination twins), and a
    13% on-topic slice whose vocabulary the DSIR target model is trained
    on."""
    rng = np.random.default_rng([seed, 3])
    wr = _Writer(rng)
    n, n_eval = p["docs"], p["eval_docs"]
    topic = wr.vocab[rng.choice(len(wr.vocab), 200, replace=False)]
    eval_texts = [wr.doc(6) for _ in range(n_eval)]

    kinds = _mix(rng, n, {"plain": 0.665, "c4_bad": 0.06, "short": 0.06,
                          "near_dup": 0.06, "twin": 0.025, "topic": 0.13})
    texts: list[str] = []
    twins: list[int] = []
    for i, kind in enumerate(kinds):
        if kind == "near_dup":
            t = ""  # filled in below, once every plain doc exists
        elif kind == "c4_bad":
            t = wr.doc() + ("\n{ var x = 1; }" if i % 2 else "")
            if i % 2 == 0:  # full sentences turned into fragments
                t = "\n".join(ln.rstrip(".") for ln in t.split("\n"))
        elif kind == "short":
            t = "\n".join(wr.line(6) for _ in range(6))  # 36 words < 50
        elif kind == "twin":
            ev = eval_texts[int(rng.integers(n_eval))].split("\n")
            t = wr.doc(8) + "\n" + "\n".join(ev[:3])
            twins.append(i)
        elif kind == "topic":
            lines = [" ".join(["the"] + rng.choice(topic, 10).tolist()
                              + ["of", "it"]) + "." for _ in range(10)]
            t = "\n".join(lines)
        else:
            t = wr.doc()
        texts.append(t)
    # each near-duplicate copies a distinct plain doc with one word
    # changed, so every cluster has exactly two members
    near = np.flatnonzero(kinds == "near_dup")
    bases = rng.choice(np.flatnonzero(kinds == "plain"), len(near),
                       replace=False)
    for i, b in zip(near, bases):
        words = texts[b].split(" ")
        words[int(rng.integers(len(words)))] = "edited"
        texts[i] = " ".join(words)

    _write_parts(_docs_table(list(range(n)), texts),
                 os.path.join(out, "docs.parquet"), 4)
    _write_parts(_docs_table(list(range(n_eval)), eval_texts),
                 os.path.join(out, "eval.parquet"), 1)
    target = ["\n".join(" ".join(rng.choice(topic, 12).tolist()) + "."
                        for _ in range(10)) for _ in range(max(50, n // 20))]
    _write_parts(_docs_table(list(range(len(target))), target),
                 os.path.join(out, "target.parquet"), 1)

    counts = {k: int((kinds == k).sum()) for k in np.unique(kinds)}
    for k in ("c4_bad", "short", "near_dup", "twin", "topic"):
        _check(0 < counts.get(k, 0) < n, f"docs: no {k!r} documents planted")
    return {"source_rows": n, "twins": len(twins), "twin_ids": twins,
            "dsir_k": n // 10, "kinds": counts}


def gen_stream(out: str, p: dict, seed: int) -> dict:
    """Incoming stream files plus a landed corpus.  Of the incoming docs,
    20% resend landed lines (line dedup cuts them), 10% quote landed text
    re-wrapped onto one line (only the k-gram probe finds it), 14% are
    mostly landed lines and fall under Gopher's word floor once cut, and
    6% fail C4 outright."""
    rng = np.random.default_rng([seed, 4])
    wr = _Writer(rng)
    landed = [wr.doc() for _ in range(p["landed_docs"])]
    landed_lines = [ln for d in landed for ln in d.split("\n")]
    _write_parts(_docs_table(list(range(len(landed))), landed),
                 os.path.join(out, "landed.parquet"), 1)

    src = os.path.join(out, "incoming")
    os.makedirs(src)
    n_file = p["docs_per_file"]
    kinds = _mix(rng, p["files"] * n_file,
                 {"plain": 0.5, "resend": 0.2, "quote": 0.1,
                  "mostly_landed": 0.14, "c4_bad": 0.06})
    for f in range(p["files"]):
        ids, texts = [], []
        for i in range(n_file):
            doc_id = f * n_file + i
            kind = kinds[doc_id]
            if kind == "resend":
                pick = rng.choice(len(landed_lines), 3, replace=False)
                t = wr.doc() + "\n" + "\n".join(landed_lines[j] for j in pick)
            elif kind == "quote":  # landed text re-wrapped onto one line
                lines = landed[int(rng.integers(len(landed)))].split("\n")
                t = wr.doc() + "\n" + " ".join(lines[1:4])
            elif kind == "mostly_landed":
                pick = rng.choice(len(landed_lines), 8, replace=False)
                t = "\n".join([wr.line(6) for _ in range(3)]
                              + [landed_lines[j] for j in pick])
            elif kind == "c4_bad":
                t = wr.doc() + "\nlorem ipsum dolor sit amet."
            else:
                t = wr.doc()
            ids.append(doc_id)
            texts.append(t)
        pq.write_table(_docs_table(ids, texts),
                       os.path.join(src, f"part-{f:05d}.parquet"))
    counts = {k: int((kinds == k).sum()) for k in np.unique(kinds)}
    for k in ("plain", "resend", "quote", "mostly_landed", "c4_bad"):
        _check(counts.get(k, 0) > 0, f"stream: no {k!r} documents")
    return {"source_rows": p["files"] * n_file, "kinds": counts,
            "files_per_trigger": p["files_per_trigger"]}


GENERATORS = {"tpch": gen_tpch, "wide": gen_wide, "docs": gen_docs,
              "stream": gen_stream}


def inputs(work: str, kind: str, profile: str, seed: int) -> tuple[str, dict]:
    """Return ``(directory, meta)`` of the ``kind`` input set for
    ``(profile, seed)``, generating it first when it is not cached."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"{kind}-{profile}-s{seed}-v{GEN_VERSION}")
    meta_path = os.path.join(out, "_meta.json")
    if os.path.exists(meta_path):
        os.utime(out)
        with open(meta_path) as f:
            return out, json.load(f)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    t0 = time.perf_counter()
    meta = GENERATORS[kind](out, PROFILES[profile][kind], seed)
    meta["gen_s"] = time.perf_counter() - t0
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    _prune(root, keep=out)
    return out, meta


def _prune(root: str, keep: str) -> None:
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in sets[KEEP_CACHED:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
