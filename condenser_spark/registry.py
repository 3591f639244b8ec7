"""Table registry: named Parquet datasets stand in for the reference's RDBMS catalog.

The reference enumerates tables from the live catalog
(/root/reference/psql_database_helper.py:181-188) and round-trips DDL via pg_dump
(/root/reference/psql_database_creator.py:34-54).  With Parquet both collapse: the
dataset directory *is* the catalog and the footer schema *is* the DDL.
"""

from __future__ import annotations

import os
from typing import Iterable
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from condenser_spark.session import ensure_compat

# The fixture universe (TESTDATA.md).  `load_source_tables` discovers whatever
# *.parquet files exist, so this list is a default, not a constraint.
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# source formats the registry can enumerate and read; parquet is the native
# path (self-describing schema, pushdown, pruning) — the others exist because
# real estates keep reference tables in csv/json exports (the reference's
# "two RDBMS dialects" concern becomes a format concern on Spark)
SOURCE_FORMATS: tuple[str, ...] = ("parquet", "csv", "json", "orc")

# spark.sql.parquet.mergeSchema: when true, Spark merges EVERY footer's schema
MERGE_SCHEMA_CONF = "spark.sql.parquet.mergeSchema"
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def load_source_tables(
    spark: SparkSession,
    source_dir: str,
    tables: Iterable[str] | None = None,
    excluded_tables: Iterable[str] = (),
    source_format: str = "parquet",
) -> dict[str, DataFrame]:
    """Read one DataFrame per table from ``source_dir/{name}.{format}``.

    ``excluded_tables`` are dropped from the working set entirely, matching
    /root/reference/direct_subset.py:37 (they exist in the destination with zero
    rows — the engine recreates them empty).

    ``source_format``: parquet (default; pushdown + pruning + self-describing
    schema), csv (header + schema inference — inference scans once; supply
    parquet for 100 TB), json (schema-inferred lines), or orc.

    Parquet schemas are read on the driver from the footer Spark's inference
    would read (:func:`_footer_file`) and passed explicitly, so registering a
    parquet source runs no Spark job.  With ``spark.sql.parquet.mergeSchema``
    set, or when a table has no data file, ``spark.read.parquet`` infers
    instead (merging every footer, or raising Spark's own error).
    """
    if source_format not in SOURCE_FORMATS:
        raise ValueError(
            f"unknown source_format {source_format!r}; one of {SOURCE_FORMATS}"
        )
    ensure_compat(spark)
    suffix = f".{source_format}"
    if tables is None:
        found = sorted(
            f[: -len(suffix)]
            for f in os.listdir(source_dir)
            if f.endswith(suffix)
        )
        tables = found or list(TABLE_NAMES)
    excluded = set(excluded_tables)
    names = [n for n in tables if n not in excluded]
    if source_format != "parquet":
        opts = {"header": True, "inferSchema": True} \
            if source_format == "csv" else {}
        return {
            n: spark.read.load(os.path.join(source_dir, f"{n}{suffix}"),
                               format=source_format, **opts)
            for n in names
        }
    # mergeSchema needs every footer: only Spark's own inference job merges them
    merge = spark.conf.get(MERGE_SCHEMA_CONF, "false").lower() == "true"
    read_parquet = None if merge else _footer_reader(spark)
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(source_dir, f"{name}{suffix}")
        footer = _footer_file(path)
        df = read_parquet(path, footer) if read_parquet and footer else None
        if df is None:
            # no data file (or an unreadable one): Spark infers and raises
            df = spark.read.parquet(path)
        out[name] = _nanos_to_timestamp(df, footer)
    return out


def _hidden(name: str) -> bool:
    """Spark's file-listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    names starting with ``.`` or ``_`` are skipped, except the parquet summary
    files and ``_x=...`` partition directories."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(_SUMMARY_FILES)


def _footer_file(path: str) -> str | None:
    """The file whose footer ``spark.read.parquet(path)`` infers its schema
    from (``ParquetUtils.inferSchema`` without mergeSchema): a
    ``_common_metadata`` summary, else ``_metadata``, else the first data
    file in path order.  None when the dataset holds no such file."""
    if not os.path.isdir(path):
        return path if os.path.isfile(path) else None
    data: list[str] = []
    summaries: dict[str, list[str]] = {}
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for f in files:
            if _hidden(f):
                continue
            full = os.path.join(root, f)
            if f in _SUMMARY_FILES:
                summaries.setdefault(f, []).append(full)
            else:
                data.append(full)
    for kind in _SUMMARY_FILES:
        if kind in summaries:
            return min(summaries[kind])
    return min(data, default=None)


def _footer_reader(spark: SparkSession):
    """``read(path, footer) -> DataFrame | None``: ``path`` read with the
    schema Spark's inference would derive from ``footer``, converted on the
    driver by Spark's own ``ParquetFileFormat.readSchemaFromFooter``.  No
    Spark job runs: ``spark.read.parquet`` launches a one-task
    schema-inference job per table.  The class handles and the converter are
    resolved once here, not per table (py4j round trips dominated the
    per-table cost).  Returns None when the footer cannot be read, so the
    caller lets Spark raise its own error."""
    jvm = spark._jvm
    jspark = spark._jsparkSession
    state = jspark.sessionState()
    hconf = state.newHadoopConf()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = parquet.ParquetToSparkSchemaConverter(state.conf())
    from_footer = parquet.ParquetFileFormat.readSchemaFromFooter
    read_footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    Footer = jvm.org.apache.parquet.hadoop.Footer
    Path = jvm.org.apache.hadoop.fs.Path

    def read(path: str, footer: str) -> DataFrame | None:
        try:
            jpath = Path(footer)
            schema = from_footer(
                Footer(jpath, read_footer(hconf, jpath, skip_row_groups)),
                converter)
        except Py4JJavaError:
            return None
        return DataFrame(
            jspark.read().format("parquet").schema(schema).load(path), spark)

    return read


def _nanos_to_timestamp(df: DataFrame, footer: str | None) -> DataFrame:
    """INT64 TIMESTAMP(NANOS) parquet columns surface as long (see
    session.NANOS_CONF); restore them as microsecond timestamp_ntz — the same
    precision DuckDB and pandas use, so oracles agree.  Only columns that are
    ``timestamp[ns]`` in the footer AND long in Spark: pyarrow also reports
    INT96 (Spark's own timestamp encoding) as ``timestamp[ns]``, but Spark
    reads those as TIMESTAMP already.  Footer-only introspection: O(KB)."""
    if footer is None:
        return df
    nanos = [f.name for f in pq.read_schema(footer)
             if str(f.type) == "timestamp[ns]"]
    if not nanos:
        return df
    longs = {f.name for f in df.schema.fields
             if isinstance(f.dataType, LongType)}
    for c in nanos:
        if c not in longs:
            continue
        # floor division, not `div` (which truncates toward zero):
        # pre-1970 nanos must round DOWN to match DuckDB/pandas ns->us
        df = df.withColumn(
            c,
            F.expr(
                f"cast(timestamp_micros({c} div 1000 + "
                f"(case when {c} % 1000 < 0 then -1 else 0 end)) "
                "as timestamp_ntz)"
            ),
        )
    return df


def empty_like(df: DataFrame) -> DataFrame:
    """Zero-row frame with an identical schema — the Spark analogue of the
    reference's schema-only destination table (/root/reference/psql_database_creator.py:34-54).

    ``limit(0)`` (not ``createDataFrame([], schema)``): the optimizer folds
    it to an empty LocalRelation, so joins/unions over it plan as empty-
    relation propagation and any job over it is a single driver-local task.
    ``createDataFrame([], schema)`` parallelizes to ``defaultParallelism``
    EMPTY partitions — every broadcast build or write touching such a frame
    scheduled one near-empty task PER CORE (32-task jobs over zero rows,
    the dominant core-count-scaling cost of the parquet sink's fixed
    overhead; measured r18)."""
    return df.limit(0)


# Spark lists files on the driver up to this many paths and with a job past
# it; frames reading more files are left to Spark's own count
FILE_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET = (
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat")


def metadata_row_count(df: DataFrame) -> int | None:
    """``df.count()`` read from metadata on the driver, or None.

    Two plan shapes are counted without a Spark job: ``Project`` nodes over
    a parquet scan (the sum of the footers' ``num_rows`` over the relation's
    data files, which are the files Spark reads) and a ``LocalRelation``
    (its row list, e.g. :func:`empty_like`).  Any other shape — a filter,
    limit, sample, union, aggregate, cached or checkpointed frame, a DSv2 or
    non-``file:`` source — returns None, as does a frame over more files
    than Spark lists on the driver (:data:`FILE_THRESHOLD_CONF`) and a
    footer that cannot be read (a corrupt file under
    ``spark.sql.files.ignoreCorruptFiles`` is Spark's to skip)."""
    jspark = df.sparkSession._jsparkSession
    # the analyzed plan with cached data substituted now (the frame's own
    # QueryExecution substitutes once, so it misses a later persist()),
    # optimized only to fold a limit(0) into a LocalRelation: optimizing
    # a plain scan costs more than the rest of the count
    cached = jspark.sharedState().cacheManager().useCachedData(
        df._jdf.queryExecution().analyzed())
    plan = _below_projects(cached)
    if plan.nodeName() != "LogicalRelation":
        plan = _below_projects(
            jspark.sessionState().optimizer().execute(cached))
    kind = plan.nodeName()
    if kind == "LocalRelation":
        return None if plan.isStreaming() else plan.data().size()
    if kind != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getName() != _RELATION
            or rel.fileFormat().getClass().getName() != _PARQUET):
        return None
    files = rel.inputFiles()
    if len(files) > int(df.sparkSession.conf.get(FILE_THRESHOLD_CONF)):
        return None
    paths = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        # the listing keeps the summary files (for schema inference); the
        # scan reads data files only (PartitioningAwareFileIndex.isDataPath)
        name = os.path.basename(parsed.path)
        if not (name.startswith(".")
                or (name.startswith("_") and "=" not in name)):
            paths.append(unquote(parsed.path))
    try:
        return sum(pq.read_metadata(p).num_rows for p in paths)
    except Exception:
        return None


def _below_projects(plan):
    while plan.nodeName() == "Project":
        plan = plan.child()
    return plan


def lookup_df(spark: SparkSession, data, schema) -> DataFrame:
    """Small driver-local lookup frame (query lists, badword sets, blocked
    domains, report rows) as a plan-embedded LocalRelation.

    ``createDataFrame(list)`` parallelizes to ``defaultParallelism`` slices:
    every broadcast build or join over the frame schedules one near-empty
    task PER CORE (~0.4 s of fixed overhead per use at local[32], measured
    r18) and the cost grows with the cluster.  Routing the rows through
    pandas to the Arrow conversion plans a LocalRelation — zero scan tasks,
    and the optimizer can fold it.  The conversion is called directly, not
    through ``createDataFrame``, which takes it only when
    ``spark.sql.execution.arrow.pyspark.enabled`` is set: a session that
    never called ``ensure_compat`` gets a LocalRelation too.  Falls back to
    the plain path for values pandas/Arrow can't represent, and when pandas
    is not installed.

    The pandas frame holds ``object`` columns, so values reach Arrow as the
    Python objects they are: a numeric pandas column would turn an int
    column holding ``None`` into float64 (2**60 + 1 becomes 2**60).  A
    column-name list is given the schema ``createDataFrame(data, names)``
    would infer (an int column with a ``None`` stays long, not double)."""
    data = list(data)
    if not data:
        return spark.createDataFrame(data, schema)
    try:
        import pandas as _pd

        names = None
        if isinstance(schema, (list, tuple)):
            names = list(schema)
            schema = spark._inferSchemaFromList(data, names=names)
        elif isinstance(schema, str):
            schema = spark._parse_ddl(schema)
        pdf = _pd.DataFrame(data, columns=names, dtype=object)
        return spark._create_from_pandas_with_arrow(
            pdf, schema, spark._jconf.sessionLocalTimeZone())
    except Exception:
        return spark.createDataFrame(data, schema)


def write_dest(
    dest: dict[str, DataFrame], dest_dir: str, mode: str = "overwrite"
) -> None:
    """Materialize a destination dict to ``dest_dir/{name}.parquet``.

    Replaces the reference's row-shipping sink (copy_rows,
    /root/reference/psql_database_helper.py:20-62): cursor batching disappears —
    partitioned Parquet writes are the sink.
    """
    for name, df in dest.items():
        df.write.mode(mode).parquet(os.path.join(dest_dir, f"{name}.parquet"))


def write_dest_partitioned(
    dest: dict[str, DataFrame],
    dest_dir: str,
    partition_cols: dict[str, list[str]],
    mode: str = "overwrite",
    derive: dict[str, dict[str, Column]] | None = None,
) -> None:
    """Materialize destination tables as hive-partitioned parquet
    (``dest_dir/{name}.parquet/col=value/...``) — the layout that makes
    partition PRUNING work: a reader filtering on a partition column touches
    only the matching directories, turning a 100 TB scan into a
    partition-sized one (verified by plan test: the read-back scan reports
    the pruned partition count).

    ``partition_cols`` maps table -> partition column list (low-cardinality,
    coarse: a date-derived month, a region key — never a high-cardinality id,
    which would explode into millions of tiny files).  ``derive`` optionally
    maps table -> {new_col: expr} computed before the write (the usual
    ``month = date_trunc(ts)`` case).  Tables absent from ``partition_cols``
    are written flat, exactly like :func:`write_dest`."""
    for name, df in dest.items():
        path = os.path.join(dest_dir, f"{name}.parquet")
        for col, expr in (derive or {}).get(name, {}).items():
            df = df.withColumn(col, expr)
        w = df.write.mode(mode)
        cols = partition_cols.get(name)
        if cols:
            w = w.partitionBy(*cols)
        w.parquet(path)


def write_dest_bucketed(
    dest: dict[str, DataFrame],
    buckets: dict[str, tuple[int, list[str]]],
    name_prefix: str = "dest_b_",
) -> None:
    """Persist destination tables as BUCKETED catalog tables.

    Tables bucketed (and sorted) on their join keys with MATCHING bucket
    counts co-locate: a subsequent equi-join on those keys reads bucket i of
    both sides into the same task — no shuffle on either side.  This is the
    Spark answer for workloads that re-join dest tables repeatedly
    (incremental subset refreshes, closure re-validation, downstream
    analytics): pay the bucketed write once, skip the exchange forever after.

    ``buckets`` maps table name -> (n_buckets, key_columns).  Size
    ``n_buckets`` so a bucket is a few hundred MB at the target scale (e.g.
    100 TB / 256 MB ≈ 400k buckets for the biggest fact table).  Tables not
    in ``buckets`` are skipped (plain ``write_dest`` covers them)."""
    for t, df in dest.items():
        if t not in buckets:
            continue
        n, cols = buckets[t]
        (
            df.write.mode("overwrite")
            .bucketBy(n, *cols)
            .sortBy(*cols)
            .format("parquet")
            .saveAsTable(name_prefix + t)
        )


def teardown_dest(dest_dir: str) -> None:
    """S7 — destination teardown: remove every table dataset under ``dest_dir``
    (the analogue of the reference's drop-all-schemas-cascade,
    /root/reference/psql_database_creator.py:56-67).

    Without this, a stale dest dir holding a table the new config no longer
    produces silently survives a re-run."""
    import shutil

    if not os.path.isdir(dest_dir):
        return
    for entry in os.listdir(dest_dir):
        if entry.endswith(".parquet"):
            path = os.path.join(dest_dir, entry)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
