"""Batch Parquet-on-object-storage ingestion (reference S3/S4/S5 +
run_batch DAG, main_batch.py:431-503) rebuilt Spark-first.

Key design upgrade over the reference (SURVEY §3.1 note): the reference
reads EVERY notified file and discards rows of unrouted files after the
read; here files are routed FIRST and only routed files are read — at
100 TB the difference is the whole scan cost of unrouted data.

Reading happens per config so each source keeps its own concrete schema
(never union heterogeneous sources, SURVEY §1.3) and Spark's vectorized
reader + row-group splits replace the reference's hand-rolled
20 000-row Arrow batching (main_batch.py:87-94 — OOM safety that
``spark.sql.files.maxPartitionBytes`` provides natively).

Driver-held lists (the glob listing, the unmatched files, the empty
result, each ledger row) become Arrow ``LocalRelation`` frames through
``session.local_frame``, never Python RDDs: building, collecting or
writing them starts no Python worker, and only the write runs a job.

A parquet config's schema is read from one footer on the driver
(``footer_schema_reader``), the footer Spark's own inference would
read, and handed to the reader: planning a batch runs no Spark job.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gcs_parquet_dataflow_spark.config.model import SourceConfig
from gcs_parquet_dataflow_spark.operators.routing import files_by_config
from gcs_parquet_dataflow_spark.plans.compiler import (
    CompilerOptions,
    CompiledTransform,
    compile_config,
    split_dlq,
)
from gcs_parquet_dataflow_spark.session import local_frame

URI_COL = "_uri"
URIS_SCHEMA = StructType([StructField("uri", StringType())])
EVENTS_SCHEMA = StructType([
    StructField("event_json", StringType()),
    StructField("_error", StructType([
        StructField("error_type", StringType()),
        StructField("reason", StringType()),
    ])),
])
LEDGER_SCHEMA = StructType([
    StructField("unit", StringType()),
    StructField("status", StringType()),
    StructField("seq", LongType()),
])


def read_with_lineage(
    spark: SparkSession,
    paths: str | list[str],
    file_type: str = "PARQUET",
    schema=None,
) -> DataFrame:
    """Typed file read with per-row file lineage (reference tags every
    batch with its filename, main.py:482-485 ``with_filename=True``).
    ``file_type`` extends the reference's parquet-only surface to the
    other formats the config model can declare: JSON(L), CSV (CSV
    wants an explicit ``schema`` — inference costs an extra pass and
    types drift; the columnar formats carry their own), and ORC
    (Spark-native columnar like parquet: vectorized scan, predicate
    pushdown, self-describing schema)."""
    if isinstance(paths, str):
        paths = [paths]
    ft = file_type.upper()
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if ft == "PARQUET":
        df = reader.parquet(*paths)
    elif ft in ("JSON", "JSONL"):
        df = reader.json(*paths)
    elif ft == "CSV":
        if schema is None:
            reader = reader.option("inferSchema", True)
        df = reader.option("header", True).csv(*paths)
    elif ft == "ORC":
        df = reader.orc(*paths)
    else:
        raise ValueError(f"unsupported file_type {file_type!r}")
    return df.withColumn(URI_COL, F.input_file_name())


def list_files(spark: SparkSession, pattern: str) -> DataFrame:
    """Expand a glob to a one-column DataFrame of file URIs (reference
    fileio.MatchAll, main_batch.py:452-457). Uses the same Hadoop
    FileSystem machinery as the DataSource, so gs:// works when the GCS
    connector jar is present. The listing is already on the driver, so
    the frame is an Arrow ``LocalRelation`` (never a Python RDD):
    routing and collecting it run no Spark job."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = path.getFileSystem(conf)
    statuses = fs.globStatus(path)
    uris = (
        [str(s.getPath().toString()) for s in statuses] if statuses is not None else []
    )
    return local_frame(spark, [uris], URIS_SCHEMA)


def footer_schema_reader(
    spark: SparkSession,
) -> Callable[[list[str]], StructType | None]:
    """→ ``read(files)``: the schema ``spark.read.parquet(*files)`` infers,
    read from one footer on the driver instead of in a Spark job.

    With ``mergeSchema`` off Spark's inference reads exactly one footer:
    that of the first data file in path order, skipping ``_``/``.``
    names. ``read`` reads the same footer through the Hadoop FileSystem
    and converts it as Spark does (``ParquetToSparkSchemaConverter``
    over the session conf, then ``ParquetFileFormat.readSchemaFromFooter``,
    which prefers the schema Spark writes into the footer's row
    metadata), nullable like every inferred file schema. It returns None
    where Spark would not read one footer (``mergeSchema`` on, no data
    file) or the footer fails to read (a missing, empty or torn file);
    the caller then lets Spark infer, which raises Spark's own error.
    The JVM classes are looked up once per reader: build one per batch."""
    jvm = spark.sparkContext._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter(state.conf())
    footer_reader, file_format = pq.ParquetFooterReader, pq.ParquetFileFormat
    footer_cls = jvm.org.apache.parquet.hadoop.Footer
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    path_cls = jvm.org.apache.hadoop.fs.Path
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"

    def read(files: list[str]) -> StructType | None:
        # Spark sorts by Java String order: UTF-16 code units
        data = [
            u for u in sorted(files, key=lambda u: u.encode("utf-16-be"))
            if not _hidden(u.rstrip("/").rsplit("/", 1)[-1])
        ]
        if merge or not data:
            return None
        path = path_cls(data[0])
        try:
            meta = footer_reader.readFooter(
                input_file.fromPath(path, hconf), skip_row_groups
            )
            schema = file_format.readSchemaFromFooter(footer_cls(path, meta), converter)
        except Py4JJavaError:
            return None
        return StructType.fromJson(json.loads(schema.asNullable().json()))

    return read


def _hidden(name: str) -> bool:
    """Names Spark's file index never reads (``isDataPath``)."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


@dataclass
class RoutedBatch:
    """One config's routed slice of a batch backfill."""

    config: SourceConfig
    files: list[str]
    df: DataFrame  # source rows, lineage column attached
    compiled: CompiledTransform

    def events(self) -> DataFrame:
        """→ DataFrame[event_json, _error] for this source."""
        return self.compiled.serialize(self.df.drop(URI_COL))


def plan_batch(
    spark: SparkSession,
    configs: list[SourceConfig],
    pattern: str,
    opts: CompilerOptions | None = None,
    parquet_only: bool = True,
) -> tuple[list[RoutedBatch], DataFrame]:
    """Route files matching ``pattern`` to configs, then build per-config
    read+transform plans. → (routed batches, unmatched-file DataFrame).

    Mirrors the batch DAG (match → route → co-group → read → transform,
    main_batch.py:452-489) minus the CoGroupByKey shuffle: routing is an
    inline expression and the "join" of files to configs happens on the
    driver over the file *list* (tiny), never over row data.

    Planning runs no Spark job. The listing, its routing and the
    unmatched frame are Arrow ``LocalRelation`` frames, never Python
    RDDs, and each parquet config's schema comes from one footer read
    on the driver (``footer_schema_reader``); other file types keep
    Spark's inference.
    """
    by_config, unmatched = files_by_config(
        list_files(spark, pattern), configs, parquet_only=parquet_only
    )
    cfg_by_id = {c.config_id: c for c in configs}
    batches = []
    read_footer = None
    for config_id, files in by_config.items():
        config = cfg_by_id[config_id]
        schema = None
        if config.file_type.upper() == "PARQUET":
            read_footer = read_footer or footer_schema_reader(spark)
            schema = read_footer(files)
        df = read_with_lineage(spark, files, file_type=config.file_type, schema=schema)
        if schema is None:
            schema = df.drop(URI_COL).schema
        compiled = compile_config(config, schema, opts)
        batches.append(RoutedBatch(config, files, df, compiled))
    # built from the names the routing collect already holds
    return batches, local_frame(spark, [unmatched], URIS_SCHEMA)


def run_batch(
    spark: SparkSession,
    configs: list[SourceConfig],
    pattern: str,
    opts: CompilerOptions | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full batch pipeline → (events, dlq, unmatched_files).

    Event/DLQ outputs are homogeneous (event_json string + error struct)
    so the per-config branches union safely AFTER serialization.
    """
    batches, unmatched = plan_batch(spark, configs, pattern, opts)
    events_parts = [b.events() for b in batches]
    if not events_parts:
        empty = local_frame(spark, [[], []], EVENTS_SCHEMA)
        return empty, empty, unmatched
    all_events = events_parts[0]
    for p in events_parts[1:]:
        all_events = all_events.unionByName(p)
    ok, dlq = split_dlq(all_events)
    return ok, dlq, unmatched


# ---------------------------------------------------------------------------
# Resumable backfill: a ledger-driven partition-at-a-time driver
# ---------------------------------------------------------------------------


def backfill(
    spark: SparkSession,
    units: list[str],
    process: Callable[[str], None],
    ledger_path: str,
    rerun_failed: bool = True,
) -> dict[str, str]:
    """Drive a backfill over named work units (day partitions, file
    groups, table shards) with a PERSISTED ledger — the operational
    wrapper the reference's ``run_batch`` (main_batch.py:431-503)
    leaves to the operator: re-invoking the same backfill after a crash
    or a partial run processes only units the ledger doesn't already
    mark done, so the whole job is resumable and idempotent as long as
    each unit's ``process`` is (the lake writers here are — batch-keyed
    or overwrite-per-partition).

    The ledger is an append-only parquet table of (unit, status, seq);
    the latest row per unit (highest ``seq``) wins, and resuming reads it
    with one action. Each record appends one part file. A ledger that
    exists but cannot be read fails the call before any unit runs. Returns {unit: final_status}
    for this invocation. Failures are recorded (status='failed') and re-raised
    only after every unit has been attempted, so one bad partition
    doesn't strand the rest of the backfill.
    """
    try:
        ledger = spark.read.parquet(ledger_path)
    except AnalysisException as e:
        # no ledger yet: the path is absent or holds no committed file.
        # Any other read error (a torn part, no permission) propagates:
        # reading it as empty would re-run every unit and restart seq.
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        state, seq0 = {}, 0
    else:
        from pyspark.sql import Window as W

        w = W.partitionBy("unit").orderBy(F.desc("seq"))
        latest = (
            ledger.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("unit", "status", "seq")
        ).collect()
        state = {r["unit"]: r["status"] for r in latest}
        # the max seq is some unit's latest row: no second action
        seq0 = max((r["seq"] for r in latest), default=0)

    def record(unit: str, status: str, seq: int) -> None:
        local_frame(spark, [[unit], [status], [seq]], LEDGER_SCHEMA).write.mode(
            "append"
        ).parquet(ledger_path)

    results: dict[str, str] = {}
    errors: list[tuple[str, Exception]] = []
    seq = seq0
    for unit in units:
        prev = state.get(unit)
        if prev == "done" or (prev == "failed" and not rerun_failed):
            results[unit] = prev
            continue
        seq += 1
        try:
            process(unit)
        except Exception as e:  # noqa: BLE001 — recorded, re-raised below
            record(unit, "failed", seq)
            results[unit] = "failed"
            errors.append((unit, e))
            continue
        record(unit, "done", seq)
        results[unit] = "done"
    if errors:
        unit, e = errors[0]
        raise RuntimeError(
            f"backfill: {len(errors)} unit(s) failed, first: {unit}: {e}"
        ) from e
    return results


def read_resilient(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Read a parquet directory tolerating corrupt members: files whose
    footer/pages fail to decode are SKIPPED (per-read
    ``ignoreCorruptFiles`` option — scoped to this reader, never the
    session) instead of failing the whole 100 TB job because one
    upload was torn. Pair with :func:`quarantine_corrupt_files` to
    report exactly which files were dropped — silent-skip without the
    report is how datasets lose days of data unnoticed."""
    reader = spark.read.option("ignoreCorruptFiles", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def quarantine_corrupt_files(
    spark: SparkSession, pattern: str
) -> tuple[list[str], list[str]]:
    """Probe every file matching ``pattern`` and split (readable,
    corrupt) by validating the parquet footer — the audit companion to
    :func:`read_resilient`.

    Probes run on the DRIVER over the file LIST (the same small-side
    contract as plan_batch's listing): fine up to tens of thousands of
    files; beyond that, shard the pattern (per day/prefix) through the
    ``backfill`` ledger so each unit probes its own slice."""
    import pyarrow.parquet as pq

    ok, bad = [], []
    for r in list_files(spark, pattern).collect():
        uri = r["uri"]
        local = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            pq.read_schema(local)
            ok.append(uri)
        except Exception:
            bad.append(uri)
    return ok, bad
