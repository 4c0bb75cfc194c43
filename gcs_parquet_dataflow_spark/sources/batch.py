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
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs_parquet_dataflow_spark.config.model import SourceConfig
from gcs_parquet_dataflow_spark.operators.routing import files_by_config
from gcs_parquet_dataflow_spark.plans.compiler import (
    CompilerOptions,
    CompiledTransform,
    compile_config,
    split_dlq,
)

URI_COL = "_uri"


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
    connector jar is present."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = path.getFileSystem(conf)
    statuses = fs.globStatus(path)
    uris = (
        [str(s.getPath().toString()) for s in statuses] if statuses is not None else []
    )
    return spark.createDataFrame([(u,) for u in uris], "uri string")


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
    """
    by_config, unmatched = files_by_config(
        list_files(spark, pattern), configs, parquet_only=parquet_only
    )
    cfg_by_id = {c.config_id: c for c in configs}
    batches = []
    for config_id, files in by_config.items():
        config = cfg_by_id[config_id]
        df = read_with_lineage(spark, files, file_type=config.file_type)
        schema_wo_lineage = df.drop(URI_COL).schema
        compiled = compile_config(config, schema_wo_lineage, opts)
        batches.append(RoutedBatch(config, files, df, compiled))
    return batches, unmatched


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
        empty = spark.createDataFrame(
            [], "event_json string, _error struct<error_type:string,reason:string>"
        )
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

    The ledger is an append-only parquet table of (unit, status); the
    latest row per unit wins. Returns {unit: final_status} for this
    invocation. Failures are recorded (status='failed') and re-raised
    only after every unit has been attempted, so one bad partition
    doesn't strand the rest of the backfill.
    """
    try:
        ledger = spark.read.parquet(ledger_path)
        from pyspark.sql import Window as W

        w = W.partitionBy("unit").orderBy(F.desc("seq"))
        latest = (
            ledger.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("unit", "status")
        )
        state = {r["unit"]: r["status"] for r in latest.collect()}
        seq0 = ledger.agg(F.max("seq")).first()[0] or 0
    except Exception:
        state, seq0 = {}, 0

    def record(unit: str, status: str, seq: int) -> None:
        spark.createDataFrame(
            [(unit, status, seq)], "unit string, status string, seq long"
        ).write.mode("append").parquet(ledger_path)

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
