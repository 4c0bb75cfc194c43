"""Partitioned-parquet lake sink: the engine's durable sink for DLQ
records (reference K2 publishes DLQ bytes to Pub/Sub, main.py:497-502 —
a lake table is the Spark-native equivalent: queryable, joinable,
re-drivable) and for materialized operator outputs (sketch tables,
feature tables).

Scale contract:

- **Partition columns are the read-side pruning interface**: a reader
  filtering on them scans only matching directories (PartitionFilters
  in the plan, verified by tests/test_parquet_lake.py). Partition by
  low-cardinality routing keys (config_id, error_type, date) — never
  high-cardinality ones (file-count explosion).
- **Idempotent re-runs** for streaming `foreachBatch` side-writes: pass
  ``batch_id`` and the write lands under a batch-keyed subdirectory with
  dynamic partition overwrite — replaying a micro-batch overwrites its
  own output instead of duplicating it (SURVEY §7 hard part 6).
- Writer parallelism = input partitions; ``coalesce_files`` caps small-
  file count for low-volume DLQ streams.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriterError(RuntimeError):
    """A second writer was detected on a lake path during a staged-swap
    commit (VERDICT r10 item 2).  Every staged-swap maintenance job
    (upsert / compact / optimize_table / compact_batch_shards /
    compact_golden_log / compact_bloom_lake / compact_cosine_index)
    assumes a single writer; this error is the DETECTION arm of that
    contract — raised loudly before any destructive step, never after
    corruption.  Recovery: wait for (or break, via
    :func:`break_swap_lease`, if the holder crashed) the conflicting
    writer, then re-run — every maintenance op is idempotent."""


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "append",
    batch_id: int | None = None,
    coalesce_files: int | None = None,
    bloom_filter_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a partitioned parquet table.

    With ``batch_id``, the batch id becomes the leading partition column
    and the write uses dynamic partition overwrite — the idempotency key
    for streaming replays.

    ``bloom_filter_cols`` embeds a split-block bloom filter per row
    group for the named columns — the point-lookup complement to
    min/max zones: range layouts (write_sorted/write_zordered) prune
    range scans, blooms prune ``key = X`` probes on HIGH-CARDINALITY
    unsorted columns (id lookups on a time-laid-out table), where
    min/max spans are useless. Readers (Spark's vectorized reader
    included) skip row groups whose bloom rejects the literal.

    Writes are FENCED against in-flight staged-swap maintenance
    (:func:`check_swap_lease`): appending into a table a maintenance
    job read moments ago would be silently lost when the job's swap
    replaces the table — the fence turns that lost update into a loud
    :class:`ConcurrentWriterError`.  In a foreachBatch handler that
    error FAILS THE STREAMING QUERY (Spark does not auto-retry a
    failed batch in-process); the checkpoint replays the batch on the
    next restart, after the maintenance lease is gone."""
    check_swap_lease(df.sparkSession, path)
    # appends land in the table's CURRENT version dir (resolve_table):
    # after the first maintenance commit the flat path is a retained
    # stale copy, and an append written there would be invisible to
    # every versioned reader — silently lost at the next retention
    target = resolve_table(df.sparkSession, path)
    writer_df = df
    parts = list(partition_by)
    dynamic = False
    if batch_id is not None:
        writer_df = writer_df.withColumn("_batch_id", F.lit(int(batch_id)))
        parts = ["_batch_id", *parts]
        mode = "overwrite"
        dynamic = True
    if coalesce_files is not None:
        writer_df = writer_df.coalesce(coalesce_files)
    writer = writer_df.write.mode(mode)
    if dynamic:
        # per-write option, NOT session conf — mutating the session would
        # silently change overwrite semantics for unrelated writers
        writer = writer.option("partitionOverwriteMode", "dynamic")
    for c in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(target)


def write_dlq(
    dlq: DataFrame,
    path: str,
    batch_id: int | None = None,
    error_col: str = "_error",
) -> None:
    """Persist a DLQ split (compiler ``split_dlq`` output) partitioned by
    error_type — the triage query ("show me all missing_required_field
    rows from yesterday") is a pruned scan."""
    flat = dlq.withColumn("error_type", F.col(f"{error_col}.error_type")).withColumn(
        "error_reason", F.col(f"{error_col}.reason")
    ).drop(error_col)
    write_partitioned(
        flat, path, ["error_type"], batch_id=batch_id, coalesce_files=8
    )


def write_sorted(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet globally range-ordered on ``range_cols``:
    ``repartitionByRange`` gives each output file a DISJOINT key range,
    ``sortWithinPartitions`` orders rows inside, so every file's footer
    min/max stats form non-overlapping zones — a reader filtering on the
    sort key skips whole files/row-groups (verified by
    tests/test_parquet_lake.py reading the footers). The layout step
    that makes time-series / key-range scans cheap at 100 TB."""
    parted = (
        df.repartitionByRange(n_files, *range_cols)
        if n_files
        else df.repartitionByRange(*range_cols)
    )
    parted.sortWithinPartitions(*range_cols).write.mode(mode).parquet(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read a lake table back; partition columns come from directory
    names and filters on them prune at planning time.  Alias of
    :func:`read_table` — resolves the table's latest committed sibling
    version (round 12), so reads racing a maintenance commit always
    see one complete version."""
    return read_table(spark, path)


# ---------------------------------------------------------------------------
# Sibling-versioned tables: non-destructive, reader-atomic maintenance
# commits (VERDICT r11 next-round item 1)
# ---------------------------------------------------------------------------
#
# Every staged-swap maintenance family (upsert / compact / optimize_table /
# compact_batch_shards / compact_golden_log / compact_bloom_lake /
# compact_cosine_index) used to commit by delete→rename of the table dir
# itself — readers racing the window saw an absent or partial table, and
# an unfenced writer landing in the microseconds between the epoch
# re-check and the delete could collide with the rename.  Since round 12
# the commit is a RENAME-ONLY version flip: the staged result becomes the
# next immutable sibling dir ``<path>__v%08d`` (committed = rename done +
# parquet ``_SUCCESS`` inside), and the live table is simply the highest
# committed version.  Nothing is deleted at flip time; the PREVIOUS
# version (or the pre-versioning flat dir) stays readable until the
# post-flip retention sweep, so a reader that resolved the old version
# keeps scanning intact files for a full maintenance cycle.  A racing
# writer can only lose the optimistic version-id race — never data.
#
# Readers go through :func:`resolve_table` / :func:`read_table`; a table
# that was never maintained resolves to its plain flat dir, so the
# scheme is invisible until the first maintenance commit.  Retention
# (``commit(..., retain=N)``, default 2 = live + one predecessor) is the
# vacuum: bounded storage, Delta-VACUUM-style reader window.

_TABLE_VERSION_SUFFIX = "__v"
_TABLE_VERSION_FMT = _TABLE_VERSION_SUFFIX + "%08d"
TABLE_RETAIN_VERSIONS = 2


def table_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed sibling versions of the maintained table at ``path``
    (ascending; empty for a flat/never-maintained table).  Committed =
    the ``<path>__vNNNNNNNN`` rename finished AND the dir carries the
    parquet committer's ``_SUCCESS`` (a torn copy on a non-atomic store
    never qualifies).  One parent-dir glob — manifest-cost."""
    fs, _, jvm = _fs_and_path(spark, path)
    base = path.rstrip("/")
    matches = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(base + _TABLE_VERSION_SUFFIX + "*")
    )
    if matches is None:
        return []
    prefix_len = len(
        jvm.org.apache.hadoop.fs.Path(base).getName()
    ) + len(_TABLE_VERSION_SUFFIX)
    out = []
    for st in matches:
        tail = st.getPath().getName()[prefix_len:]
        if (
            st.isDirectory()
            and len(tail) == 8
            and tail.isdigit()
            and fs.exists(
                jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            )
        ):
            out.append(int(tail))
    return sorted(out)


def resolve_table(spark: SparkSession, path: str) -> str:
    """The physical directory the table at ``path`` currently lives in:
    the highest committed sibling version if the table has ever been
    maintained, else ``path`` itself (flat legacy layout).  Every
    engine read and append of a maintained path goes through this —
    a raw ``spark.read.parquet(path)`` on a maintained table reads the
    retained PREVIOUS state (stale, exactly like reading a Delta
    table's files without its log)."""
    vs = table_versions(spark, path)
    if not vs:
        return path
    return path.rstrip("/") + _TABLE_VERSION_FMT % vs[-1]


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the maintained table at ``path`` — latest committed version
    (see :func:`resolve_table`).  The DataFrame pins the resolved
    directory, so a maintenance commit that lands mid-query never pulls
    files out from under the scan: the retained old version stays
    intact until the retention sweep of the commit AFTER next.

    ``version=`` time-travels to a specific RETAINED committed version
    (ids from :func:`table_versions` / :func:`table_history`) — the
    maintenance-rollback/debug read, bounded by the retention window
    exactly like Delta's ``VERSION AS OF`` after VACUUM.  Raises
    ``ValueError`` naming the retained ids when the version is gone
    (vacuumed) or never existed — never a silent empty read."""
    if version is None:
        return spark.read.parquet(resolve_table(spark, path))
    vs = table_versions(spark, path)
    if version not in vs:
        raise ValueError(
            f"version {version} of {path} is not retained "
            f"(committed versions: {vs or 'none'}); maintenance "
            "retention already swept it, or it never committed"
        )
    return spark.read.parquet(
        path.rstrip("/") + _TABLE_VERSION_FMT % version
    )


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """The retained states of a maintained table as a DataFrame —
    (version, committed, is_live, n_files, bytes), newest first.  The
    flat pre-versioning dir (when still retained) appears as version
    -1; an in-flight or torn sibling copy (dir present, no ``_SUCCESS``)
    appears with committed=false so operators can SEE a crashed commit
    instead of inferring it from raw listings.  Driver-side parent-dir
    glob + per-dir stats — manifest-cost, no executor work; the ops
    companion to :func:`read_table`'s ``version=`` time travel."""
    fs, hpath, jvm = _fs_and_path(spark, path)
    base = path.rstrip("/")
    committed = set(table_versions(spark, path))
    states: list[tuple] = []
    matches = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(base + _TABLE_VERSION_SUFFIX + "*")
    )
    prefix_len = len(
        jvm.org.apache.hadoop.fs.Path(base).getName()
    ) + len(_TABLE_VERSION_SUFFIX)
    for st in matches or []:
        tail = st.getPath().getName()[prefix_len:]
        if st.isDirectory() and len(tail) == 8 and tail.isdigit():
            v = int(tail)
            n, b = data_file_stats(spark, base + _TABLE_VERSION_FMT % v)
            states.append((v, v in committed, False, n, b))
    if fs.exists(hpath):
        n, b = data_file_stats(spark, path)
        states.append((-1, True, False, n, b))
    live = resolve_table(spark, path)
    states = [
        (v, c, (base + _TABLE_VERSION_FMT % v if v >= 0 else base) == live
         and c, n, b)
        for v, c, _, n, b in states
    ]
    return spark.createDataFrame(
        sorted(states, reverse=True),
        "version long, committed boolean, is_live boolean, "
        "n_files long, bytes long",
    )


def table_exists(spark: SparkSession, path: str) -> bool:
    """True iff the maintained table exists in either layout — any
    committed sibling version, or the flat dir itself.  The
    existence check streams must use for their first-batch
    bootstrap: after retention removes the flat remnant,
    ``fs.exists(path)`` is False while the table is alive in its
    version dirs — a raw exists-check would re-initialize a live
    lake from one batch (the upsert-stream data-loss class)."""
    if table_versions(spark, path):
        return True
    fs, hpath, _ = _fs_and_path(spark, path)
    return bool(fs.exists(hpath))


def vacuum_table(
    spark: SparkSession, path: str, keep_last: int = 1,
    dry_run: bool = False,
) -> list[int]:
    """Delete all but the newest ``keep_last`` committed versions of a
    maintained table (and the flat pre-versioning remnant, once at
    least ``keep_last`` versions exist); returns the version ids
    removed.  ``commit(..., retain=N)`` runs this automatically after
    every flip — call directly only to reclaim deeper history.  Only
    run with no reader older than the retained window (the standard
    VACUUM caveat).  ``dry_run=True`` returns the ids that WOULD be
    removed without touching anything (the flat remnant, reported as
    -1, drops under the same ``len(versions) >= keep_last`` rule)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = table_versions(spark, path)
    fs, hpath, jvm = _fs_and_path(spark, path)
    base = path.rstrip("/")
    doomed = vs[:-keep_last] if len(vs) > keep_last else []
    if dry_run:
        if len(vs) >= keep_last and fs.exists(hpath):
            return doomed + [-1]
        return list(doomed)
    for v in doomed:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(base + _TABLE_VERSION_FMT % v),
            True,
        )
    if len(vs) >= keep_last and fs.exists(hpath):
        # the flat dir is the oldest "version": drop it once the
        # version chain alone satisfies the retention window
        fs.delete(hpath, True)
    return doomed


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _list_data_files(fs, hpath) -> list[tuple[str, int]]:
    """Recursive (data-file path, size) listing under ``hpath`` —
    skips ``_``/``.`` names (_SUCCESS, checksums, markers, staging).

    The py4j RemoteIterator costs ~4 JVM round trips per file (measured
    12 s on an 838-file index — r13); on ``file:`` paths one native
    ``os.walk`` is milliseconds, so local filesystems take that branch.
    Callers only ever compare outputs of the same path/scheme, so the
    two branches' path-string formats never mix."""
    if not fs.exists(hpath):
        return []
    uri = hpath.toUri()
    if (uri.getScheme() or "file") == "file":
        local = uri.getPath()
        if os.path.isfile(local):  # as listFiles does: the file itself
            name = os.path.basename(local)
            return [] if name.startswith(("_", ".")) else [(local, os.path.getsize(local))]
        out = []
        for dirpath, _dirs, files in os.walk(local):
            for fn in files:
                if not fn.startswith(("_", ".")):
                    full = os.path.join(dirpath, fn)
                    try:
                        out.append((full, os.path.getsize(full)))
                    except OSError:
                        continue  # raced deletion — same as iterator skip
        return out
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        out.append((st.getPath().toString(), st.getLen()))
    return out


def data_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path`` via the Hadoop
    FileSystem API — works on any Hadoop-compatible store (local, HDFS,
    gs://, s3a://), not just the local disk tests run on. A path that is
    one data file counts that file; a missing path raises
    ``FileNotFoundError`` rather than reading as an empty table."""
    fs, hpath, _ = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(f"data_file_stats: no such path {path}")
    files = _list_data_files(fs, hpath)
    return len(files), sum(sz for _, sz in files)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite the table at ``path`` into
    ``ceil(total_bytes / target_file_bytes)`` files (per table; with
    ``partition_by`` the layout is preserved and sizing applies across
    the whole table). Returns (files_before, files_after).

    The operational problem this solves at 100 TB: streaming and
    per-batch writers leave thousands of KB-sized files per partition;
    scan planning then pays one task + one open per file. Periodic
    compaction to ~128 MB restores scan efficiency.

    Write protocol (round 12): stage to ``<path>__compact_staging``,
    then flip it to the next committed sibling version (see
    ``resolve_table`` — a single rename, reader-atomic, the previous
    version retained until the post-flip retention sweep), under the
    single-writer :func:`swap_lease` (mutual exclusion against other
    maintenance, lost-update detection against concurrent appenders —
    a second writer raises :class:`ConcurrentWriterError` before the
    flip).
    """
    import math

    recover_staged_swap(spark, path)
    with swap_lease(spark, path, "compact") as lease:
        files_before, total = data_file_stats(spark, lease.resolved)
        n_out = max(1, math.ceil(total / target_file_bytes))
        df = spark.read.parquet(lease.resolved)
        staging = path.rstrip("/") + "__compact_staging"
        writer_df = df.repartition(n_out)
        writer = writer_df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        # a silently-ignored rename failure would strand the result in
        # staging — lease.commit fails loudly instead (ADVICE r9 on
        # compact_bloom_lake; the same rule at every swap site)
        lease.commit(staging)
    _refresh_manifest(spark, path)
    files_after, _ = data_file_stats(spark, resolve_table(spark, path))
    return files_before, files_after


def _refresh_manifest(spark: SparkSession, path: str) -> bool:
    """Re-derive the zone-map manifest at ``<path>__manifest`` over the
    table's CURRENT resolved dir, keeping the column set the existing
    manifest tracks (round 12): before this, any maintenance other than
    ``optimize_table`` left the manifest pointing at the superseded
    version, silently degrading every ``read_skipping`` to the exact
    unpruned scan until the next optimize run.  No-op (False) when the
    table has no manifest.  Cost: one stats scan of the table — the
    same scan optimize_table already pays; same in-place manifest
    overwrite semantics (readers of a torn manifest fall back to the
    exact scan, the documented degradation)."""
    manifest_path = path.rstrip("/") + "__manifest"
    fs, _, jvm = _fs_and_path(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(manifest_path)):
        return False
    try:
        mcols = [
            c[len("min_"):]
            for c in spark.read.parquet(manifest_path).columns
            if c.startswith("min_")
        ]
    except Exception:
        return False  # torn/unreadable manifest: leave the fallback path
    if not mcols:
        return False
    collect_file_stats(spark, path, mcols).write.mode("overwrite").parquet(
        manifest_path
    )
    return True


_SWAP_SUFFIXES = (
    "__upsert_staging", "__compact_staging", "__optimize_staging",
    # additive batch-shard lakes (streaming/pipeline.compact_batch_shards)
    "__shards_compact_staging",
    # ER golden log fold (streaming/pipeline.compact_golden_log)
    "__golden_compact_staging",
    # incremental-dedup bloom fold (operators/incremental.compact_bloom_lake)
    "__bloom_compact_staging",
    # streaming cosine bucket index fold (operators/similarity.compact_cosine_index)
    "__cosine_index_compact_staging",
)


def recover_staged_swap(spark: SparkSession, path: str) -> bool:
    """Complete a stage→delete→rename table swap interrupted between
    its delete and rename (upsert / compact / optimize_table all
    commit this way): if the destination is absent but a staging dir
    holds a COMPLETE table (marked by the parquet committer's
    ``_SUCCESS`` — a torn staging write never qualifies), rename it
    into place and return True.  Idempotent no-op otherwise.  Callers
    that treat an absent path as "uninitialized" MUST run this first,
    or a crashed commit looks like a fresh lake (data loss).
    Absent-dest + torn-staging is unreachable under the writers'
    ordering (the delete only runs after a successful staging write),
    so at most one recoverable staging can exist.

    VERSIONED tables (round 12) have no delete→rename window — the
    commit is a pure rename onto the next sibling version — so a table
    with any committed version returns False immediately: an absent
    flat dir is the NORMAL retention state there, not a crash, and a
    leftover staging is just a crashed run's payload that the re-run
    overwrites.  This branch keeps healing pre-r12 flat-table crash
    states (and the lease of a holder that died mid-swap)."""
    if table_versions(spark, path):
        return False
    fs, hpath, jvm = _fs_and_path(spark, path)
    if fs.exists(hpath):
        return False
    for suffix in _SWAP_SUFFIXES:
        spath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + suffix)
        if fs.exists(spath) and fs.exists(
            jvm.org.apache.hadoop.fs.Path(spath, "_SUCCESS")
        ):
            if not fs.rename(spath, hpath):
                raise IOError(
                    f"staged-swap recovery failed: {spath} -> {hpath}"
                )
            # the holder of any leftover lease is dead by construction
            # (the delete→rename window only stays open across a crash,
            # or for the microseconds a live rename takes — and a live
            # holder whose rename now fails re-raises and releases) —
            # clear it so the next maintenance run isn't blocked
            fs.delete(_lease_hpath(jvm, path), False)
            return True
    return False


# ---------------------------------------------------------------------------
# Single-writer lease for staged-swap maintenance (VERDICT r10 item 2)
# ---------------------------------------------------------------------------

_LEASE_SUFFIX = "__swap_lease"


def _lease_hpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + _LEASE_SUFFIX)


def read_swap_lease(spark: SparkSession, path: str) -> dict | None:
    """The lease record currently held on ``path`` (None if unheld):
    {op, pid, acquired_unix_ms} as written by :func:`swap_lease`."""
    fs, _, jvm = _fs_and_path(spark, path)
    lp = _lease_hpath(jvm, path)
    if not fs.exists(lp):
        return None
    stream = fs.open(lp)
    try:
        data = bytes(
            [stream.read() & 0xFF for _ in range(fs.getFileStatus(lp).getLen())]
        )
    finally:
        stream.close()
    try:
        return json.loads(data.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return {"op": "<unreadable>", "pid": -1, "acquired_unix_ms": 0}


def break_swap_lease(spark: SparkSession, path: str) -> bool:
    """Operator tool: forcibly remove a lease whose holder crashed
    BEFORE its destructive step (dest intact, staging torn or stale —
    the one crash state :func:`recover_staged_swap` cannot clear,
    because dest-present cannot distinguish a live holder from a dead
    one).  Returns True if a lease was removed.  Only break a lease
    after confirming the holder is gone — breaking a LIVE holder's
    lease re-opens the race the lease exists to close."""
    fs, _, jvm = _fs_and_path(spark, path)
    return bool(fs.delete(_lease_hpath(jvm, path), False))


def check_swap_lease(spark: SparkSession, path: str) -> None:
    """Raise :class:`ConcurrentWriterError` if a maintenance lease is
    held on ``path`` — the writer-side half of the single-writer
    contract, called by :func:`write_partitioned` so a streaming
    appender fails LOUDLY — terminating the streaming query, whose
    checkpoint replays the batch on restart — instead of appending
    into a table a maintenance job is about to swap out.  One
    ``fs.exists`` per write — manifest-cost, not data-cost."""
    lease = read_swap_lease(spark, path)
    if lease is not None:
        age_s = (time.time() * 1000 - lease.get("acquired_unix_ms", 0)) / 1000
        raise ConcurrentWriterError(
            f"maintenance lease held on {path} by op={lease.get('op')!r} "
            f"pid={lease.get('pid')} (age {age_s:.1f}s): writes are fenced "
            f"until it completes; if the holder crashed before its "
            f"delete→rename, run break_swap_lease"
        )


def _dest_epoch(fs, hpath, jvm) -> frozenset:
    """Commit-conflict fingerprint of the destination table: the set of
    data-file paths under it.  Parquet part files are uuid-named (the
    read_skipping staleness argument), so ANY concurrent append,
    overwrite, or rewrite between snapshot and commit changes the set.
    Listing-cost only — never reads data (an epoch was paid once at
    lease acquire and once at commit; the local-FS fast path in
    :func:`_list_data_files` is what keeps that affordable — r13)."""
    return frozenset(p for p, _ in _list_data_files(fs, hpath))


class _SwapLeaseHandle:
    def __init__(self, spark: SparkSession, path: str, op: str):
        self._spark = spark
        self._path = path
        self._op = op
        fs, hpath, jvm = _fs_and_path(spark, path)
        self._fs, self._hpath, self._jvm = fs, hpath, jvm
        # epoch over the RESOLVED dir: that is where fenced appends land
        # and what the maintenance job read — the flat dir and older
        # versions are immutable-by-contract once superseded
        self.resolved = resolve_table(spark, path)
        self._rpath = jvm.org.apache.hadoop.fs.Path(self.resolved)
        self.epoch = _dest_epoch(fs, self._rpath, jvm)

    def commit(
        self, staging: str, retain: int = TABLE_RETAIN_VERSIONS
    ) -> int:
        """The guarded VERSION FLIP (round 12 — previously a destructive
        delete→rename): re-fingerprint the table's resolved dir and
        ABORT (staging preserved, lease released by the context exit,
        nothing deleted) if any writer changed it since the lease
        snapshotted it — the lost-update check against appenders that
        bypass :func:`check_swap_lease`.  Then rename the staging dir
        to the next committed sibling version ``<path>__v%08d`` — a
        single rename, so readers either resolve the old version
        (complete, still on disk) or the new one (complete, renamed
        whole with its ``_SUCCESS``); there is no state in which the
        table is absent or partial.  An unfenced writer racing the
        microsecond between re-check and rename can at worst land rows
        in the SUPERSEDED version — never deleted at flip time, so the
        rows are recoverable from it until retention — instead of
        colliding with a delete.  The optimistic id loop and the
        local-FS nested-rename recovery are the ``write_version``
        protocol (round 11), re-used here.  After the flip,
        :func:`vacuum_table` trims to ``retain`` versions (default 2:
        live + one predecessor, so in-flight readers of the previous
        version finish their scans).  Returns the committed version
        id."""
        now = _dest_epoch(self._fs, self._rpath, self._jvm)
        if now != self.epoch:
            raise ConcurrentWriterError(
                f"{self._op}: destination {self._path} changed during the "
                f"maintenance run ({len(self.epoch)} -> {len(now)} data "
                f"files): aborting before the flip; result preserved at "
                f"{staging}; re-run to fold in the concurrent writes"
            )
        jvm = self._jvm
        spath = jvm.org.apache.hadoop.fs.Path(staging)
        staging_name = spath.getName()
        base = self._path.rstrip("/")
        committed = None
        for _ in range(16):
            vs = table_versions(self._spark, self._path)
            nxt = (vs[-1] + 1) if vs else 0
            vpath = jvm.org.apache.hadoop.fs.Path(
                base + _TABLE_VERSION_FMT % nxt
            )
            if self._fs.exists(vpath):
                continue  # raced by another committer; re-derive
            if not self._fs.rename(spath, vpath):
                continue  # vpath appeared between exists and rename
            nested = jvm.org.apache.hadoop.fs.Path(vpath, staging_name)
            if self._fs.exists(nested):
                # local-FS rename-into-existing-dir: pull the staging
                # back out and retry under the next id (same hazard +
                # recovery as write_version's commit loop)
                if not self._fs.rename(nested, spath):
                    raise IOError(
                        f"{self._op}: nested-staging recovery failed: "
                        f"{nested}"
                    )
                continue
            committed = nxt
            break
        if committed is None:
            raise IOError(
                f"{self._op} commit failed after 16 attempts: "
                f"{staging} -> {self._path} (staging preserved)"
            )
        vacuum_table(self._spark, self._path, keep_last=retain)
        return committed


@contextlib.contextmanager
def swap_lease(spark: SparkSession, path: str, op: str, owner: str | None = None):
    """Single-writer mutual exclusion + lost-update detection for every
    staged-swap maintenance job (VERDICT r10 item 2).  Usage::

        recover_staged_swap(spark, path)
        with swap_lease(spark, path, "compact") as lease:
            ...read path, write staging...
            lease.commit(staging)

    Acquire is a create-no-overwrite of ``<path>__swap_lease``
    (atomic on HDFS; object stores need their conditional-put flag;
    on the LOCAL filesystem Hadoop's RawLocalFileSystem implements
    overwrite=false as exists-check-then-create, a TOCTOU window in
    which two local maintenance jobs can both acquire — there the
    dest-epoch re-check in ``commit`` is the real lost-update guard,
    and mutual exclusion is best-effort) recording
    {op, pid, owner, acquired_unix_ms} — a second
    maintenance job raises :class:`ConcurrentWriterError` immediately,
    holding nothing.  The handle snapshots the resolved table dir's
    data-file set at acquire time; ``commit`` re-checks it just before
    the version flip, so an append that raced in between lease
    acquisition and commit aborts the flip with the staging intact
    (never a lost update, never a resurrected partition).  The lease
    is released on every live exit (success or raise); only a CRASHED
    holder leaves it behind — :func:`break_swap_lease` clears it (and
    :func:`recover_staged_swap` clears it on legacy flat tables when
    it heals the pre-r12 delete→rename window).

    ``owner`` is the STREAMING self-heal: a lease whose record carries
    the same owner string is re-acquired by takeover instead of
    raising — for per-micro-batch maintenance (``run_upsert_stream``'s
    upsert), where the crashed holder IS this writer's own previous
    incarnation and a blocked restart would deadlock the stream on
    itself.  Pass an identity exclusive to one logical writer (the
    stream's checkpoint dir: Spark admits one active query per
    checkpoint, so a same-owner LIVE duplicate cannot exist);
    distinct-owner conflicts still raise.  Swept by
    tests/test_crash_windows.py."""
    fs, _, jvm = _fs_and_path(spark, path)
    lp = _lease_hpath(jvm, path)

    def _create():
        return fs.create(lp, False)

    try:
        out = _create()
    except Exception as exc:  # FileAlreadyExistsException and kin
        holder = read_swap_lease(spark, path) or {}
        if owner is not None and holder.get("owner") == owner:
            # our own crashed incarnation: take the lease over
            fs.delete(lp, False)
            out = _create()
        else:
            raise ConcurrentWriterError(
                f"{op}: maintenance lease on {path} already held by "
                f"op={holder.get('op')!r} pid={holder.get('pid')} "
                f"owner={holder.get('owner')!r}; staged-swap jobs are "
                f"single-writer — wait for it or, if the holder crashed "
                f"before its delete→rename, break_swap_lease"
            ) from exc
    try:
        # everything after a successful create sits inside the
        # release-finally: a payload-write failure must not leak a
        # content-less lease that blocks every later maintenance run
        try:
            payload = json.dumps(
                {
                    "op": op,
                    "pid": os.getpid(),
                    "owner": owner,
                    "acquired_unix_ms": int(time.time() * 1000),
                }
            ).encode("utf-8")
            out.write(bytearray(payload))
        finally:
            out.close()
        yield _SwapLeaseHandle(spark, path, op)
    finally:
        fs.delete(lp, False)



def rewrite_table(
    spark: SparkSession,
    path: str,
    write_fn,
    op: str,
    staging_suffix: str = "__rewrite_staging",
    lease_owner: str | None = None,
    retain: int = TABLE_RETAIN_VERSIONS,
) -> int:
    """Full-table rewrite through the versioned staged-swap commit:
    ``write_fn(staging_dir)`` produces the complete new table, then the
    lease's guarded version flip publishes it (reader-atomic,
    non-destructive — the standard round-12 commit).  The generic form
    for one-off rewriters (e.g. ``rebuild_bloom_from_index``) that
    would otherwise overwrite a maintained path in place — an in-place
    overwrite of a resolved version dir tears the committed version
    under concurrent readers.  Returns the committed version id."""
    recover_staged_swap(spark, path)
    with swap_lease(spark, path, op, owner=lease_owner) as lease:
        staging = path.rstrip("/") + staging_suffix
        write_fn(staging)
        return lease.commit(staging, retain=retain)


def upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
    lease_owner: str | None = None,
) -> tuple[int, int]:
    """Delta-style MERGE (SCD type-1 upsert) on a raw-parquet table:
    union the current table with ``updates`` and keep, per key, the row
    with the highest ``version_col`` (ties: the update wins). New keys
    insert, existing keys overwrite, the table stays exactly one row
    per key. Returns (rows_before, rows_after).

    Re-applying the same update batch is IDEMPOTENT: max-version-wins
    is commutative/associative, so a retried batch converges to the
    same table — the same batch-id safety the append path has.

    Scale shape: one hash shuffle on the key (the row_number window) +
    a full rewrite — the copy-on-write MERGE every parquet-based table
    format performs when updates scatter across files. When updates
    cluster, partition the table and rewrite only affected partitions
    (write_partitioned + a key→partition pre-filter); transactional
    visibility is what Delta/Iceberg layer on top, same as compact().

    Crash recovery: since round 12 the commit is a rename-only version
    flip (stage → rename to ``<path>__vN+1``) — no state exists in
    which the table is absent or partial, so a crash at any point
    leaves the last committed version live and the re-run converges.
    :func:`recover_staged_swap` (called here on entry, and by
    ``run_upsert_stream`` before its first-batch check) still heals
    the PRE-r12 delete→rename crash state on legacy flat tables —
    without it, a streaming caller would mistake that absent dest for
    an uninitialized lake and silently re-initialize it from one
    batch, losing the table.

    No reference analog (the reference only appends); extension
    surface for the curation lake.
    """
    from pyspark.sql import Window as WU

    recover_staged_swap(spark, path)
    with swap_lease(spark, path, "upsert", owner=lease_owner) as lease:
        current = spark.read.parquet(lease.resolved)
        rows_before = current.count()
        tagged = current.withColumn("_src", F.lit(0)).unionByName(
            updates.withColumn("_src", F.lit(1))
        )
        w = WU.partitionBy(*key_cols).orderBy(
            F.col(version_col).desc(), F.col("_src").desc()
        )
        merged = (
            tagged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        staging = path.rstrip("/") + "__upsert_staging"
        merged.write.mode("overwrite").parquet(staging)
        lease.commit(staging)
    _refresh_manifest(spark, path)
    rows_after = read_table(spark, path).count()
    return rows_before, rows_after


def zorder_key_n(cols, bits: int = 16):
    """N-dimensional Z-order (Morton) key: the low ``bits`` bits of
    each of N non-negative integer columns, round-robin interleaved
    (bit ``i`` of column ``j`` lands at position ``i·N + j``).  Rows
    sorted by the key cluster in ALL N dimensions, so parquet min/max
    zones prune scans filtered on ANY of the columns — production
    layout keys routinely need 3-4 dimensions (source × lang × date),
    which the 2-column form couldn't express (VERDICT r9 item 4).

    Pure bit arithmetic (codegen'd; identical in any engine — the
    DuckDB twin :func:`zorder_key_n_sql` is the same shift/mask sum);
    columns are truncated mod 2**bits first.  ``N·bits`` must fit a
    signed 64-bit key (≤ 63); at fixed key width, more dimensions
    means coarser per-dimension resolution — the standard Morton
    trade (Delta's OPTIMIZE ZORDER makes the same one via range ids,
    which is what :func:`write_zordered_ranked` layers on top).
    """
    from pyspark.sql import Column

    n = len(cols)
    assert n >= 1 and all(isinstance(c, Column) for c in cols)
    if n * bits > 63:
        raise ValueError(
            f"{n} columns × {bits} bits = {n * bits} exceeds the 63-bit "
            f"key budget; lower bits to ≤ {63 // n}"
        )
    m = F.lit(2**bits)
    mods = [c.cast("long") % m for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, cm in enumerate(mods):
            z = z + F.shiftleft(
                F.shiftright(cm, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return z


def zorder_key_n_sql(cols: list[str], bits: int = 16) -> str:
    """The DuckDB-SQL twin of :func:`zorder_key_n` (single source kept
    adjacent so the two stay in lockstep)."""
    n = len(cols)
    m = 2**bits
    terms = []
    # every term fully parenthesized: DuckDB's << binds LOOSER than +,
    # so an unparenthesized "a << 2 + b << 3" chain shifts by the sum
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(f"(((({c}) % {m}) >> {i}) & 1) << {i * n + j}")
    return "CAST(" + " + ".join(f"({t})" for t in terms) + " AS BIGINT)"


def zorder_key(x, y, bits: int = 16):
    """Two-column Z-order key — the original form, now a thin wrapper
    over :func:`zorder_key_n` (bit placement is identical: x → even
    positions, y → odd)."""
    return zorder_key_n([x, y], bits)


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The DuckDB-SQL twin of :func:`zorder_key`."""
    return zorder_key_n_sql([x, y], bits)


def _as_col_list(x_col, y_col) -> list[str]:
    """Column-list normalization shared by the z-order writers: the
    first positional arg may be a list (N-dimensional form) or the
    legacy (x_col, y_col) string pair."""
    if isinstance(x_col, (list, tuple)):
        if y_col is not None:
            raise ValueError("pass a column list OR (x_col, y_col), not both")
        return list(x_col)
    if y_col is None:
        raise ValueError("y_col required when x_col is a single column")
    return [x_col, y_col]


def write_zordered(
    df: DataFrame,
    path: str,
    x_col,
    y_col: str | None = None,
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional clustering: range-partition + sort by the
    Morton key of the given columns, then drop the key — readers
    filtering on ANY of the columns skip most files via footer zones.
    ``x_col`` may be a list of N column names (``["src", "lang",
    "day"]``) or the legacy ``(x_col, y_col)`` pair."""
    cols = _as_col_list(x_col, y_col)
    keyed = df.withColumn(
        "_zkey", zorder_key_n([F.col(c) for c in cols], bits)
    )
    parted = (
        keyed.repartitionByRange(n_files, "_zkey")
        if n_files
        else keyed.repartitionByRange("_zkey")
    )
    parted.sortWithinPartitions("_zkey").drop("_zkey").write.mode(mode).parquet(path)


# ---------------------------------------------------------------------------
# Versioned snapshots: time travel on a raw-parquet lake
# ---------------------------------------------------------------------------

_VERSION_FMT = "v%08d"


_MAINTAINED_SNAPSHOT_RE = re.compile(r"^v(\d{8})__v\d{8}$")


def _list_versions(spark: SparkSession, root: str) -> list[int]:
    fs, hroot, jvm = _fs_and_path(spark, root)
    if not fs.exists(hroot):
        return []
    out = set()
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v") and name[1:].isdigit():
            # only COMMITTED versions count (rename is the commit point;
            # _SUCCESS guards against a torn copy on non-atomic stores).
            if fs.exists(
                jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            ):
                out.add(int(name[1:]))
            continue
        # a snapshot dir MAINTAINED in place (compact/optimize treat it
        # as a table — round 12) moves its live state into sibling
        # ``vN__vM`` dirs, and retention eventually sweeps the flat vN
        # dir entirely — the version then exists ONLY through its
        # maintained siblings (resolve_table handles the read side)
        m = _MAINTAINED_SNAPSHOT_RE.match(name)
        if m and st.isDirectory() and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            out.add(int(m.group(1)))
    return sorted(out)


def latest_version(spark: SparkSession, root: str) -> int | None:
    """Highest committed snapshot version under ``root`` (None if no
    snapshot exists yet)."""
    vs = _list_versions(spark, root)
    return vs[-1] if vs else None


_SNAPSHOT_STAGING = "__snapshot_staging"
_snapshot_counter = itertools.count()


def write_version(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
) -> int:
    """Commit ``df`` as the next immutable snapshot of the table at
    ``root`` and return its version number.

    Layout: ``root/v00000000, root/v00000001, …`` — each version a
    complete, self-contained parquet table. Write protocol: stage to a
    WRITER-UNIQUE ``root/__snapshot_staging_<pid>_<n>`` dir, then a
    single rename into the version dir; readers only see versions
    whose rename completed (plus ``_SUCCESS``), so a crashed writer
    leaves underscore-hidden staging garbage, never a torn snapshot.

    CONCURRENT snapshot writers are safe without a lease (round 11 —
    this path runs per streaming batch, where a crash-leftover lease
    would block the stream's own restart): unique staging removes the
    shared-staging clobber the old fixed name had, and the commit is
    an optimistic retry loop — re-derive the next free version id,
    rename, and detect the one local-FS hazard where a lost race
    MOVES the staging INSIDE the winner's version dir instead of
    failing (Hadoop rename-into-existing-directory semantics): the
    nested dir is pulled back out and the commit retries under the
    next id.  Each committed version is exactly one writer's complete
    table; ids are allocated first-come.  This is the poor-man's
    transaction log: Delta/Iceberg add manifest-level metadata, but
    the essential time-travel contract — immutable snapshots +
    monotonically increasing commit ids — holds on any
    Hadoop-compatible store.

    Full-copy snapshots cost storage proportional to versions kept;
    ``vacuum_versions`` bounds that (``clean_staging=True`` sweeps
    crashed writers' staging dirs). At 100 TB, snapshot partitioned
    tables and version per partition, or adopt a manifest format —
    the read/commit API here stays the same."""
    fs, hroot, jvm = _fs_and_path(spark, root)
    if not fs.exists(hroot):
        fs.mkdirs(hroot)
    staging_name = (
        f"{_SNAPSHOT_STAGING}_{os.getpid()}_{next(_snapshot_counter)}"
    )
    staging = root.rstrip("/") + "/" + staging_name
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    for _ in range(16):
        lv = latest_version(spark, root)
        nxt = 0 if lv is None else lv + 1
        vpath = jvm.org.apache.hadoop.fs.Path(hroot, _VERSION_FMT % nxt)
        if fs.exists(vpath):
            continue  # another writer took this id; re-derive
        if not fs.rename(spath, vpath):
            continue  # vpath appeared between exists and rename
        nested = jvm.org.apache.hadoop.fs.Path(vpath, staging_name)
        if fs.exists(nested):
            # lost the race on a local FS whose rename moved our
            # staging INTO the winner's dir (underscore-hidden, so
            # readers never saw it) — pull it back out and retry
            if not fs.rename(nested, spath):
                raise IOError(
                    f"snapshot nested-staging recovery failed: {nested}"
                )
            continue
        return nxt
    raise IOError(
        f"snapshot commit failed after 16 attempts: {staging} -> {root} "
        f"(staging preserved)"
    )


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the table as of snapshot ``version`` (default:
    latest committed).  Resolved through the maintained-table pointer
    (round 12): layout maintenance applied TO a snapshot dir
    (``compact(root/vN)`` between epochs) moves its live state into
    sibling version dirs, which a raw read of the flat dir would miss
    once retention sweeps it."""
    vs = _list_versions(spark, root)
    if not vs:
        raise FileNotFoundError(f"no committed snapshots under {root}")
    if version is None:
        version = vs[-1]
    if version not in vs:
        raise FileNotFoundError(
            f"version {version} not available under {root} (have {vs})"
        )
    return read_table(
        spark, root.rstrip("/") + "/" + _VERSION_FMT % version
    )


def upsert_versioned(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> int:
    """Non-destructive MERGE: apply max-version-wins upsert semantics
    (same rule as ``upsert``) against the latest snapshot and commit
    the result as a NEW snapshot — prior versions stay readable, so a
    bad batch is one ``read_version(n-1)`` away from recovery."""
    from pyspark.sql import Window as WU

    current = read_version(spark, root)
    tagged = current.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = WU.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    merged = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    return write_version(spark, root, merged)


def vacuum_versions(
    spark: SparkSession, root: str, keep_last: int = 2,
    clean_staging: bool = False,
) -> list[int]:
    """Delete all but the newest ``keep_last`` snapshots; returns the
    versions removed. Run on the maintenance schedule, like compact().

    ``clean_staging=True`` also sweeps crashed writers' orphan
    ``__snapshot_staging_*`` dirs (underscore-hidden from readers, so
    they are storage waste only). Only enable when no snapshot writer
    is LIVE on this root — a live writer's in-flight staging is
    indistinguishable from an orphan."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = _list_versions(spark, root)
    doomed = vs[:-keep_last] if len(vs) > keep_last else []
    fs, hroot, jvm = _fs_and_path(spark, root)
    for v in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(hroot, _VERSION_FMT % v), True)
        # a snapshot dir maintained in place (round 12) carries sibling
        # state — vN__v* maintained versions, vN__manifest, vN__swap_lease
        # — which the flat delete alone would leak forever
        sibs = fs.globStatus(
            jvm.org.apache.hadoop.fs.Path(hroot, _VERSION_FMT % v + "__*")
        )
        for st in sibs or []:
            fs.delete(st.getPath(), True)
    if clean_staging:
        for st in fs.listStatus(hroot):
            if st.getPath().getName().startswith(_SNAPSHOT_STAGING):
                fs.delete(st.getPath(), True)
    return doomed


# ---------------------------------------------------------------------------
# Data skipping: file-level zone maps (min/max manifest) + pruned reads
# ---------------------------------------------------------------------------


def collect_file_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file zone map — (file, n_rows, min_<c>, max_<c>…) — the
    Delta-style data-skipping manifest for a raw-parquet table, built
    with one scan (``input_file_name()`` groupBy; map-side combine, one
    row per file). Persist it next to the table and every later range
    query prunes files from the manifest instead of reading footers —
    at 100 TB the manifest is file-count-sized (thousands of rows), so
    planning a pruned read costs a manifest scan, not a data scan.

    Pairs with ``write_zordered``: clustering makes per-file [min, max]
    ranges narrow, which is what makes zone-map pruning selective.
    """
    df = read_table(spark, path)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def read_skipping(
    spark: SparkSession,
    path: str,
    stats: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Range read through the zone-map manifest: keep only files whose
    [min_<col>, max_<col>] interval overlaps [lo, hi], read just those,
    then apply the exact predicate (zone maps admit false positives at
    file granularity, never false negatives — the residual filter makes
    the result exactly equal to an unpruned ``WHERE col BETWEEN``).

    Only FILE NAMES are collected to the driver (the same contract as
    plan_batch's file listing) — data never leaves the executors.

    Stale-manifest degradation (round-10 crash-window adjudication):
    ``optimize_table`` commits the data swap BEFORE rewriting the
    manifest, so a crash between the two leaves a manifest whose file
    paths were deleted by the rewrite. Planning validates the pruned
    hit list (one ``fs.exists`` per HIT — manifest-sized, never
    data-sized) and falls back to the exact unpruned predicate scan
    when any hit is gone: the read stays CORRECT (just unpruned) until
    the next ``optimize_table`` heals the manifest, instead of failing
    on deleted paths — and never silently wrong, because parquet part
    file names are uuid-unique so a stale path can't alias a live file.
    """
    hits = (
        stats.filter(
            (F.col(f"max_{col}") >= F.lit(lo))
            & (F.col(f"min_{col}") <= F.lit(hi))
        )
        .select("file")
        .collect()
    )
    files = [r["file"] for r in hits]
    resolved = resolve_table(spark, path)
    base = spark.read.parquet(resolved)
    predicate = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not files:
        return base.filter(F.lit(False))
    fs, _, jvm = _fs_and_path(spark, path)
    # under versioned retention a stale manifest's paths may still
    # EXIST (they point into the retained previous version) — pruning
    # through them would silently read superseded data, so a hit must
    # both exist and live inside the CURRENT resolved dir
    resolved_prefix = (resolved.rstrip("/") + "/").split("://", 1)[-1]
    for f in files:
        fpath = f.split("://", 1)[-1] if "://" in f else f
        if not fpath.startswith(resolved_prefix):
            return base.filter(predicate)  # stale manifest: exact scan
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f)):
            return base.filter(predicate)  # stale manifest: exact scan
    return spark.read.schema(base.schema).parquet(*files).filter(predicate)


def delete_keys(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_col: str,
) -> int:
    """Right-to-be-forgotten on the versioned lake: commit a NEW
    snapshot equal to the latest one minus every row whose ``key_col``
    appears in ``keys`` — a broadcastable left-anti join (deletion
    lists are small; the big side never shuffles), written through the
    same stage-and-rename commit as any snapshot. Returns the new
    version number.

    History note: prior versions still contain the rows — complete the
    erasure by ``vacuum_versions`` after the retention window, exactly
    the Delta VACUUM contract. The non-destructive write means a bad
    deletion list never corrupts the table: roll back by reading the
    previous version.
    """
    cur = read_version(spark, root)
    keyset = keys.select(F.col(key_col)).distinct()
    remaining = cur.join(F.broadcast(keyset), key_col, "left_anti")
    return write_version(spark, root, remaining)


def _rank_zorder_keyed(
    df: DataFrame, cols: list[str], bits: int, curve: str = "morton"
):
    """(df + ``_zkey``) over RANK buckets: each dimension equi-depth
    bucketed into 2^bits bins via ntile over its own order, bucket ids
    interleaved along the chosen space-filling ``curve`` ("morton" —
    the plan the oracle rows pin — or "hilbert", the tighter-locality
    upgrade from sinks/hilbert.py).  Shared by
    :func:`write_zordered_ranked` and ``optimize_table(zorder_by=...)``."""
    from pyspark.sql import Window as W

    nb = 2**bits
    bcols = []
    for i, c in enumerate(cols):
        bname = f"_zb{i}"
        df = df.withColumn(
            bname, (F.ntile(nb).over(W.orderBy(F.col(c))) - 1).cast("long")
        )
        bcols.append(bname)
    if curve == "hilbert":
        from gcs_parquet_dataflow_spark.sinks.hilbert import with_hilbert_key

        return with_hilbert_key(df, bcols, bits, out="_zkey").drop(*bcols)
    if curve != "morton":
        raise ValueError(f"unknown curve {curve!r}: use 'morton' or 'hilbert'")
    return df.withColumn(
        "_zkey", zorder_key_n([F.col(b) for b in bcols], bits)
    ).drop(*bcols)


def write_zordered_ranked(
    df: DataFrame,
    path: str,
    x_col,
    y_col: str | None = None,
    bits: int = 8,
    n_files: int | None = None,
    mode: str = "overwrite",
    curve: str = "morton",
) -> None:
    """Z-order layout over RANK buckets instead of raw values: each
    dimension is first equi-depth-bucketed into 2^bits bins via ntile
    over its own order, then the bucket ids are Morton-interleaved.
    ``x_col`` may be a list of N column names or the legacy
    ``(x_col, y_col)`` pair (N·bits ≤ 63 — at fixed key width more
    dimensions means coarser per-dimension bins, the Morton trade).

    Why this exists: raw-value Morton keys only cluster when both
    columns fill the bit range — a narrow-domain int (say custkey ≤
    1500 under 16 bits) leaves its high bits zero, the other dimension
    dominates the key, and per-file zones stop pruning (measured on the
    fixtures; see SCALE.md). Rank bucketing makes every dimension
    uniform on [0, 2^bits) by construction — value skew and domain
    width stop mattering, which is exactly what Delta's OPTIMIZE ZORDER
    does with range ids.

    Cost: one global sort per dimension for the ntiles at write time
    (layout jobs are offline; Spark's distributed sort handles them at
    any scale) + the range-partitioned write. Read-side contract is
    unchanged: min/max zones on the DATA columns prune on any
    dimension.
    """
    keyed = _rank_zorder_keyed(df, _as_col_list(x_col, y_col), bits, curve)
    parted = (
        keyed.repartitionByRange(n_files, "_zkey")
        if n_files
        else keyed.repartitionByRange("_zkey")
    )
    parted.sortWithinPartitions("_zkey").drop("_zkey").write.mode(mode).parquet(
        path
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    sort_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    curve: str = "morton",
) -> dict:
    """One-call table maintenance — the Delta ``OPTIMIZE`` analog for a
    raw-parquet lake, composing the layout tools this module already
    proves piecewise:

    1. rewrite range-clustered on ``sort_cols`` (disjoint per-file
       zones) sized to ``target_file_bytes``, with split-block bloom
       filters on ``bloom_cols`` (point-lookup pruning on unsorted
       high-cardinality ids) — OR, with ``zorder_by=[c1, c2, …]``,
       rank-Z-order clustered across N dimensions (Delta's
       ``OPTIMIZE ZORDER BY`` analog: equi-depth range ids per
       dimension, Morton-interleaved — files prune on ANY of the
       columns instead of only the leading sort column);
    2. collect the zone-map manifest for ``stats_cols`` (default: the
       sort/z-order columns) and persist it at ``<path>__manifest``
       for ``read_skipping`` planners.

    Returns {files_before, files_after, n_rows, manifest_path}. The
    rewrite is stage-and-swap (same pattern as compact) so readers
    never see a half-written table; re-running is idempotent — and a
    crash between the swap's delete and rename self-heals on the next
    call (recover_staged_swap).
    """
    if zorder_by and sort_cols:
        raise ValueError("pass sort_cols OR zorder_by, not both")
    recover_staged_swap(spark, path)
    with swap_lease(spark, path, "optimize_table") as lease:
        df = spark.read.parquet(lease.resolved)
        n_rows = df.count()
        files_before, total_bytes = data_file_stats(spark, lease.resolved)
        n_files = max(1, int(total_bytes // target_file_bytes) or 1)

        staging = path.rstrip("/") + "__optimize_staging"
        if zorder_by:
            writer_df = (
                _rank_zorder_keyed(df, zorder_by, bits=8, curve=curve)
                .repartitionByRange(n_files, "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        elif sort_cols:
            writer_df = df.repartitionByRange(
                n_files, *sort_cols
            ).sortWithinPartitions(*sort_cols)
        else:
            writer_df = df.coalesce(n_files)
        writer = writer_df.write.mode("overwrite")
        for c in bloom_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(staging)
        lease.commit(staging)

    manifest_path = path.rstrip("/") + "__manifest"
    mcols = (
        stats_cols
        if stats_cols is not None
        else (sort_cols or zorder_by or [])
    )
    if mcols:
        collect_file_stats(spark, path, mcols).write.mode(
            "overwrite"
        ).parquet(manifest_path)
    files_after, _ = data_file_stats(spark, resolve_table(spark, path))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_rows,
        "manifest_path": manifest_path if mcols else None,
    }


def maintenance_report(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_live_files: int = 64,
    retain_policy: int = TABLE_RETAIN_VERSIONS,
) -> dict:
    """The MAINTENANCE ADVISOR for one maintained table — turns the
    lake's raw state (versions, file sizes, manifest, lease) into the
    prioritized action list a scheduler runs, so "when do we compact /
    vacuum / re-optimize?" is a query, not folklore.  At 100 TB the
    fleet has thousands of maintained paths; this is the per-table row
    of that fleet scan (driver-side fs stats only — manifest-cost,
    never a data scan).

    Keys: live_version, n_files, total_bytes, avg_file_bytes,
    small_file_ratio (files under half the target size),
    n_retained_versions (committed, non-live — vacuum candidates),
    n_torn_commits (sibling dirs without ``_SUCCESS`` — crashed
    commits, visible not inferred), manifest_present, manifest_stale
    (any manifest entry outside the live version dir — the
    read_skipping degradation trigger), lease (the holder record or
    None), and ``actions``: an ordered list drawn from
    ``compact`` (small-file debt: ratio > 0.5 and more than
    ``max_live_files`` files), ``vacuum`` (MORE history retained than
    ``retain_policy`` keeps — one retained predecessor is the commit
    protocol's NORMAL state, so debt means a crash landed between a
    flip and its retention sweep, or someone retained deep history),
    ``refresh_manifest`` (stale zone maps serve unpruned scans until
    refreshed), ``investigate_lease`` (a lease is held — either live
    maintenance or a dead holder needing break_swap_lease),
    ``sweep_torn_commit``.  Empty list = healthy.
    """
    if not table_exists(spark, path):
        raise FileNotFoundError(
            f"maintenance_report: no table at {path} (no flat dir and no "
            f"committed version) — a fleet scan should filter with "
            f"table_exists / run_maintenance_cycle records it as missing"
        )
    base = path.rstrip("/")
    live = resolve_table(spark, path)
    committed = table_versions(spark, path)
    live_version = committed[-1] if committed and live != base else -1

    fs, _, jvm = _fs_and_path(spark, live)
    files = _list_data_files(fs, jvm.org.apache.hadoop.fs.Path(live))
    n_files = len(files)
    total_bytes = sum(sz for _, sz in files)
    small = sum(1 for _, sz in files if sz < target_file_bytes // 2)
    small_ratio = round(small / n_files, 6) if n_files else 0.0

    hist = table_history(spark, path).collect()
    n_retained = sum(
        1 for r in hist if r["committed"] and not r["is_live"]
    )
    n_torn = sum(1 for r in hist if not r["committed"])

    manifest_path = base + "__manifest"
    manifest_present = table_exists(spark, manifest_path)
    manifest_stale = False
    if manifest_present:
        # scheme-qualified containment check: a manifest entry whose
        # file sits outside the LIVE version dir points at superseded
        # (or deleted) data — the read_skipping degradation state
        live_q = fs.makeQualified(
            jvm.org.apache.hadoop.fs.Path(live)
        ).toString().rstrip("/") + "/"
        entries = [
            r["file"]
            for r in spark.read.parquet(
                resolve_table(spark, manifest_path)
            ).select("file").collect()
        ]
        manifest_stale = any(
            not fs.makeQualified(
                jvm.org.apache.hadoop.fs.Path(f)
            ).toString().startswith(live_q)
            for f in entries
        )

    lease = read_swap_lease(spark, path)

    actions: list[str] = []
    if lease is not None:
        actions.append("investigate_lease")
    if n_torn:
        actions.append("sweep_torn_commit")
    if n_files > max_live_files and small_ratio > 0.5:
        actions.append("compact")
    if manifest_stale:
        actions.append("refresh_manifest")
    if n_retained > retain_policy - 1:
        actions.append("vacuum")

    return {
        "path": path,
        "live_version": live_version,
        "n_files": n_files,
        "total_bytes": total_bytes,
        "avg_file_bytes": (total_bytes // n_files) if n_files else 0,
        "small_file_ratio": small_ratio,
        "n_retained_versions": n_retained,
        "n_torn_commits": n_torn,
        "manifest_present": manifest_present,
        "manifest_stale": manifest_stale,
        "lease": lease,
        "actions": actions,
    }


def sweep_torn_commits(spark: SparkSession, path: str) -> list[int]:
    """Delete UNCOMMITTED version sibling dirs (present, no
    ``_SUCCESS``) — garbage by construction: ``lease.commit`` renames a
    staging that already contains its ``_SUCCESS``, and a filesystem
    rename is atomic, so a committed version can never be observed
    torn; a torn sibling is a crashed manual copy or an interrupted
    external transfer.  Returns the version ids removed.  Never
    touches committed versions, the flat dir, staging dirs (a crashed
    run's payload — its re-run owns it), or the lease."""
    committed = set(table_versions(spark, path))
    fs, _, jvm = _fs_and_path(spark, path)
    base = path.rstrip("/")
    removed: list[int] = []
    matches = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(base + _TABLE_VERSION_SUFFIX + "*")
    )
    prefix_len = len(
        jvm.org.apache.hadoop.fs.Path(base).getName()
    ) + len(_TABLE_VERSION_SUFFIX)
    for st in matches or []:
        tail = st.getPath().getName()[prefix_len:]
        if st.isDirectory() and len(tail) == 8 and tail.isdigit():
            v = int(tail)
            if v not in committed:
                fs.delete(st.getPath(), True)
                removed.append(v)
    return removed


_MAINT_REPORT_SCHEMA = (
    "path string, phase string, live_version long, n_files long, "
    "total_bytes long, small_file_ratio double, "
    "n_retained_versions long, n_torn_commits long, "
    "manifest_present boolean, manifest_stale boolean, "
    "lease_held boolean, actions array<string>, "
    "executed array<string>, converged boolean"
)


def run_maintenance_cycle(
    spark: SparkSession,
    paths: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    max_live_files: int = 64,
    retain_policy: int = TABLE_RETAIN_VERSIONS,
    max_passes: int = 3,
    ops_root: str | None = None,
    batch_id: int | None = None,
) -> list[dict]:
    """Execute :func:`maintenance_report`'s advice for a fleet of
    maintained tables — advise → act → re-report, per table, until
    healthy or ``max_passes`` (an action can surface follow-up debt:
    a compact leaves a superseded version a tight retain_policy then
    vacuums).  A table with a HELD LEASE is skipped untouched this
    cycle (live maintenance owns it; a dead holder is an operator
    decision — break_swap_lease — never an automatic one).  Returns
    one dict per table: {path, before, after, executed, converged}.

    With ``ops_root``, before/after rows land batch-keyed in
    ``<ops_root>/maintenance_reports`` (same idempotent-replay shape
    as every guard report), so fleet health is a QUERY over time —
    small-file debt trending up on a CDC target means the trigger
    interval outruns the compaction cadence."""
    results: list[dict] = []
    for path in paths:
        if not table_exists(spark, path):
            # dropped between fleet listing and scan — normal at fleet
            # scale; recorded loudly, never a cycle-killing exception
            results.append({
                "path": path, "before": None, "after": None,
                "executed": [], "converged": False, "missing": True,
            })
            continue
        rep = maintenance_report(
            spark, path, target_file_bytes, max_live_files, retain_policy
        )
        before, executed = rep, []
        for _ in range(max_passes):
            if not rep["actions"] or rep["lease"] is not None:
                break
            for action in rep["actions"]:
                if action == "sweep_torn_commit":
                    sweep_torn_commits(spark, path)
                elif action == "compact":
                    compact(spark, path, target_file_bytes=target_file_bytes)
                elif action == "refresh_manifest":
                    _refresh_manifest(spark, path)
                elif action == "vacuum":
                    vacuum_table(spark, path, keep_last=retain_policy)
                executed.append(action)
            rep = maintenance_report(
                spark, path, target_file_bytes, max_live_files,
                retain_policy,
            )
        results.append({
            "path": path,
            "before": before,
            "after": rep,
            "executed": executed,
            "converged": not rep["actions"],
        })
    if ops_root is not None:
        rows = []
        for res in results:
            if res.get("missing"):
                continue
            for phase in ("before", "after"):
                r = res[phase]
                rows.append((
                    res["path"], phase, r["live_version"], r["n_files"],
                    r["total_bytes"], r["small_file_ratio"],
                    r["n_retained_versions"], r["n_torn_commits"],
                    r["manifest_present"], r["manifest_stale"],
                    r["lease"] is not None, r["actions"],
                    res["executed"], res["converged"],
                ))
        write_partitioned(
            spark.createDataFrame(rows, _MAINT_REPORT_SCHEMA),
            ops_root.rstrip("/") + "/maintenance_reports", [],
            batch_id=batch_id, coalesce_files=1,
        )
    return results
