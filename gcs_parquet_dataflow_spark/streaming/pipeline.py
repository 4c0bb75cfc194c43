"""Streaming ingestion (reference streaming DAG, main.py:426-523)
rebuilt on Structured Streaming.

Reference shape: Pub/Sub file notifications → 5-min window → URI dedup →
route → read parquet → transform → 10 s batching → HTTP sink → DLQs.

Spark shape: the streaming *file source* subsumes notification intake,
dedup, and read in one operator — it discovers new files under a path,
reads them exactly once, and checkpoints progress. That makes the
reference's best-effort 5-minute dedup (main.py:461-463) and its
*unimplemented* Firestore idempotency claim (README.md:13, 42 — no code
anywhere) an actual guarantee: checkpointed exactly-once file tracking.

The general dedup-within-horizon operator is still exposed
(``dedup_within_watermark``) for true notification streams (Kafka/
Pub/Sub-Lite) where re-delivery is possible.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from gcs_parquet_dataflow_spark.config.model import SourceConfig
from gcs_parquet_dataflow_spark.operators.routing import files_by_config
from gcs_parquet_dataflow_spark.plans.compiler import (
    CompilerOptions,
    compile_config,
    split_dlq,
)
from gcs_parquet_dataflow_spark.sinks.http_batch import (
    HttpSinkConfig,
    post_events,
)

DEFAULT_TRIGGER_S = 10  # reference's 10 s API-batching window (main.py:506)
DEFAULT_DEDUP_HORIZON = "5 minutes"  # reference's dedup window (main.py:462)


# ---------------------------------------------------------------------------
# Stream-lifetime cache pins (ADVICE r5): streams that pin a static
# side-table executor-side (drift baseline, decontamination benchmark)
# must release it when the query terminates — NOT via the global
# release_intermediates() registry, which the same streams drain after
# every micro-batch (registering there would evict the pin after batch
# 0 and force a per-batch recompute). A query-terminated listener maps
# query id → pinned handles, so restarts and multi-stream drivers never
# accumulate cache blocks for the process lifetime.
# ---------------------------------------------------------------------------

_STREAM_PINS: dict[str, list[DataFrame]] = {}
_PIN_LISTENERS: dict[str, object] = {}  # applicationId → listener


def _register_stream_pins(
    spark: SparkSession, query: StreamingQuery, handles: list[DataFrame]
) -> None:
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class _PinReleaseListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # pragma: no cover
            pass

        def onQueryProgress(self, event) -> None:  # pragma: no cover
            pass

        def onQueryIdle(self, event) -> None:  # pragma: no cover
            pass

        def onQueryTerminated(self, event) -> None:
            for h in _STREAM_PINS.pop(str(event.id), []):
                try:
                    h.unpersist()
                except Exception:  # pragma: no cover - session teardown
                    pass

    app_id = spark.sparkContext.applicationId
    if app_id not in _PIN_LISTENERS:
        listener = _PinReleaseListener()
        spark.streams.addListener(listener)
        _PIN_LISTENERS[app_id] = listener
    _STREAM_PINS.setdefault(str(query.id), []).extend(handles)
    # the stream may already have finished (availableNow one-shots)
    # before the pins landed in the map — release inline in that case;
    # a late-terminating event then pops an empty list (no double free)
    if not query.isActive:
        for h in _STREAM_PINS.pop(str(query.id), []):
            h.unpersist()


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    horizon: str = DEFAULT_DEDUP_HORIZON,
) -> DataFrame:
    """Bounded-state streaming dedup (reference W1+D1, main.py:461-463:
    ``Distinct`` scoped to 5-minute fixed windows). Spark's
    ``dropDuplicatesWithinWatermark`` reproduces exactly this
    bounded-state semantics: duplicates within the horizon are dropped,
    state is evicted past the watermark, re-deliveries farther apart than
    the horizon pass through (same tradeoff as the reference)."""
    return df.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(keys)


def sessionize_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization: events within ``gap`` of each other
    merge into one session per key; a session closes (and emits, in
    append mode) once the watermark passes its end. The streaming twin
    of the batch ``sessionize_events`` query — same ``session_window``
    operator family, with state bounded by the watermark instead of a
    window sort. → (key, session_start, session_end, n_events)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    tolerance: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each left event matches right
    rows with the same key whose timestamp falls in
    ``[left_ts - tolerance, left_ts]`` (enrichment from a second live
    stream, e.g. events ⋈ recent profile updates). The time-range
    constraint + watermarks are what make join state EVICTABLE — without
    them a stream-stream join buffers both sides forever. Timestamp
    columns must be distinct names (rename upstream).

    ``how="leftOuter"`` emits unmatched left rows with NULL right
    columns — but only once the watermark has passed the row's match
    window (the engine must prove no future right row can match before
    it can emit the NULL), so outer results trail the watermark by
    design."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return l.join(r, cond, how).drop(r[key])


def _start_foreach_batch(
    df: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int,
    available_now: bool,
    output_mode: str | None = None,
) -> StreamingQuery:
    """The one stream start-up every runner here shares: ``handle`` runs
    per micro-batch (foreachBatch) under ``checkpoint_dir``, either as a
    one-shot drain (``available_now``) or on a processing-time trigger
    every ``trigger_seconds``."""
    writer = df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()


def _deliver(
    serialized: DataFrame,
    dlq_base: str | None,
    batch_id: int,
    sink: Callable[[DataFrame, int], None] | None,
    http_cfg: HttpSinkConfig | None,
) -> None:
    """One micro-batch's delivery step (reference main.py:494-523):
    split the transformed rows on ``_error``, write the transform DLQ
    under ``{dlq_base}/batch_id=N``, hand the ok events to ``sink`` (test
    hook) or the HTTP batch sink, and write the HTTP delivery failures
    under ``{dlq_base}/api_batch_id=N``. Both DLQ writes overwrite their
    batch-id-keyed path, so a replayed batch is idempotent (SURVEY §7
    hard part 6)."""
    serialized = serialized.persist()
    try:
        ok, dlq = split_dlq(serialized)
        if dlq_base is not None:
            (
                dlq.select(
                    "event_json",
                    F.col("_error.error_type").alias("error_type"),
                    F.col("_error.reason").alias("reason"),
                )
                .write.mode("overwrite")
                .parquet(f"{dlq_base}/batch_id={batch_id}")
            )
        if sink is not None:
            sink(ok, batch_id)
        elif http_cfg is not None:
            failed = post_events(ok, http_cfg).filter(F.col("status") == "dlq")
            if dlq_base is not None:
                failed.write.mode("overwrite").parquet(
                    f"{dlq_base}/api_batch_id={batch_id}"
                )
            else:
                failed.count()  # the action that runs the posts
    finally:
        serialized.unpersist()


def stream_source(
    spark: SparkSession,
    config: SourceConfig,
    schema: T.StructType,
    path: str | None = None,
) -> DataFrame:
    """Streaming parquet file source for one config's prefix (replaces
    reference S1+E1+E2+W1+D1+S4, SURVEY §2.1). ``path`` overrides the
    config prefix for local testing."""
    return spark.readStream.schema(schema).parquet(
        path or config.source_gcs_prefix
    )


def run_streaming(
    spark: SparkSession,
    config: SourceConfig,
    schema: T.StructType,
    checkpoint_dir: str,
    *,
    path: str | None = None,
    opts: CompilerOptions | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
    http_cfg: HttpSinkConfig | None = None,
    dlq_dir: str | None = None,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """End-to-end streaming pipeline for one source config.

    Per micro-batch (``foreachBatch`` = the natural bundle boundary the
    reference emulates with finish_bundle re-windowing, main.py:415-423):
    transform → ``_deliver`` (DLQ split, transform DLQ under
    ``{dlq_dir}/batch_id=N``, events to ``sink`` or the HTTP batch sink,
    delivery DLQ under ``{dlq_dir}/api_batch_id=N``).
    """
    compiled = compile_config(config, schema, opts)
    serialized = compiled.serialize(stream_source(spark, config, schema, path))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _deliver(batch_df, dlq_dir, batch_id, sink, http_cfg)

    return _start_foreach_batch(
        serialized, process_batch, checkpoint_dir, trigger_seconds,
        available_now,
    )


def run_notification_stream(
    spark: SparkSession,
    configs: list[SourceConfig],
    schemas: dict[str, T.StructType],
    notifications: DataFrame,
    checkpoint_dir: str,
    *,
    opts: CompilerOptions | None = None,
    sink: Callable[[str, DataFrame, int], None] | None = None,
    http_cfg: HttpSinkConfig | None = None,
    dlq_dir: str | None = None,
    horizon: str = DEFAULT_DEDUP_HORIZON,
    uri_col: str = "uri",
    ts_col: str = "ts",
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """The reference's full notification-driven streaming DAG
    (main.py:446-490): a message stream of file-URI notifications →
    bounded-state URI dedup → first-match prefix routing → per-config
    parquet read → compiled transform → DLQ split → sink.

    ``notifications`` is ANY streaming DataFrame with (uri string,
    ts timestamp) — Kafka/Pub/Sub-Lite in production, a file/rate source
    in tests. Unlike ``run_streaming`` (whose file source makes dedup a
    checkpoint guarantee), a message bus can RE-DELIVER: here
    ``dropDuplicatesWithinWatermark`` state (checkpointed, evicted past
    ``horizon``) drops re-deliveries exactly like the reference's 5-min
    windowed Distinct (main.py:461-463).

    Per micro-batch the routed notification rows are collected — FILE
    NAMES, not data (the same driver-side file list ``plan_batch``
    holds); each config's files are then read cluster-side with that
    config's schema and its ONCE-compiled transform, and delivered by
    ``_deliver`` with the DLQs under ``{dlq_dir}/{config_id}/``
    (``batch_id=N`` transform failures, ``api_batch_id=N`` delivery
    failures). ``sink`` receives (config_id, ok_events_df, batch_id).
    """
    opts = opts or CompilerOptions()
    compiled = {
        c.config_id: compile_config(c, schemas[c.config_id], opts)
        for c in configs
        if c.config_id in schemas
    }
    deduped = dedup_within_watermark(notifications, [uri_col], ts_col, horizon)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        by_config, _unmatched = files_by_config(batch_df, configs, uri_col)
        for config_id, uris in sorted(by_config.items()):
            plan = compiled.get(config_id)
            if plan is None:
                continue
            data = spark.read.schema(schemas[config_id]).parquet(*uris)
            _deliver(
                plan.serialize(data),
                None if dlq_dir is None else f"{dlq_dir}/{config_id}",
                batch_id,
                None if sink is None else partial(sink, config_id),
                http_cfg,
            )

    return _start_foreach_batch(
        deduped, process_batch, checkpoint_dir, trigger_seconds, available_now
    )


def run_corpus_ingest_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    perms: list[tuple[int, int]],
    *,
    k: int = 3,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
    bloom_path: str | None = None,
    bloom_m_bits: int = 2**20,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuous corpus ingestion with cross-batch near-dup dedup:
    a streaming DataFrame of documents → per-micro-batch MinHash dedup
    against the PERSISTED sketch index (operators/incremental.py) →
    surviving rows appended to the ``out_path`` lake.

    Exactly-once story under micro-batch replay:

    - survivor rows land via batch-keyed dynamic partition overwrite
      (sinks/parquet_lake.write_partitioned), so a replayed batch
      overwrites its own output;
    - index appends are NOT keyed, but duplicate band rows are
      semantically idempotent — the index is only ever consumed through
      a semi-join, which a duplicate row cannot change; compaction
      (sinks/parquet_lake.compact) garbage-collects the bytes;
    - ``bloom_path`` arms the index Bloom prefilter (all-novel batches
      skip the index read — operators/incremental.py); its appends are
      likewise replay-idempotent because readers OR-merge the word lake
      and OR is idempotent.

    The dedup decision itself is deterministic given (accepted corpus,
    batch), so replays reproduce the same survivor set.
    """
    from gcs_parquet_dataflow_spark.operators.incremental import (
        dedup_batch_against_index,
    )
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        survivors = dedup_batch_against_index(
            spark,
            batch_df,
            id_col,
            text_col,
            index_path,
            perms,
            k=k,
            rows_per_band=rows_per_band,
            max_bucket_size=max_bucket_size,
            bloom_path=bloom_path,
            bloom_m_bits=bloom_m_bits,
        )
        write_partitioned(survivors, out_path, [], batch_id=batch_id)
        release_intermediates()

    return _start_foreach_batch(
        docs_stream, process_batch, checkpoint_dir, trigger_seconds,
        available_now, output_mode="update",
    )


def run_upsert_stream(
    spark: SparkSession,
    updates: DataFrame,
    lake_path: str,
    key_cols: list[str],
    version_col: str,
    checkpoint_dir: str,
    *,
    versioned: bool = False,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """CDC-apply pipeline: a streaming DataFrame of change records
    (inserts + updates carrying a monotonically increasing
    ``version_col`` — CDC LSN, updated_at, source offset) is MERGED
    into the parquet lake per micro-batch via
    sinks/parquet_lake.upsert — max-version-wins per key, so the table
    converges to exactly one current row per key. The streaming twin of
    Delta's ``MERGE INTO`` apply-changes loop.

    Consistency story: within a batch, rows are pre-collapsed to the
    highest version per key (deterministic when versions are unique per
    key — the CDC contract); a REPLAYED batch re-applies the same
    max-version-wins merge, which is idempotent, so checkpoint recovery
    cannot double-apply or regress a row. The first batch initializes
    the lake.

    ``versioned=True`` applies each batch through the VERSIONED store
    instead (``lake_path`` is a snapshot root: upsert_versioned /
    write_version) — every micro-batch commits an immutable time-travel
    snapshot, which is what lets the downstream governance loop
    (``run_rtbf_stream``'s delete_keys, vacuum_versions) operate on the
    SAME lake path; the full composition is pinned by
    tests/test_round10.py's maintenance-lifecycle test.  Snapshot
    commits are rename-only (crash-safe by construction — no staged
    swap to recover); a REPLAYED batch re-commits one extra
    content-identical version, the same documented raw-parquet trade as
    run_rtbf_stream's re-apply.

    Scale shape: each micro-batch costs one key shuffle + a
    copy-on-write rewrite (upsert's documented profile); with a
    partitioned lake only affected partitions rewrite. Trigger interval
    dials the rewrite amortization.
    """
    from pyspark.sql import Window as WU

    from gcs_parquet_dataflow_spark.sinks.parquet_lake import upsert

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = WU.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if versioned:
            from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
                latest_version,
                upsert_versioned,
                write_version,
            )

            if latest_version(spark, lake_path) is None:
                write_version(spark, lake_path, latest)
            else:
                upsert_versioned(
                    spark, lake_path, latest, key_cols, version_col
                )
            return
        # round 9: an upsert crashed between its delete and rename
        # leaves the dest ABSENT with the merged table in staging —
        # without recovery, the else-branch below would mistake that
        # for an uninitialized lake and re-initialize it from ONE
        # batch, silently losing the table
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            recover_staged_swap,
        )

        recover_staged_swap(spark, lake_path)
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            table_exists,
        )

        if table_exists(spark, lake_path):
            # lease_owner = this stream's checkpoint identity: a crash
            # mid-upsert leaves OUR OWN lease behind, and the restart
            # must take it over instead of deadlocking on itself
            # (Spark admits one active query per checkpoint, so a
            # same-owner live duplicate cannot exist); a DIFFERENT
            # writer's lease still fails the batch loudly
            upsert(
                spark, lake_path, latest, key_cols, version_col,
                lease_owner=f"upsert_stream:{checkpoint_dir}",
            )
        else:
            latest.write.mode("overwrite").parquet(lake_path)

    return _start_foreach_batch(
        updates, process_batch, checkpoint_dir, trigger_seconds,
        available_now, output_mode="update",
    )


def run_drift_monitor_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    baseline: DataFrame,
    group_col: str,
    value_col: str,
    out_path: str,
    checkpoint_dir: str,
    *,
    n_bins: int = 10,
    bin_width: float = 10.0,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuous distribution-drift monitoring: per micro-batch,
    compute the population stability index of each group's value
    distribution against a STATIC baseline table, and append one row
    per (batch, group) to the ``out_path`` ops lake — the streaming
    twin of the drift_psi_by_event_type query, with the same fixed
    bins + Laplace smoothing (alert on psi > 0.25).

    Baseline bin counts are computed ONCE up front (the monitor's
    contract: the reference distribution is pinned, e.g. last month's
    accepted traffic) and broadcast into every batch; each batch then
    costs one |batch|-scan bin-count plus a groups×bins-sized join —
    nothing stateful, so replays are idempotent via batch-keyed
    partition overwrite, like every foreachBatch sink here.
    """
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    def binned(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(group_col).alias("grp"),
            F.least(
                F.floor(F.col(value_col) / bin_width), F.lit(n_bins - 1)
            )
            .cast("long")
            .alias("bin"),
        ).filter(F.col("bin") >= 0)

    base_cnt = (
        binned(baseline)
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    )
    base_tot = base_cnt.groupBy("grp").agg(
        F.sum("n_base").cast("long").alias("t_base")
    )
    # pin the baseline EXECUTOR-side (VERDICT r4 item 4): persist +
    # materialize instead of collect-and-recreate, so a pathological
    # group_col (say, user_id → |groups|×n_bins rows) can never
    # bottleneck the driver; the broadcast below ships it per batch.
    # The source `baseline` is static, so an eviction recompute yields
    # the same counts. Released on query termination via
    # _register_stream_pins (ADVICE r5: restarts must not leak pins).
    base_df = base_cnt.join(base_tot, "grp").persist()
    base_df.count()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = (
            binned(batch_df)
            .groupBy("grp", "bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_cur"))
        )
        tot = cur.groupBy("grp").agg(
            F.sum("n_cur").cast("long").alias("t_cur")
        )
        j = (
            F.broadcast(base_df)
            .join(cur, ["grp", "bin"], "left")
            .join(F.broadcast(tot), "grp", "left")
            .select(
                "grp",
                (
                    (F.col("n_base") + 1)
                    / (F.col("t_base") + n_bins).cast("double")
                ).alias("pb"),
                (
                    (F.coalesce(F.col("n_cur"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("t_cur"), F.lit(0)) + n_bins).cast(
                        "double"
                    )
                ).alias("pc"),
            )
        )
        psi = j.groupBy("grp").agg(
            F.round(
                F.sum(
                    (F.col("pc") - F.col("pb"))
                    * F.log(F.col("pc") / F.col("pb"))
                ),
                6,
            ).alias("psi"),
            F.count(F.lit(1)).cast("long").alias("n_bins"),
        )
        write_partitioned(psi, out_path, [], batch_id=batch_id)
        release_intermediates()

    query = _start_foreach_batch(
        events_stream, process_batch, checkpoint_dir, trigger_seconds,
        available_now,
    )
    _register_stream_pins(spark, query, [base_df])
    return query


def run_quality_gate_stream(
    spark: SparkSession,
    rows_stream: DataFrame,
    rules: "dict[str, Column]",
    ok_path: str,
    dlq_path: str,
    report_path: str,
    checkpoint_dir: str,
    *,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuous data-contract enforcement: per micro-batch, split
    rows into the clean lake (every rule passes) and a rule-tagged DLQ
    (operators/quality.violating_rows), and append a per-rule summary
    (check_constraints) to the ops report lake — the streaming form of
    the batch quality gate, with the reference's DLQ philosophy
    (main.py:211-223) applied to declarative constraints instead of
    transform failures.

    All three writes are batch-keyed dynamic partition overwrites, so
    a replayed micro-batch converges to the same lake state. One scan
    of the batch serves both the split and the report (the constraint
    counts aggregate the same predicates the split evaluates)."""
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        persist_intermediate,
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.operators.quality import (
        check_constraints,
        violating_rows,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = persist_intermediate(batch_df)
        bad = violating_rows(batch_df, rules)
        # NOT an anti-join back onto bad: NULL-keyed rows never equal
        # themselves, so they would leak into ok — evaluate the same
        # predicates directly instead
        all_pass = None
        for pred in rules.values():
            p_ = F.coalesce(pred, F.lit(False))
            all_pass = p_ if all_pass is None else all_pass & p_
        ok = batch_df.filter(all_pass)
        report = check_constraints(batch_df, rules)
        write_partitioned(ok, ok_path, [], batch_id=batch_id)
        write_partitioned(
            bad.withColumn(
                "failed_rules", F.array_join("failed_rules", ",")
            ),
            dlq_path,
            [],
            batch_id=batch_id,
        )
        write_partitioned(report, report_path, [], batch_id=batch_id)
        release_intermediates()

    return _start_foreach_batch(
        rows_stream, process_batch, checkpoint_dir, trigger_seconds,
        available_now,
    )


def run_heavy_hitter_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    key_col: str,
    sketch_path: str,
    candidates_path: str,
    report_path: str,
    checkpoint_dir: str,
    *,
    depth: int | None = None,
    width: int | None = None,
    top_k: int = 20,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming heavy hitters over an unbounded key space with BOUNDED
    state — the streaming twin of the sketch_count_min_heavy_hitters
    query. Per micro-batch:

    1. a count–min sketch shard of the batch (depth×width counter rows,
       operators/sketches.py count_min_build) and the batch's own exact
       top-``top_k`` keys (the candidate feed) are appended
       batch-keyed → replaying a batch overwrites its own partitions,
       so the cumulative state is replay-idempotent;
    2. the CUMULATIVE sketch (sum per (d, b) across all batch shards —
       counter linearity) is probed with the union of all candidate
       keys seen so far, and the current global top-``top_k`` estimate
       is written batch-keyed to the report lake.

    State grows with batches × (depth×width + top_k) rows — never with
    key cardinality. Candidate recall follows the standard shard-HH
    argument: a key holding an α fraction globally holds ≥ α in some
    batch, so it enters the candidate feed; the sketch then scores it
    over ALL batches (including ones where it wasn't a local top-k).
    :func:`compact_batch_shards` folds old sketch shards (counter
    linearity) and candidate partitions (distinct) between runs, so
    the per-batch merge width stays bounded over months of batches.
    """
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.operators.sketches import (
        CM_DEPTH,
        CM_WIDTH,
        count_min_build,
        count_min_lookup,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    d_, w_ = depth or CM_DEPTH, width or CM_WIDTH

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # a crashed compact_batch_shards swap leaves these lakes absent
        # with the folded history in staging — complete it before the
        # batch-keyed append re-initializes the lake from one batch
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            recover_staged_swap,
        )

        recover_staged_swap(spark, sketch_path)
        recover_staged_swap(spark, candidates_path)
        sk = count_min_build(batch_df, key_col, depth=d_, width=w_)
        write_partitioned(sk, sketch_path, [], batch_id=batch_id,
                          coalesce_files=1)
        counts = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).cast("long").alias("_n")
        )
        cand = (
            counts.orderBy(F.desc("_n"), F.asc(key_col))
            .limit(top_k)
            .select(key_col)
        )
        write_partitioned(cand, candidates_path, [], batch_id=batch_id,
                          coalesce_files=1)

        from gcs_parquet_dataflow_spark.sinks.parquet_lake import read_table

        merged = (
            read_table(spark, sketch_path)
            .groupBy("d", "b")
            .agg(F.sum("n").cast("long").alias("n"))
        )
        cands = (
            read_table(spark, candidates_path).select(key_col).distinct()
        )
        est = count_min_lookup(merged, cands, key_col, depth=d_, width=w_)
        report = (
            est.orderBy(F.desc("n_cm"), F.asc(key_col))
            .limit(top_k)
            .select(key_col, "n_cm")
        )
        write_partitioned(report, report_path, [], batch_id=batch_id,
                          coalesce_files=1)
        release_intermediates()

    return _start_foreach_batch(
        events_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )


def run_aqp_stream(
    spark: SparkSession,
    rows_stream: DataFrame,
    group_col: str,
    sample_key: "F.Column",
    value: "F.Column",
    shards_path: str,
    report_path: str,
    checkpoint_dir: str,
    *,
    pct: int = 5,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming AQP: maintain the deterministic-Bernoulli sampled-sum
    estimate incrementally — the streaming twin of the
    ``aqp_sample_sum_ci`` query (VERDICT r7 item 7 / r8 item 5).  Per
    micro-batch:

    1. the batch's sample rows (``hash32(sample_key) % 100 < pct`` —
       the same salted-hash membership rule as the batch query, so the
       cumulative sample IS the batch query's sample, independent of
       how rows are split into batches) are partially aggregated into
       a SHARD of mergeable per-group sums — (n_sample, Σy, Σy² in
       DECIMAL(38,0), the round-9 overflow-audit form) — appended
       batch-keyed, so a replayed batch overwrites its own partition
       (the ``rollup_incremental_merge`` idempotency shape);
    2. the CUMULATIVE estimate (sums are linear, so merging shards ≡
       aggregating the union — the partial_agg/merge_partial_aggs
       contract) is written batch-keyed to the report lake:
       Horvitz–Thompson scale-up (×100/pct, exact integers) and the
       Poisson-variance 95% CI, the exact column contract of the batch
       row minus the exact-answer audit columns.

    At 100 TB: each shard is |groups| rows; merging reads
    batches × |groups| rows, never the corpus — ``aqp_sample_sum_ci``
    becomes an O(|groups|) refresh per batch instead of a full rescan.
    Run :func:`compact_batch_shards` between stream runs to fold the
    shard history (sums are linear, so folding is invisible to the
    estimate) and bound the merge's read width.  Equivalence with the
    batch row is pinned by
    tests/test_round9.py::test_aqp_stream_matches_batch_row; fold
    transparency by test_compact_batch_shards_aqp_end_to_end.
    """
    from gcs_parquet_dataflow_spark.functions.text import hash32
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    if not 0 < pct < 100 or 100 % pct:
        raise ValueError(
            f"pct must divide 100 (exact integer scale-up), got {pct}"
        )
    inv = 100 // pct  # Horvitz–Thompson 1/p
    # Poisson-sampling variance factor (1−p)/p², exact in integers
    varf = float((100 - pct) * 100) / float(pct * pct)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # complete a crashed compact_batch_shards swap before the
        # append (same lesson as run_upsert_stream's first-batch fence)
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            recover_staged_swap,
        )

        recover_staged_swap(spark, shards_path)
        samp = batch_df.filter(hash32(sample_key) % 100 < pct).select(
            group_col, value.alias("y")
        )
        shard = samp.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias(
                "sy2"
            ),
        )
        write_partitioned(shard, shards_path, [], batch_id=batch_id,
                          coalesce_files=1)
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import read_table

        merged = (
            read_table(spark, shards_path)
            .groupBy(group_col)
            .agg(
                F.sum("n_sample").cast("long").alias("n_sample"),
                F.sum("sy").cast("long").alias("sy"),
                F.sum("sy2").cast("decimal(38,0)").alias("sy2"),
            )
        )
        report = merged.select(
            group_col,
            "n_sample",
            (F.col("n_sample") * inv).cast("long").alias("est_rows"),
            (F.col("sy") * inv).cast("long").alias("est_sum_cents"),
            F.round(
                F.lit(1.96) * F.sqrt(F.col("sy2").cast("double") * F.lit(varf)),
                2,
            ).alias("ci95_cents"),
        )
        write_partitioned(report, report_path, [], batch_id=batch_id,
                          coalesce_files=1)
        release_intermediates()

    return _start_foreach_batch(
        rows_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )


def run_ann_ingest_stream(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    cents: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming vector ingestion into the persisted IVF ANN index:
    each micro-batch is assigned to inverted lists with the PINNED
    centroid table (operators/similarity.py ivf_assign — the same
    expression the batch builder uses) and written batch-keyed under
    the list partitions, so a replayed batch overwrites its own rows
    instead of duplicating index entries. ``ivf_query_index`` reads
    the growing index unchanged (the extra ``_batch_id`` partition
    level is just another column; list pruning still applies).

    This is the serving-side contract of every production IVF system:
    writes assign against frozen centroids in the ingest path;
    re-training centroids (train_pq_codebooks-style) and rebuilding is
    a scheduled maintenance job."""
    from gcs_parquet_dataflow_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        load_ivf_centroids,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    # pinned at stream START from the index's stored centroids when
    # present (a retrained index routes by its trained quantizer) —
    # and ONLY at start: a retrain while this stream runs requires the
    # stop/retrain/restart maintenance window retrain_ivf_index
    # documents, since a running closure would keep assigning by the
    # superseded centroids
    cents_ = (
        cents if cents is not None
        else (load_ivf_centroids(spark, index_path) or ivf_centroids())
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        assigned = batch_df.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            ivf_assign(F.col(vec_col), cents_).alias("_list"),
        )
        write_partitioned(
            assigned, index_path, ["_list"], batch_id=batch_id,
            coalesce_files=1,
        )

    return _start_foreach_batch(
        vec_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )


def run_decontamination_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    benchmark: DataFrame,
    clean_path: str,
    contam_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming benchmark decontamination: the eval benchmark's
    k-token window-hash set is computed ONCE (pinned, like the drift
    monitor's baseline — benchmarks are small and static by
    definition) and each arriving micro-batch of documents is split
    into the clean lake and the contaminated quarantine, batch-keyed
    (replay-idempotent). The same operator the batch query
    dedup_benchmark_decontaminate checks against DuckDB does the
    flagging, so batch and streaming verdicts agree by construction."""
    from gcs_parquet_dataflow_spark.operators.dedup import (
        benchmark_contamination,
    )
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    # pin the benchmark EXECUTOR-side (VERDICT r4 item 4): persist +
    # materialize, not collect-and-recreate — a large benchmark SUITE
    # must not round-trip through the driver; benchmark_contamination
    # builds its inverted index from the persisted table directly.
    # Released on query termination via _register_stream_pins.
    bench_df = benchmark.select(id_col, text_col).persist()
    bench_df.count()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        flags = benchmark_contamination(
            batch_df, bench_df, id_col, text_col, k=k
        ).select(id_col, "contam_fraction", "is_contaminated")
        joined = batch_df.join(flags, id_col, "left")
        contam = joined.filter(F.coalesce("is_contaminated", F.lit(False)))
        clean = joined.filter(
            ~F.coalesce(F.col("is_contaminated"), F.lit(False))
        ).drop("contam_fraction", "is_contaminated")
        write_partitioned(clean, clean_path, [], batch_id=batch_id,
                          coalesce_files=1)
        write_partitioned(contam, contam_path, [], batch_id=batch_id,
                          coalesce_files=1)
        release_intermediates()

    query = _start_foreach_batch(
        docs_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )
    _register_stream_pins(spark, query, [bench_df])
    return query


def run_classifier_filter_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    weights: "dict[int, int]",
    keep_path: str,
    drop_path: str,
    report_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int | None = None,
    min_prob: float = 0.5,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming deployment of the TRAINED quality classifier
    (operators/classifier.py): each micro-batch is featurized with
    the same hashed uni+bigram expression the trainer used, scored
    against the frozen weight table (broadcast — dim-bounded), and
    split on the EXACT integer margin (s ≥ logit(min_prob)·10⁶, so
    the gate can never flip on float rounding) into a keep lake and a
    drop lake, with a per-batch scoring report (n_in / n_kept /
    kept_frac / mean_prob). All three writes are batch-keyed dynamic
    partition overwrites — a replayed micro-batch converges to the
    same lake state (the run_quality_gate_stream contract, with a
    learned gate instead of declarative rules).

    This is the serve-side half of the fastText-shape filter every
    production pretraining pipeline deploys: train offline
    (train_quality_classifier — or any importer producing µ-unit
    weights), freeze, score forever. Re-training is a scheduled batch
    job that swaps the weight dict; the stream never re-derives
    model state, so state stays bounded and replay stays idempotent."""
    import math

    from gcs_parquet_dataflow_spark.operators.classifier import (
        HASH_DIM,
        MICRO,
        hashed_ngram_features,
        margin_scores,
    )
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        persist_intermediate,
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    dim_ = dim if dim is not None else HASH_DIM
    if not 0.0 < min_prob < 1.0:
        raise ValueError(f"min_prob must be in (0, 1), got {min_prob}")
    margin_min = int(round(math.log(min_prob / (1.0 - min_prob)) * MICRO))
    wrows = [(int(b), int(w)) for b, w in weights.items()] or [(0, 0)]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = persist_intermediate(batch_df)
        wdf = spark.createDataFrame(wrows, "bucket long, wv long")
        feats = hashed_ngram_features(batch_df, id_col, text_col, dim_)
        s = margin_scores(feats, wdf, id_col)
        scored = persist_intermediate(
            batch_df.join(s, id_col, "left")
            .withColumn("_s", F.coalesce("s", F.lit(0)).cast("long"))
            .drop("s")
            .withColumn(
                "clf_prob",
                F.round(
                    1.0 / (1.0 + F.exp(-F.col("_s").cast("double") / MICRO)),
                    6,
                ),
            )
        )
        keep = scored.filter(F.col("_s") >= margin_min).drop("_s")
        drop = scored.filter(F.col("_s") < margin_min).drop("_s")
        report = scored.agg(
            F.count(F.lit(1)).cast("long").alias("n_in"),
            F.count_if(F.col("_s") >= margin_min)
            .cast("long")
            .alias("n_kept"),
            F.round(F.avg("clf_prob"), 6).alias("mean_prob"),
        ).withColumn(
            "kept_frac",
            F.round(F.col("n_kept") / F.greatest("n_in", F.lit(1)), 6),
        )
        write_partitioned(keep, keep_path, [], batch_id=batch_id)
        write_partitioned(drop, drop_path, [], batch_id=batch_id)
        write_partitioned(
            report, report_path, [], batch_id=batch_id, coalesce_files=1
        )
        release_intermediates()

    return _start_foreach_batch(
        docs_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )


def _prune_batch_partitions(
    spark: SparkSession, path: str, keep_ids: set[int]
) -> None:
    """Delete ``_batch_id=N`` partition dirs under ``path`` for every
    N not in ``keep_ids`` — the superseded-state reaper shared by the
    ER stream's bloom and snapshot lakes (only the newest version is
    ever selected again; replays reach at most one batch back).
    Resolves the versioned-table pointer first: after any maintenance
    commit the live partitions sit in the current version dir, and
    pruning the stale flat dir would be a no-op against real growth."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import resolve_table

    path = resolve_table(spark, path)
    p = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("_batch_id="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid not in keep_ids:
                fs.delete(st.getPath(), True)


def run_rtbf_stream(
    spark: SparkSession,
    requests_stream: DataFrame,
    lakes: list[tuple[str, str]],
    audit_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "subject_key",
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming right-to-be-forgotten: arriving deletion requests
    propagate to EVERY registered versioned lake per micro-batch — the
    governance loop that turns the batch ``delete_keys`` primitive
    into a standing pipeline.  ``lakes`` is ``[(root, lake_key_col),
    …]``: the request's ``key_col`` (one subject-key space) is renamed
    into each lake's own key column, and each lake gets a NEW
    snapshot equal to its latest minus the requested rows
    (non-destructive — sinks/parquet_lake.delete_keys; complete the
    erasure with ``vacuum_versions`` after the retention window, the
    Delta VACUUM contract).

    A batch-keyed AUDIT table records (lake_root, n_keys,
    new_version) per lake — the compliance trail an erasure SLA is
    measured against.  The replay fence is an explicit ``_COMMITTED``
    marker written inside the audit partition AFTER its write commits
    (ADVICE r9: fencing on the bare partition directory let a torn
    audit write — dir created, job crashed mid-commit — fence out the
    replay forever, leaving the compliance trail permanently
    incomplete for that batch).  A batch whose marker exists is a
    replay of fully-applied work and SKIPS the lake commits
    (exactly-once in the common case); a partition WITHOUT the marker
    re-applies in full — content-idempotent (deleting absent keys is
    a no-op; the batch-keyed dynamic overwrite rewrites the audit
    partition), it just commits an extra identical version; the
    txn-id-in-commit-metadata upgrade that removes even that is what
    Delta's txn appIds add, documented not implemented.

    Scale shape: deletion lists are tiny (broadcast anti-join inside
    delete_keys — the big side never shuffles); cost per batch is one
    snapshot rewrite per lake, amortized by the trigger interval.  At
    100 TB, partition the lakes and version per partition (the
    write_version docstring's documented dial) so each request batch
    rewrites only the partitions holding its subjects."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
        delete_keys,
        latest_version,
        write_partitioned,
    )

    if not lakes:
        raise ValueError("at least one (root, key_col) lake is required")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        jvm = spark._jvm  # noqa: SLF001
        fence = jvm.org.apache.hadoop.fs.Path(
            audit_path + f"/_batch_id={int(batch_id)}"
        )
        fs = fence.getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )
        marker = jvm.org.apache.hadoop.fs.Path(fence, "_COMMITTED")
        if fs.exists(marker):
            return  # replay of a fully-applied batch
        keys = batch_df.select(key_col).distinct().localCheckpoint(
            eager=True
        )
        n_keys = keys.count()
        if n_keys == 0:
            return
        audit_rows = []
        for root, lake_col in lakes:
            if latest_version(spark, root) is None:
                # registered lake with no committed snapshot yet: the
                # erasure is vacuously satisfied — record it (NULL
                # version) instead of failing the whole request batch
                audit_rows.append((root, lake_col, n_keys, None))
                continue
            new_version = delete_keys(
                spark, root, keys.select(F.col(key_col).alias(lake_col)),
                lake_col,
            )
            audit_rows.append((root, lake_col, n_keys, new_version))
        audit = spark.createDataFrame(
            audit_rows,
            "lake_root string, lake_key string, n_keys long, "
            "new_version long",
        )
        write_partitioned(
            audit, audit_path, [], batch_id=batch_id, coalesce_files=1,
        )
        # marker LAST: only a fully-committed audit partition fences
        # out the replay (a crash anywhere above re-applies, which is
        # safe; a crash here just rewrites an identical audit)
        fs.create(marker, True).close()

    return _start_foreach_batch(
        requests_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )


def compact_batch_shards(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    *,
    keep_last: int = 2,
) -> None:
    """Offline compaction for ADDITIVE batch-keyed shard lakes — the
    ``run_aqp_stream`` sampled-sum shards and
    ``run_heavy_hitter_stream``'s count-min sketch shards (and its
    key-only candidate feed): fold every partition OLDER than the
    newest ``keep_last`` into a single partition under the oldest
    folded id, summing every non-key column dtype-preservingly
    (DECIMAL(38,0) accumulators stay decimal — ``merge_partial_aggs``'
    long cast would wrap them, which is why this helper exists).
    Exact because the per-batch readers only ever SUM (or, for
    key-only feeds, DISTINCT) across partitions — counter/sum
    linearity.  Without it these lakes grow one |groups|-sized
    partition per batch forever: ~1e5 batches/year at a 5-minute
    trigger.

    ``keep_last`` (≥ 1, enforced) keeps the newest ids untouched so a
    replay of the last (possibly uncommitted) batch still overwrites
    its OWN partition without its contribution also hiding inside a
    folded one — fold only what checkpoint replay can no longer
    reach.  Run between stream runs, like :func:`compact_golden_log`.

    Commit protocol (ADVICE r9): the fold is a single stage → delete →
    rename swap of the WHOLE lake (folded partition + the untouched
    ``keep_last`` partitions), never an in-place overwrite followed by
    a prune — the in-place form had a non-self-healing window where a
    crash between the fold write and the prune left BOTH the fold and
    the folded partitions present, and SUM-across-partitions readers
    double-counted them (re-running the compactor folded the
    duplicates in permanently).  A crash between the swap's delete and
    rename leaves the lake absent with the complete result in staging,
    which ``recover_staged_swap`` (called here, and by the shard-lake
    streaming writers before their first-batch read) completes."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
        recover_staged_swap,
        swap_lease,
    )

    if keep_last < 1:
        # folding the newest partition would double-count against a
        # replay of the last uncommitted batch (its own overwrite PLUS
        # its contribution inside the fold) — never allowed
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")

    recover_staged_swap(spark, path)
    with swap_lease(spark, path, "compact_batch_shards") as lease:
        df = spark.read.parquet(lease.resolved)
        ids = sorted(
            r["_batch_id"]
            for r in df.select("_batch_id").distinct().collect()
        )
        fold_ids = ids[: len(ids) - keep_last]
        if len(fold_ids) < 2:
            return
        old = df.filter(F.col("_batch_id").isin([int(i) for i in fold_ids]))
        sum_cols = [
            c for c in df.columns if c not in key_cols and c != "_batch_id"
        ]
        dtypes = dict(df.dtypes)
        if sum_cols:
            folded = old.groupBy(*key_cols).agg(
                *[F.sum(c).cast(dtypes[c]).alias(c) for c in sum_cols]
            )
        else:
            # key-only feed (heavy-hitter candidates): readers distinct it
            folded = old.select(*key_cols).distinct()
        folded = folded.withColumn(
            "_batch_id", F.lit(int(fold_ids[0])).cast(dtypes["_batch_id"])
        )
        kept = df.filter(
            F.col("_batch_id").isin([int(i) for i in ids[len(fold_ids):]])
        )
        staging = path.rstrip("/") + "__shards_compact_staging"
        (
            kept.unionByName(folded.select(*kept.columns))
            .repartition("_batch_id")  # one writer task per partition dir
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(staging)
        )
        lease.commit(staging)


def compact_golden_log(spark: SparkSession, golden_path: str) -> None:
    """Offline compaction for ``run_incremental_er_stream``'s
    ``golden_mode="log"`` lake: fold the per-entity latest rows into a
    single partition under the max ``_batch_id`` seen, then delete the
    superseded partitions.  The fold is exact (each log row is the
    entity's complete merged state at its batch), so a stream restart
    reads the compacted lake identically — and the read-side window
    shrinks back to |entities| rows.  Run BETWEEN stream runs, like
    ``linkage.recluster_members`` for the members lake.

    Commit protocol (round 10): stage → delete → rename of the whole
    lake, like :func:`compact_batch_shards` — the earlier in-place
    dynamic overwrite of the LIVE newest partition meant a torn fold
    write could lose that partition's original entity states with no
    recovery path (the folded copy and the original lived in the same
    directory).  The delete→rename window self-heals via
    ``recover_staged_swap`` (called here and by the ER stream's
    golden-lake fence)."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
        recover_staged_swap,
        swap_lease,
    )

    recover_staged_swap(spark, golden_path)
    with swap_lease(spark, golden_path, "compact_golden_log") as lease:
        df = spark.read.parquet(lease.resolved)
        latest = df.agg(F.max("_batch_id")).collect()[0][0]
        if latest is None:
            return
        from pyspark.sql import Window as WL

        wl = WL.partitionBy("entity_id").orderBy(F.col("_batch_id").desc())
        dtypes = dict(df.dtypes)
        folded = (
            df.withColumn("_rn", F.row_number().over(wl))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn(
                "_batch_id", F.lit(int(latest)).cast(dtypes["_batch_id"])
            )
        )
        staging = golden_path.rstrip("/") + "__golden_compact_staging"
        (
            folded.coalesce(1)
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(staging)
        )
        lease.commit(staging)


def run_incremental_er_stream(
    spark: SparkSession,
    records_stream: DataFrame,
    members_path: str,
    golden_path: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    attrs: list[str],
    passes: list,
    agreements: list,
    threshold: int,
    max_block_size=None,
    bloom_path: str | None = None,
    bloom_m_bits: int = 2**20,
    keep_golden_history: bool = False,
    golden_mode: str = "snapshot",
    ops_path: str | None = None,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Incremental entity resolution: arriving record batches are
    matched against the ACCUMULATED entity table instead of
    re-resolving the whole corpus (operators/linkage.py, streaming
    deployment). Per micro-batch:

    1. the current golden comparison view (min-id member's attributes
       per entity) is the LATEST golden snapshot with
       ``_batch_id < batch_id`` — a REPLAYED batch never observes its
       own prior output, and the members lake is never re-scanned in
       the hot path (snapshots are maintained INCREMENTALLY:
       merge_golden_views(prev snapshot, view(batch members)) ≡
       golden_view(all members), because every snapshot column is a
       mergeable aggregate);
    2. batch records probe it through the same blocking passes
       (linkage.blocked_pairs_between — Σ|block_l|·|block_r|, never
       |batch|×|entities|) and the same integer agreement weights;
       each record joins its best-scoring entity (ties: min
       entity_id — deterministic);
    3. records matching NO existing entity are resolved against each
       other (blocked self-join → threshold → connected components),
       so intra-batch duplicates still collapse; each new cluster's
       entity_id is its min record id (record ids must be globally
       unique across batches);
    4. the batch's (record, entity, attrs) rows land batch-keyed in
       the members lake and the refreshed golden snapshot
       (entity_id, n_records, canonical attrs) lands batch-keyed at
       ``golden_path`` — replays overwrite their own partitions, so
       both tables are replay-idempotent.

    Semantics note (standard incremental-ER approximation): two
    batch records that match two DIFFERENT existing entities do not
    merge those entities; a periodic full batch re-resolution
    (linkage.recluster_members over the members lake — tested to heal
    exactly this split shape) is the compaction step.

    ``bloom_path`` arms the entity-probe Bloom prefilter (round 8 —
    the same probe-against-history shape as the corpus ingest
    stream's): each batch writes a bloom of the REFRESHED snapshot's
    blocking keys (batch-keyed beside the snapshot, rebuilt per batch
    because entity canonical attrs — and therefore their keys — can
    change when entities absorb records; the rebuild is the same
    |entities| cost class as the snapshot rewrite it rides with).
    The next batch probes its records' blocking keys against the
    bloom matching the snapshot version it reads: records with NO
    passing key provably share no block with any entity (bloom has no
    false negatives) and skip the probe join; a batch with ZERO
    passing records skips candidate generation and scoring entirely —
    the all-novel fast path. Safety fences: the bloom partition is
    selected by the SAME _batch_id as the snapshot (a crash between
    the two writes just disables the prefilter for one batch, never
    desyncs it), and every word row is stamped with (m_bits, k) — a
    parameter mismatch falls back to the unfiltered probe instead of
    hashing into the wrong bit space (the ADVICE r7 false-negative
    trap). Equivalence with the unfiltered stream is pinned by
    tests/test_round8.py::test_er_stream_bloom_prefilter_equivalent.
    Superseded bloom partitions are pruned after each batch's pair
    lands (ADVICE r8 — only the newest snapshot's bloom is ever probed
    again; keeping them all would abandon ⌈m_bits/63⌉ words ≈ 136 MB
    per batch at 2^30-bit production sizing): the lake holds at most
    {this batch, the snapshot it consumed} at any time.  The GOLDEN
    SNAPSHOT lake gets the same treatment by default (round 9): each
    superseded snapshot is |entities|-sized — the dominant state
    growth at 100 TB — and gview selection only ever reads the latest
    one; the members lake remains the full durable record.  Pass
    ``keep_golden_history=True`` to preserve every snapshot version
    for time-travel consumers.

    Scale shape: per batch, cost is |batch| (probe + intra-batch
    resolution) + |entities| (the snapshot merge aggregate + rewrite);
    the corpus-sized members lake is append-only and read only by
    offline compaction / RTBF. All candidate joins are block-bounded
    and cap-guarded.

    ``golden_mode="log"`` (round 9 — the documented "next dial",
    shipped): the WRITE drops from |entities| to |touched entities|
    per batch.  Each batch appends only the post-merge rows of the
    entities it touched (batch-keyed — replay overwrites its own
    partition, idempotent as before); the current view is
    latest-version-wins per entity across the log (exact, because
    every appended row is that entity's COMPLETE merged state, not a
    delta).  The read-side fold costs one |log| window until
    :func:`compact_golden_log` folds the log back to a single
    partition — the standard LSM trade: O(|batch|) writes, read
    amplification bounded by compaction cadence.  Equivalence with
    snapshot mode is pinned by
    tests/test_round9.py::test_er_stream_golden_log_mode_equivalent.
    """
    from gcs_parquet_dataflow_spark.operators import linkage
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        persist_intermediate,
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    if golden_mode not in ("snapshot", "log"):
        raise ValueError(
            f"golden_mode must be 'snapshot' or 'log', got {golden_mode!r}"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = persist_intermediate(batch_df.select(id_col, *attrs))

        # a crashed compact_golden_log swap leaves the golden lake
        # absent with the fold in staging — complete it, or this fence
        # mistakes the crash for a first batch and re-resolves against
        # an empty entity table (the upsert-stream data-loss class)
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            recover_staged_swap,
        )

        recover_staged_swap(spark, golden_path)
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            read_table,
            table_exists,
        )

        best = None
        gview = None
        latest = None
        if table_exists(spark, golden_path):
            snaps = read_table(spark, golden_path).filter(
                F.col("_batch_id") < batch_id
            )
            latest = snaps.agg(F.max("_batch_id")).collect()[0][0]
            if latest is not None:
                # Eager localCheckpoint, NOT just a cache pin: the merged
                # snapshot derived from gview is written back OVER
                # golden_path below, and Spark's overwrite-while-reading
                # check only passes if the write plan carries no scan of
                # that path.  A cache substitution hides the scan most of
                # the time, but eviction or a missed cache match would
                # fail the batch at write time (ADVICE r6) — truncating
                # the lineage here makes the plan provably scan-free.
                if golden_mode == "log":
                    # log mode: every partition holds the COMPLETE
                    # post-merge state of just the entities that batch
                    # touched, so the current view is latest-version-
                    # wins per entity across the whole log
                    from pyspark.sql import Window as WL

                    wl = WL.partitionBy("entity_id").orderBy(
                        F.col("_batch_id").desc()
                    )
                    gview = (
                        snaps.withColumn(
                            "_rn", F.row_number().over(wl)
                        )
                        .filter(F.col("_rn") == 1)
                        .drop("_rn", "_batch_id")
                        .localCheckpoint(eager=True)
                    )
                else:
                    gview = (
                        snaps.filter(F.col("_batch_id") == latest)
                        .drop("_batch_id")
                        .localCheckpoint(eager=True)
                    )
        probe_batch = batch
        if gview is not None and bloom_path is not None and latest is not None:
            from gcs_parquet_dataflow_spark.operators.sketches import (
                BLOOM_K,
                bloom_probe,
            )

            bloom = None
            if table_exists(spark, bloom_path):
                words = (
                    read_table(spark, bloom_path)
                    .filter(F.col("_batch_id") == latest)
                )
                head = words.select("m_bits", "k").limit(1).collect()
                # absent partition (crash between snapshot and bloom
                # writes) or parameter mismatch → unfiltered probe;
                # never probe across a different (m_bits, k) space
                if head and (
                    head[0]["m_bits"] == int(bloom_m_bits)
                    and head[0]["k"] == int(BLOOM_K)
                ):
                    bloom = words.select("word_idx", "word")
            if bloom is not None:
                bk = linkage.blocking_keys(batch, id_col, passes)
                passing = (
                    bloom_probe(bk, bloom, "_bkey", m_bits=bloom_m_bits)
                    .filter(F.col("bloom_pass"))
                    .select("_rid")
                    .distinct()
                )
                probe_batch = persist_intermediate(
                    batch.join(
                        passing,
                        batch[id_col] == passing["_rid"],
                        "left_semi",
                    )
                )
                if probe_batch.limit(1).count() == 0:
                    # all-novel fast path: no record shares a block
                    # with any entity — skip candidate generation and
                    # scoring entirely
                    gview_probe = None
                else:
                    gview_probe = gview
            else:
                gview_probe = gview
        else:
            gview_probe = gview
        if gview_probe is not None:
            pairs = linkage.blocked_pairs_between(
                probe_batch, gview_probe, id_col, "entity_id", passes,
                max_block_size=max_block_size,
            )
            side_a = batch.select(
                F.col(id_col).alias("id_a"),
                *[F.col(c).alias(f"{c}_a") for c in attrs],
            )
            side_b = gview.select(
                F.col("entity_id").alias("id_b"),
                *[F.col(c).alias(f"{c}_b") for c in attrs],
            )
            scored = linkage.fellegi_sunter_score(
                pairs.join(side_a, "id_a").join(side_b, "id_b"),
                agreements,
            )
            best = (
                scored.filter(F.col("score") >= threshold)
                .groupBy("id_a")
                .agg(
                    F.min_by(
                        "id_b",
                        F.struct(
                            (-F.col("score")).alias("_ns"),
                            F.col("id_b").alias("_e"),
                        ),
                    ).alias("_ent")
                )
            )
        if best is not None:
            assigned = batch.join(
                best, batch[id_col] == best["id_a"], "left"
            ).drop("id_a")
        else:
            assigned = batch.withColumn("_ent", F.lit(None).cast("long"))
        assigned = persist_intermediate(assigned)

        matched = assigned.filter(F.col("_ent").isNotNull()).select(
            id_col, F.col("_ent").alias("entity_id"), *attrs
        )
        unmatched = assigned.filter(F.col("_ent").isNull()).drop("_ent")
        u_pairs = linkage.blocked_candidate_pairs(
            unmatched, id_col, passes, max_block_size=max_block_size,
        )
        u_scored = linkage.fellegi_sunter_score(
            linkage.pair_attributes(u_pairs, unmatched, id_col, attrs),
            agreements,
        )
        clusters = linkage.entity_clusters(
            unmatched,
            u_scored.filter(F.col("score") >= threshold)
            .select("id_a", "id_b"),
            id_col,
        )
        new_members = unmatched.join(clusters, id_col).select(
            id_col, F.col("cluster").alias("entity_id"), *attrs
        )
        members_batch = persist_intermediate(
            matched.unionByName(new_members)
        )
        write_partitioned(
            members_batch, members_path, [], batch_id=batch_id,
            coalesce_files=1,
        )
        batch_view = linkage.golden_view(members_batch, id_col, attrs)
        if gview is None:
            write_view = bloom_view = batch_view
            if bloom_path is not None and golden_mode == "log":
                # two consumers on the first log batch (golden write +
                # bloom build) — snapshot mode persists below
                write_view = bloom_view = persist_intermediate(batch_view)
        elif golden_mode == "log":
            # write ONLY the touched entities' post-merge rows — the
            # |batch|-proportional write that replaces the full
            # |entities| snapshot rewrite at scale; untouched entities'
            # latest rows stay where they are in the log
            touched_prev = gview.join(
                batch_view.select("entity_id"), "entity_id", "left_semi"
            )
            write_view = linkage.merge_golden_views(
                [touched_prev, batch_view], attrs
            )
            bloom_view = None
            if bloom_path is not None:
                # bloom needs the FULL key set (untouched entities can
                # still match the NEXT batch) — compose it from the
                # checkpointed gview, never by re-reading the log
                write_view = persist_intermediate(write_view)
                bloom_view = gview.join(
                    batch_view.select("entity_id"), "entity_id", "left_anti"
                ).unionByName(write_view)
        else:
            write_view = bloom_view = linkage.merge_golden_views(
                [gview, batch_view], attrs
            )
        if bloom_path is not None and golden_mode != "log":
            # two consumers (golden write + bloom build) — persist so
            # the merge aggregate runs once; safe to cache because the
            # snapshot's lineage never scans golden_path (gview is
            # localCheckpointed), so its own write can't recache it
            write_view = bloom_view = persist_intermediate(write_view)
        write_partitioned(
            write_view, golden_path, [], batch_id=batch_id,
            coalesce_files=1,
        )
        # partitions any future read (or a replay of THIS batch) can
        # still select: this batch's and `latest` — see prune comments
        keep_ids = {int(batch_id)}
        if latest is not None:
            keep_ids.add(int(latest))
        if bloom_path is not None:
            from gcs_parquet_dataflow_spark.operators.sketches import (
                BLOOM_K,
                bloom_build,
            )

            ekeys = linkage.blocking_keys(bloom_view, "entity_id", passes)
            words = bloom_build(
                ekeys, "_bkey", m_bits=bloom_m_bits
            ).select(
                "word_idx",
                "word",
                F.lit(int(bloom_m_bits)).alias("m_bits"),
                F.lit(int(BLOOM_K)).alias("k"),
            )
            write_partitioned(
                words, bloom_path, [], batch_id=batch_id, coalesce_files=1,
            )
            # prune superseded bloom partitions (ADVICE r8): only the
            # partition matching the snapshot a batch selects is ever
            # probed, so everything older than the pair just consumed
            # is dead weight — at the documented 2^30-bit production
            # sizing, ~136 MB of abandoned filter PER BATCH.  Keep this
            # batch's partition and `latest` (a replay of THIS batch
            # re-selects the `latest` snapshot and must find its bloom
            # — pruning it would only degrade the replay to the
            # unfiltered probe, but keeping it costs one partition);
            # delete the rest.  Replays never reach further back:
            # foreachBatch re-runs at most the newest uncommitted
            # batch id.
            _prune_batch_partitions(spark, bloom_path, keep_ids)
        if not keep_golden_history and golden_mode != "log":
            # same dead-weight argument for the SNAPSHOT lake (round 9,
            # extending the ADVICE r8 bloom prune): gview selection is
            # max(_batch_id < current), so only the latest snapshot is
            # ever read again — and each superseded partition is
            # |entities|-sized, the DOMINANT state growth at scale.
            # The members lake remains the durable append-only record;
            # keep_golden_history=True preserves every version for
            # time-travel consumers.  Log mode never prunes here: every
            # partition IS live state until compact_golden_log folds it.
            _prune_batch_partitions(spark, golden_path, keep_ids)
        if ops_path is not None:
            # batch-keyed guard-report persistence (r12): the blocking
            # cap's saturation and the clustering convergence verdicts
            # survive the driver and stay queryable (observability)
            from gcs_parquet_dataflow_spark.streaming.observability import (
                write_guard_reports,
            )

            write_guard_reports(spark, ops_path, batch_id=batch_id)
        release_intermediates()

    return _start_foreach_batch(
        records_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )


def run_embedding_dedup_stream(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_path: str,
    report_path: str,
    checkpoint_dir: str,
    *,
    threshold: float,
    planes: list[list[float]] | None = None,
    plane_tables: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_bucket_size=None,
    ops_path: str | None = None,
    trigger_seconds: int = DEFAULT_TRIGGER_S,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming SEMANTIC dedup of an embedding firehose (round 10 —
    the incremental deployment of ``cosine_batch_pairs``): per
    micro-batch,

    1. intra-batch near-dups collapse first (``cosine_dup_pairs``
       within the batch; a row duplicating a LOWER-id row in the same
       batch is dropped — the same min-id-keeps rule as the text
       dedup family);
    2. survivors probe the persisted bucket index
       (``cosine_batch_against_index`` — partition-pruned, cost
       Σ|batch_b|·|index_b|); rows matching ANY indexed vector at
       ``cos ≥ threshold`` are duplicates and are NOT indexed;
    3. novel rows append to the index under the batch's own
       ``_batch_id`` partition (dynamic overwrite — replay rewrites,
       never duplicates), and a batch-keyed report row set
       (kind ∈ {'intra', 'index'}, batch/corpus ids, cos) lands at
       ``report_path`` for audit.

    Replay safety, no marker needed: the index probe excludes the
    batch's OWN partition (``exclude_batch_id`` — without the fence a
    replayed batch would match against itself, flip its novel rows to
    "duplicate", and diverge), so the dedup decision is a pure
    function of prior batches' state; both writes are batch-keyed
    dynamic overwrites.  Every crash point therefore replays to the
    identical index and report — pinned by tests/test_round10.py.

    Scale shape: the per-batch cost is the batch's bucket joins (the
    corpus side read is partition-pruned to the batch's ≤|batch|·L
    buckets, and ``max_index_bucket_size`` arms the hot-bucket guard
    on that pruned corpus scan — without it a degenerate embedding
    cluster accumulating in ONE index bucket makes every later
    batch's probe cost grow without bound, ADVICE r10); the index
    grows one batch partition per trigger — bounded read
    amplification, same maintenance cadence story as the other
    per-batch-append lakes.  :func:`compact_cosine_index` is that
    maintenance job; it commits via delete→rename, so it MUST NOT run
    concurrently with an active trigger (the index path is briefly
    absent even crash-free — the lease in
    ``sinks.parquet_lake.swap_lease`` enforces this), and the
    handler heals a crashed compaction's delete→rename window via
    ``recover_staged_swap`` before treating an absent path as a fresh
    lake."""
    from gcs_parquet_dataflow_spark.operators.partitioning import (
        release_intermediates,
    )
    from gcs_parquet_dataflow_spark.operators.similarity import (
        build_cosine_bucket_index,
        cosine_batch_against_index,
        cosine_dup_pairs,
    )
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
        recover_staged_swap,
        write_partitioned,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.select(
            F.col(id_col).cast("long").alias(id_col), vec_col
        ).localCheckpoint(eager=True)
        # 1. intra-batch collapse (min id survives its own dup group)
        intra = cosine_dup_pairs(
            batch, threshold, planes=planes, plane_tables=plane_tables,
            id_col=id_col, vec_col=vec_col,
        ).localCheckpoint(eager=True)
        dropped = intra.select(F.col("id_b").alias(id_col)).distinct()
        survivors = batch.join(dropped, id_col, "left_anti")
        # 2. probe prior state (fenced against this batch's own rows).
        # recover FIRST (ADVICE r10): a compact_cosine_index that
        # crashed under the PRE-r12 delete→rename commit leaves the
        # index ABSENT with the full payload in staging — without
        # recovery this batch would mistake it for a fresh lake, skip
        # the corpus probe, and permanently index known duplicates as
        # novel (the run_upsert_stream pattern, r9).  The r12 versioned
        # commit has no such window; table_exists resolves the lake in
        # EITHER layout (after retention removes the flat remnant, a
        # raw fs.exists would be False while the index is alive in its
        # version dirs — the same fresh-lake mistake).
        recover_staged_swap(spark, index_path)
        from gcs_parquet_dataflow_spark.sinks.parquet_lake import (
            table_exists,
        )

        if table_exists(spark, index_path):
            hits = cosine_batch_against_index(
                spark, index_path, survivors, threshold, planes=planes,
                plane_tables=plane_tables, id_col=id_col, vec_col=vec_col,
                exclude_batch_id=batch_id,
                max_bucket_size=max_index_bucket_size,
            ).localCheckpoint(eager=True)
        else:
            hits = spark.createDataFrame(
                [], "batch_id long, corpus_id long, cos double"
            )
        dup_ids = hits.select(
            F.col("batch_id").alias(id_col)
        ).distinct()
        novel = survivors.join(dup_ids, id_col, "left_anti")
        # 3. commit: novel rows into the index, decisions into the report
        build_cosine_bucket_index(
            novel, index_path, planes=planes, plane_tables=plane_tables,
            id_col=id_col, vec_col=vec_col, batch_id=batch_id,
        )
        report = intra.select(
            F.lit("intra").alias("kind"),
            F.col("id_b").alias("dup_id"),
            F.col("id_a").alias("kept_id"),
            "cos",
        ).unionByName(
            hits.select(
                F.lit("index").alias("kind"),
                F.col("batch_id").alias("dup_id"),
                F.col("corpus_id").alias("kept_id"),
                "cos",
            )
        )
        write_partitioned(
            report, report_path, [], batch_id=batch_id, coalesce_files=1
        )
        if ops_path is not None:
            # persist this batch's guard verdicts (hot-bucket cap
            # saturation) batch-keyed to the ops lake — on a cluster
            # the in-memory registries die with the driver (r12)
            from gcs_parquet_dataflow_spark.streaming.observability import (
                write_guard_reports,
            )

            write_guard_reports(spark, ops_path, batch_id=batch_id)
        release_intermediates()

    return _start_foreach_batch(
        vec_stream, handle, checkpoint_dir, trigger_seconds, available_now
    )
