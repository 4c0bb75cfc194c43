"""Streaming tests (SURVEY §5 item 4): file-source ingestion through the
transform + DLQ with checkpointed exactly-once, and the bounded-state
dedup operator."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcs_parquet_dataflow_spark.config.model import load_configs
from gcs_parquet_dataflow_spark.plans.compiler import CompilerOptions
from gcs_parquet_dataflow_spark.streaming.pipeline import (
    dedup_within_watermark,
    run_streaming,
)

SCHEMA = T.StructType(
    [
        T.StructField("event_name", T.StringType()),
        T.StructField("user_id", T.LongType()),
    ]
)

CONFIG = load_configs(
    [
        {
            "config_id": "s",
            "source_gcs_prefix": "gs://unused/",
            "file_type": "PARQUET",
            "mixpanel_event_name_from_field": "event_name",
            "field_mappings": [
                {"source_field": "user_id", "mixpanel_field": "$user_id",
                 "type": "string"},
            ],
        }
    ]
)[0]


def test_streaming_file_source_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    dlq_dir = tmp_path / "dlq"
    captured: list[list[str]] = []

    def sink(df, batch_id):
        captured.append([r["event_json"] for r in df.collect()])

    spark.createDataFrame(
        [("click", 1), (None, 2)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))

    opts = CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u1"))
    q = run_streaming(
        spark, CONFIG, SCHEMA, str(ckpt), path=str(src), opts=opts,
        sink=sink, dlq_dir=str(dlq_dir), available_now=True,
    )
    q.awaitTermination(120)
    events = [json.loads(e) for batch in captured for e in batch]
    assert [e["event"] for e in events] == ["click"]
    assert events[0]["properties"]["$user_id"] == "1"
    dlq = spark.read.parquet(str(dlq_dir / "batch_id=0"))
    assert dlq.count() == 1
    assert dlq.first()["error_type"] == "missing_dynamic_event_name"

    # exactly-once: restart over the same checkpoint with no new files →
    # nothing is re-delivered (the reference's unkept Firestore promise)
    captured.clear()
    q2 = run_streaming(
        spark, CONFIG, SCHEMA, str(ckpt), path=str(src), opts=opts,
        sink=sink, dlq_dir=str(dlq_dir), available_now=True,
    )
    q2.awaitTermination(120)
    assert sum(len(b) for b in captured) == 0

    # new file arrives → only it is processed
    spark.createDataFrame([("buy", 3)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    captured.clear()
    q3 = run_streaming(
        spark, CONFIG, SCHEMA, str(ckpt), path=str(src), opts=opts,
        sink=sink, dlq_dir=str(dlq_dir), available_now=True,
    )
    q3.awaitTermination(120)
    events = [json.loads(e) for batch in captured for e in batch]
    assert [e["event"] for e in events] == ["buy"]


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """The real exactly-once claim (vs the reference's unimplemented
    Firestore idea, SURVEY §2.9): restart the query on the same
    checkpoint after new files arrive — already-processed files are NOT
    re-delivered, new files are."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    seen: list[str] = []

    def sink(df, batch_id):
        seen.extend(r["event_json"] for r in df.collect())

    opts = CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u"))

    def run_once():
        q = run_streaming(
            spark, CONFIG, SCHEMA, str(ckpt), path=str(src), opts=opts,
            sink=sink, available_now=True,
        )
        q.awaitTermination(120)

    spark.createDataFrame([("a", 1)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    first_count = len(seen)
    assert first_count == 1

    spark.createDataFrame([("b", 2)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    # exactly one new event; the first file was not re-processed
    assert len(seen) == first_count + 1
    assert sum('"a"' in s or "'a'" in s or '"event": "a"' in s for s in seen) == 1


def test_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys within the horizon are dropped; the operator runs
    and emits under append mode with a memory sink."""
    src = tmp_path / "dedup_in"
    src.mkdir()
    spark.createDataFrame(
        [
            ("gs://b/f1", "2024-01-01 00:00:00"),
            ("gs://b/f1", "2024-01-01 00:01:00"),  # dup within 5 min
            ("gs://b/f2", "2024-01-01 00:02:00"),
            ("gs://b/f1", "2024-01-01 00:30:00"),  # past horizon → passes
        ],
        "uri string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema("uri string, ts timestamp").parquet(str(src))
    )
    deduped = dedup_within_watermark(stream, ["uri"], "ts", "5 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["uri"], str(r["ts"])) for r in spark.sql("select * from dedup_out").collect()
    )
    # f1 kept once within horizon + once past it; f2 once
    uris = [u for u, _ in got]
    assert uris.count("gs://b/f2") == 1
    assert 1 <= uris.count("gs://b/f1") <= 2


def test_notification_stream_dedups_and_routes(spark, tmp_path, caplog):
    """The reference's notification-driven DAG (main.py:446-490) as a
    message stream: re-delivered URIs within the horizon are dropped by
    checkpointed dedup state (across micro-batches AND restarts), and
    each file's rows flow through the config its prefix routes to."""
    a_data = tmp_path / "a_data"
    b_data = tmp_path / "b_data"
    notif = tmp_path / "notif"
    notif.mkdir()
    ckpt = tmp_path / "ckpt"

    schema_a = T.StructType([
        T.StructField("event_name", T.StringType()),
        T.StructField("user_id", T.LongType()),
    ])
    schema_b = T.StructType([
        T.StructField("action", T.StringType()),
        T.StructField("uid", T.LongType()),
    ])
    configs = load_configs([
        {"config_id": "cfg_a", "source_gcs_prefix": str(a_data),
         "mixpanel_event_name_from_field": "event_name",
         "field_mappings": [
             {"source_field": "user_id", "mixpanel_field": "$user_id",
              "type": "string"}]},
        {"config_id": "cfg_b", "source_gcs_prefix": str(b_data),
         "mixpanel_event_name": "b_event",
         "field_mappings": [
             {"source_field": "uid", "mixpanel_field": "$user_id",
              "type": "string"}]},
    ])
    spark.createDataFrame([("click", 1), ("buy", 2)], schema_a).coalesce(
        1
    ).write.mode("append").parquet(str(a_data))
    spark.createDataFrame([("scroll", 7)], schema_b).coalesce(1).write.mode(
        "append"
    ).parquet(str(b_data))

    captured: list[tuple[str, str]] = []  # (config_id, event_json)

    def sink(config_id, df, batch_id):
        captured.extend((config_id, r["event_json"]) for r in df.collect())

    opts = CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u"))

    def notify(rows):
        spark.createDataFrame(rows, "uri string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(str(notif))

    def run_once():
        from gcs_parquet_dataflow_spark.streaming.pipeline import (
            run_notification_stream,
        )

        stream = spark.readStream.schema("uri string, ts timestamp").parquet(
            str(notif)
        )
        q = run_notification_stream(
            spark, configs,
            {"cfg_a": schema_a, "cfg_b": schema_b},
            stream, str(ckpt), opts=opts, sink=sink, available_now=True,
        )
        q.awaitTermination(120)

    # batch 1: A notified twice (in-batch re-delivery) + B once
    notify([
        (str(a_data), "2024-01-01 00:00:00"),
        (str(a_data), "2024-01-01 00:01:00"),  # dup within 5-min horizon
        (str(b_data), "2024-01-01 00:02:00"),
        (str(tmp_path / "unrouted"), "2024-01-01 00:02:30"),  # no config
    ])
    caplog.set_level("WARNING", logger="gcs_parquet_dataflow_spark")
    run_once()
    # the unrouted notification is counted and named, not dropped silently
    unmatched = [
        r.getMessage() for r in caplog.records
        if "match no config" in r.getMessage()
    ]
    assert unmatched == [
        f"stream batch 0: 1 notification(s) match no config, "
        f"e.g. {[str(tmp_path / 'unrouted')]}"
    ]
    a_events = [json.loads(e) for c, e in captured if c == "cfg_a"]
    b_events = [json.loads(e) for c, e in captured if c == "cfg_b"]
    # A's file processed ONCE despite two notifications
    assert sorted(e["event"] for e in a_events) == ["buy", "click"]
    assert all(e["properties"]["$user_id"] in ("1", "2") for e in a_events)
    # B routed to its own config + transform
    assert [e["event"] for e in b_events] == ["b_event"]
    assert b_events[0]["properties"]["$user_id"] == "7"

    # batch 2 (restart on same checkpoint): another A re-delivery within
    # the horizon → dropped by checkpointed dedup state
    captured.clear()
    notify([(str(a_data), "2024-01-01 00:03:00")])
    run_once()
    assert captured == []

    # batch 3: a genuinely new URI passes
    c_data = tmp_path / "a_data_v2"
    spark.createDataFrame([("signup", 9)], schema_a).coalesce(1).write.mode(
        "append"
    ).parquet(str(c_data))
    captured.clear()  # prefix str(a_data) also matches a_data_v2
    notify([(str(c_data), "2024-01-01 00:04:00")])
    run_once()
    got = [json.loads(e) for c, e in captured if c == "cfg_a"]
    assert [e["event"] for e in got] == ["signup"]


def test_sessionize_stream_merges_and_splits(spark, tmp_path):
    """Events within the gap merge into one session; a quiet period
    longer than the gap starts a new one; state is watermark-bounded."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import sessionize_stream

    src = tmp_path / "sess_in"
    src.mkdir()
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),   # within 30-min gap → same session
        (1, "2024-01-01 02:00:00"),   # 110 min quiet → new session
        (2, "2024-01-01 00:05:00"),
        # late sentinel far in the future: advances the watermark so the
        # sessions above close and emit under append mode
        (9, "2024-01-02 00:00:00"),
    ]
    spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        str(src)
    )
    q = (
        sessionize_stream(stream, "user_id", "ts", gap="30 minutes",
                          watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.sql("select * from sessions_out").collect()
    }
    assert (1, "2024-01-01 00:00:00", 2) in got      # merged pair
    assert (1, "2024-01-01 02:00:00", 1) in got      # split session
    assert (2, "2024-01-01 00:05:00", 1) in got


def _notifications(spark, tmp_path, uris):
    """A notification stream announcing ``uris`` in one micro-batch."""
    notif = tmp_path / "notif"
    spark.createDataFrame(
        [(u, "2024-01-01 00:00:00") for u in uris], "uri string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
        1
    ).write.parquet(str(notif))
    return spark.readStream.schema("uri string, ts timestamp").parquet(
        str(notif)
    )


def _event_config(config_id, prefix):
    return {
        "config_id": config_id, "source_gcs_prefix": prefix,
        "mixpanel_event_name_from_field": "event_name",
        "field_mappings": [
            {"source_field": "user_id", "mixpanel_field": "$user_id",
             "type": "string"}],
    }


def _run_unreachable_http(spark, tmp_path, runner, dlq_dir):
    """Run ``runner`` once (available_now) over two events posted to an
    unreachable HTTP sink (port 1 refuses instantly; one attempt, no
    retry sleep). The notification stream routes them to config "s"."""
    from gcs_parquet_dataflow_spark.sinks.http_batch import HttpSinkConfig
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_notification_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame([("click", 1), ("buy", 2)], SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    http_cfg = HttpSinkConfig(
        url="http://127.0.0.1:1/collect", max_retries=1, timeout_s=2,
    )
    ckpt = str(tmp_path / "ckpt")
    opts = CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u"))
    if runner == "run_streaming":
        q = run_streaming(
            spark, CONFIG, SCHEMA, ckpt, path=str(src), opts=opts,
            http_cfg=http_cfg, dlq_dir=dlq_dir, available_now=True,
        )
    else:
        q = run_notification_stream(
            spark, load_configs([_event_config("s", str(src))]),
            {"s": SCHEMA}, _notifications(spark, tmp_path, [str(src)]), ckpt,
            opts=opts, http_cfg=http_cfg, dlq_dir=dlq_dir, available_now=True,
        )
    q.awaitTermination(120)
    return q


@pytest.mark.parametrize("runner", ["run_streaming", "run_notification_stream"])
def test_streaming_http_path_writes_api_dlq(spark, tmp_path, runner):
    """Both streaming runners' HTTP branch end-to-end with an unreachable
    sink: delivery failures exhaust retries and land in the api DLQ lake
    (per config for the notification stream) — delivery failure is
    DATA, not a lost side effect."""
    dlq_dir = tmp_path / "dlq"
    q = _run_unreachable_http(spark, tmp_path, runner, str(dlq_dir))
    if runner == "run_streaming":
        api_dir = dlq_dir / "api_batch_id=0"
    else:
        api_dir = dlq_dir / "s" / "api_batch_id=0"
    assert q.exception() is None
    rows = spark.read.parquet(str(api_dir)).collect()
    assert len(rows) == 2
    assert all(r["status"] == "dlq" for r in rows)
    assert all("retries_exhausted" in r["detail"] for r in rows)


@pytest.mark.fast
@pytest.mark.parametrize("runner", ["run_streaming", "run_notification_stream"])
def test_streaming_http_failures_without_dlq_are_logged(
    spark, tmp_path, caplog, runner
):
    """With no ``dlq_dir`` the failed deliveries have nowhere to land:
    each runner logs their count (and, per config, the config) as a
    WARNING instead of dropping them silently."""
    caplog.set_level("WARNING", logger="gcs_parquet_dataflow_spark")
    q = _run_unreachable_http(spark, tmp_path, runner, None)
    assert q.exception() is None
    msgs = [
        r.getMessage() for r in caplog.records
        if r.name == "gcs_parquet_dataflow_spark.streaming.pipeline"
        and r.levelname == "WARNING"
    ]
    want = "stream batch 0: 2 event(s) failed HTTP delivery"
    if runner == "run_notification_stream":
        want = "stream batch 0 config s: 2 event(s) failed HTTP delivery"
    assert any(m.startswith(want) for m in msgs), msgs


TWO_CONFIGS = {"a": [("click", 1), ("buy", 2)], "b": [("view", 3)]}


def _config_stream(spark, tmp_path, rows_by_config):
    """One config per key of ``rows_by_config``, each with one small
    file of its rows, all announced in one micro-batch → (configs,
    schemas, notifications)."""
    uris = {}
    for cid, rows in rows_by_config.items():
        uris[cid] = str(tmp_path / cid)
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(uris[cid])
    configs = load_configs([_event_config(c, u) for c, u in uris.items()])
    return configs, dict.fromkeys(uris, SCHEMA), _notifications(
        spark, tmp_path, list(uris.values())
    )


@pytest.mark.fast
def test_notification_stream_jobs_stay_in_query_job_group(spark, tmp_path):
    """The per-config delivery threads inherit the query's job group
    (its runId): ``q.stop()`` cancels their jobs and per-query job
    counters see them. Each config runs at least two jobs here (its
    transform-DLQ write and the sink's collect) on top of the routing
    collect."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_notification_stream,
    )

    configs, schemas, notifications = _config_stream(spark, tmp_path, TWO_CONFIGS)
    got: dict[str, int] = {}

    def sink(config_id, df, batch_id):
        got[config_id] = len(df.collect())

    q = run_notification_stream(
        spark, configs, schemas, notifications, str(tmp_path / "ckpt"),
        opts=CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u")),
        sink=sink, dlq_dir=str(tmp_path / "dlq"), available_now=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert got == {"a": 2, "b": 1}
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) >= 1 + 2 * 2, jobs


@pytest.mark.fast
def test_notification_stream_config_failure_fails_the_batch(spark, tmp_path):
    """A config whose delivery raises fails the query once every config
    of the batch has finished; no config leaves its persisted batch
    cached."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_notification_stream,
    )

    configs, schemas, notifications = _config_stream(spark, tmp_path, TWO_CONFIGS)
    delivered: list[str] = []

    def sink(config_id, df, batch_id):
        if config_id == "a":
            raise RuntimeError("sink down for config a")
        delivered.append(config_id)
        df.collect()

    cached = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = cached()
    q = run_notification_stream(
        spark, configs, schemas, notifications, str(tmp_path / "ckpt"),
        opts=CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u")),
        sink=sink, available_now=True,
    )
    with pytest.raises(Exception, match="sink down for config a"):
        q.awaitTermination(120)
    assert q.exception() is not None
    assert delivered == ["b"]
    assert cached() <= before


@pytest.fixture
def max_partition_bytes(spark):
    """Set ``spark.sql.files.maxPartitionBytes`` for one test; restored
    after it."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)


@pytest.mark.fast
@pytest.mark.parametrize("wide", [False, True], ids=["narrow", "wide"])
def test_notification_stream_config_concurrency(
    spark, tmp_path, max_partition_bytes, wide
):
    """A batch's configs deliver side by side only as far as their read
    partitions fit the cores. Narrow: one partition each, more configs
    than ``defaultParallelism``; every config gets its own rows, never
    more configs at once than cores. Wide: ``maxPartitionBytes`` lowered
    so that each config's file needs every core; the configs run one at
    a time. Thread switches are made frequent so that a mix-up between
    the configs' threads would show."""
    import sys
    import threading
    import time

    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_notification_stream,
    )

    cores = spark.sparkContext.defaultParallelism
    rows = {f"c{i}": [("click", i)] for i in range(2 if wide else cores + 1)}
    configs, schemas, notifications = _config_stream(spark, tmp_path, rows)
    if wide:
        smallest = min(
            f.stat().st_size for c in rows for f in (tmp_path / c).glob("*.parquet")
        )
        max_partition_bytes(smallest // cores)
    lock = threading.Lock()
    active, peak, got = [0], [0], {}

    def sink(config_id, df, batch_id):
        with lock:
            active[0] += 1
            peak[0] = max(peak[0], active[0])
        time.sleep(0.5)  # hold the slot so that every free thread overlaps
        users = [
            json.loads(r["event_json"])["properties"]["$user_id"]
            for r in df.collect()
        ]
        with lock:
            got[config_id] = users
            active[0] -= 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        q = run_notification_stream(
            spark, configs, schemas, notifications, str(tmp_path / "ckpt"),
            opts=CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u")),
            sink=sink, available_now=True,
        )
        q.awaitTermination(120)
    finally:
        sys.setswitchinterval(interval)
    assert not q.isActive and q.exception() is None
    assert got == {cid: [str(r[0][1])] for cid, r in rows.items()}
    if wide:
        assert peak[0] == 1
    else:
        assert 2 <= peak[0] <= cores


@pytest.mark.fast
def test_in_job_group_without_pinned_threads(spark, monkeypatch):
    """With pinned threads off, PySpark's ``inheritable_thread_target``
    hands back the session it was given; the delivery target then runs
    unwrapped instead of calling the session."""
    from gcs_parquet_dataflow_spark.streaming import pipeline

    def target(x):
        return x + 1

    wrapped = pipeline._in_job_group(spark, target)
    assert wrapped is not target and wrapped(1) == 2
    monkeypatch.setattr(pipeline, "inheritable_thread_target", lambda f: f)
    assert pipeline._in_job_group(spark, target) is target


@pytest.mark.fast
def test_scan_partitions(spark, tmp_path, max_partition_bytes):
    """A read's partition target is ceil(scan bytes / maxPartitionBytes):
    12 tiny files → 1, and with the cap lowered to a third of the files'
    bytes → 3."""
    import math

    from gcs_parquet_dataflow_spark.streaming.pipeline import _scan_partitions

    path = tmp_path / "tiny"
    spark.range(120).selectExpr("id", "cast(id as string) s").repartition(
        12
    ).write.parquet(str(path))
    files = list(path.glob("*.parquet"))
    assert len(files) == 12
    read = lambda: spark.read.parquet(str(path))  # noqa: E731
    assert _scan_partitions(read()) == 1

    total = sum(f.stat().st_size for f in files)
    cap = math.ceil(total / 3)
    max_partition_bytes(cap)
    assert _scan_partitions(read()) == math.ceil(total / cap) == 3


@pytest.mark.fast
def test_every_write_stream_goes_through_the_one_start_up():
    """Guard: the only ``.writeStream`` in the package is the one in
    streaming/pipeline.py's ``_start_foreach_batch`` — every runner
    starts its query through that helper, so the foreachBatch →
    checkpoint → trigger scaffold cannot fork again."""
    import ast
    import pathlib

    import gcs_parquet_dataflow_spark

    root = pathlib.Path(gcs_parquet_dataflow_spark.__file__).parent
    sites = []  # (module, innermost enclosing function, line)

    def visit(node, module, fn_name):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Attribute) and child.attr == "writeStream":
                sites.append((module, fn_name, child.lineno))
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, module, child.name if is_fn else fn_name)

    for path in sorted(root.rglob("*.py")):
        module = path.relative_to(root).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), module, None)
    outside = [s for s in sites if s[:2] != (
        "streaming/pipeline.py", "_start_foreach_batch"
    )]
    assert not outside, (
        f".writeStream outside _start_foreach_batch: {outside} — start "
        "the query through streaming.pipeline._start_foreach_batch"
    )
    # the helper itself still holds the one site (the guard cannot rot)
    assert len(sites) == 1, sites


def test_join_streams_time_range(spark, tmp_path):
    """Stream-stream enrichment join: matches only within the tolerance
    window behind each event; outside-window and other-key rows drop."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import join_streams

    l_src, r_src = tmp_path / "l", tmp_path / "r"
    l_src.mkdir(); r_src.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "ev1"), (2, "2024-01-01 10:00:00", "ev2")],
        "user_id long, ts string, ev string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(str(l_src))
    spark.createDataFrame(
        [(1, "2024-01-01 09:55:00", "recent"),    # within 10 min → match
         (1, "2024-01-01 09:40:00", "stale"),     # too old → drop
         (1, "2024-01-01 10:05:00", "future"),    # after event → drop
         (3, "2024-01-01 09:58:00", "otherkey")], # key mismatch → drop
        "user_id long, r_ts string, tag string",
    ).withColumn("r_ts", F.col("r_ts").cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(str(r_src))

    lstream = spark.readStream.schema("user_id long, ts timestamp, ev string").parquet(str(l_src))
    rstream = spark.readStream.schema("user_id long, r_ts timestamp, tag string").parquet(str(r_src))
    q = (
        join_streams(lstream, rstream, "user_id", tolerance="10 minutes")
        .writeStream.format("memory").queryName("ss_join_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = [(r["ev"], r["tag"]) for r in spark.sql("select * from ss_join_out").collect()]
    assert got == [("ev1", "recent")]


def test_notification_bus_custom_source(spark, tmp_path):
    """The pluggable message-bus source (Python Data Source API): offset
    tracking resumes across query restarts — already-consumed messages
    are not re-read, new appends are."""
    from gcs_parquet_dataflow_spark.sources.notification_bus import (
        read_notification_bus,
    )

    bus = tmp_path / "bus"
    bus.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def publish(fname, msgs):
        (bus / fname).write_text(
            "\n".join(json.dumps(m) for m in msgs) + "\n"
        )

    def drain(qname):
        got: list = []

        def grab(df, batch_id):
            got.extend((r["uri"], str(r["ts"])) for r in df.collect())

        q = (
            read_notification_bus(spark, str(bus))
            .writeStream.foreachBatch(grab)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return got

    publish("000.jsonl", [
        {"uri": "gs://b/f1", "ts": "2024-01-01 00:00:00"},
        {"uri": "gs://b/f2", "ts": "2024-01-01 00:01:00"},
    ])
    got1 = drain("bus_out1")
    assert sorted(u for u, _ in got1) == ["gs://b/f1", "gs://b/f2"]

    # restart on the same checkpoint with no new messages → nothing
    got2 = drain("bus_out2")
    assert got2 == []

    # append → only the new message arrives
    publish("001.jsonl", [{"uri": "gs://b/f3", "ts": "2024-01-01 00:02:00"}])
    got3 = drain("bus_out3")
    assert [u for u, _ in got3] == ["gs://b/f3"]


def test_bus_source_through_notification_pipeline(spark, tmp_path):
    """Full S1 parity end-to-end: pluggable bus source → watermarked URI
    dedup → route → per-config read → compiled transform → sink."""
    from gcs_parquet_dataflow_spark.sources.notification_bus import (
        read_notification_bus,
    )
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_notification_stream,
    )

    bus = tmp_path / "bus"
    bus.mkdir()
    data = tmp_path / "data"
    spark.createDataFrame([("click", 5)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(data))
    (bus / "000.jsonl").write_text(
        json.dumps({"uri": str(data), "ts": "2024-01-01 00:00:00"}) + "\n"
        + json.dumps({"uri": str(data), "ts": "2024-01-01 00:01:00"}) + "\n"
    )
    configs = load_configs([
        {"config_id": "c", "source_gcs_prefix": str(data),
         "mixpanel_event_name_from_field": "event_name",
         "field_mappings": [
             {"source_field": "user_id", "mixpanel_field": "$user_id",
              "type": "string"}]},
    ])
    captured: list[str] = []

    def sink(config_id, df, batch_id):
        captured.extend(r["event_json"] for r in df.collect())

    q = run_notification_stream(
        spark, configs, {"c": SCHEMA},
        read_notification_bus(spark, str(bus)),
        str(tmp_path / "ckpt"),
        opts=CompilerOptions(now_epoch=F.lit(1700000000), uuid=F.lit("u")),
        sink=sink, available_now=True,
    )
    q.awaitTermination(120)
    events = [json.loads(e) for e in captured]
    # duplicate notification within the horizon → file read exactly once
    assert [e["event"] for e in events] == ["click"]
    assert events[0]["properties"]["$user_id"] == "5"


def test_join_streams_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: unmatched left rows emit with NULL
    right columns once the watermark proves no future match can arrive
    (advanced here by late rows on BOTH streams across a checkpointed
    restart; outer emission needs min-of-streams watermark progress)."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import join_streams

    l_src, r_src, ckpt = tmp_path / "l", tmp_path / "r", tmp_path / "ck"
    l_src.mkdir(); r_src.mkdir()

    def add_left(rows):
        spark.createDataFrame(
            rows, "user_id long, ts string, ev string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(str(l_src))

    def add_right(rows):
        spark.createDataFrame(
            rows, "user_id long, r_ts string, tag string"
        ).withColumn("r_ts", F.col("r_ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(str(r_src))

    add_left([(1, "2024-01-01 10:00:00", "ev1"),
              (5, "2024-01-01 10:00:00", "ev5")])   # no right match
    add_right([(1, "2024-01-01 09:55:00", "recent")])

    def run_once():
        lstream = spark.readStream.schema(
            "user_id long, ts timestamp, ev string"
        ).parquet(str(l_src))
        rstream = spark.readStream.schema(
            "user_id long, r_ts timestamp, tag string"
        ).parquet(str(r_src))
        q = (
            join_streams(lstream, rstream, "user_id",
                         tolerance="10 minutes", watermark="30 minutes",
                         how="leftOuter")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    # advance BOTH watermarks past ev5's match window (non-matching keys)
    add_left([(98, "2024-01-02 00:00:00", "adv_l")])
    add_right([(99, "2024-01-02 00:00:00", "adv_r")])
    run_once()
    run_once()  # one more cycle for the eviction micro-batch

    got = {(r["ev"], r["tag"])
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert ("ev1", "recent") in got          # matched row
    assert ("ev5", None) in got              # outer NULL after watermark
    assert ("adv_l", None) not in got        # its window is still open


def test_run_upsert_stream_applies_cdc_changes(spark, tmp_path):
    """CDC apply: streamed change records merge into the lake with
    max-version-wins per key across micro-batches; a second run picks
    up only new changes and cannot regress applied ones."""
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import read_table
    from gcs_parquet_dataflow_spark.streaming.pipeline import run_upsert_stream

    src = tmp_path / "changes"; src.mkdir()
    lake = str(tmp_path / "lake"); ckpt = str(tmp_path / "ck")

    def add_changes(rows):
        spark.createDataFrame(
            rows, "k long, payload string, version long"
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        updates = spark.readStream.schema(
            "k long, payload string, version long"
        ).parquet(str(src))
        q = run_upsert_stream(
            spark, updates, lake, ["k"], "version", ckpt,
            available_now=True,
        )
        q.awaitTermination(120)

    # batch 1: initial snapshot (+ an in-batch stale row that must lose)
    add_changes([(1, "a1", 1), (2, "b1", 1), (2, "b0-stale", 0)])
    run_once()
    got1 = {r["k"]: (r["payload"], r["version"])
            for r in read_table(spark, lake).collect()}
    assert got1 == {1: ("a1", 1), 2: ("b1", 1)}

    # batch 2: update k=2, insert k=3, stale change for k=1 loses
    add_changes([(2, "b2", 2), (3, "c1", 1), (1, "a0-stale", 0)])
    run_once()
    got2 = {r["k"]: (r["payload"], r["version"])
            for r in read_table(spark, lake).collect()}
    assert got2 == {1: ("a1", 1), 2: ("b2", 2), 3: ("c1", 1)}


def test_stream_metrics_recorder_captures_batch_progress(spark, tmp_path):
    """The listener-based ops table records one row per committed
    micro-batch with real row counts, and is queryable as a DataFrame."""
    from gcs_parquet_dataflow_spark.streaming.observability import (
        record_metrics,
        stop_recording,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, s string") \
        .coalesce(1).write.mode("overwrite").parquet(str(indir / "f1"))
    rec = record_metrics(spark)
    try:
        q = (
            spark.readStream.schema("id long, s string")
            .parquet(str(indir / "f1"))
            .writeStream.format("memory")
            .queryName("obs_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        assert rec.wait_for_batches(1), "no progress events delivered"
        df = rec.to_dataframe(spark)
        rows = df.collect()
        assert sum(r["n_input_rows"] for r in rows) == 3
        assert all(r["trigger_ms"] >= 0 for r in rows)
        assert any(r["query_name"] == "obs_out" for r in rows)
        # the ops table composes with the query surface
        agg = df.groupBy("query_name").agg(
            F.sum("n_input_rows").alias("rows")
        ).collect()
        assert {r["query_name"]: r["rows"] for r in agg}["obs_out"] == 3
    finally:
        stop_recording(spark, rec)


def test_drift_monitor_stream_flags_shifted_batch(spark, tmp_path):
    """Two micro-batches against a pinned baseline: the in-distribution
    batch scores a small PSI, the shifted batch a large one, and rows
    land batch-keyed in the ops lake."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_drift_monitor_stream,
    )

    baseline = spark.createDataFrame(
        [("a", float(v % 100)) for v in range(400)], "grp string, value double"
    )
    indir = tmp_path / "in"
    indir.mkdir()
    stable = spark.createDataFrame(
        [("a", float((v * 7) % 100)) for v in range(200)],
        "grp string, value double",
    )
    shifted = spark.createDataFrame(
        [("a", float(90 + (v % 10))) for v in range(200)],
        "grp string, value double",
    )
    stable.coalesce(1).write.parquet(str(indir / "b0"))
    shifted.coalesce(1).write.parquet(str(indir / "b1"))
    stream = (
        spark.readStream.schema("grp string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "*"))
    )
    q = run_drift_monitor_stream(
        spark,
        stream,
        baseline,
        "grp",
        "value",
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        available_now=True,
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 2
    psi = {r["_batch_id"]: r["psi"] for r in rows}
    assert len(psi) == 2
    lo, hi = sorted(psi.values())
    assert lo < 0.25 < hi          # shifted batch alarms, stable doesn't
    assert all(r["n_bins"] == 10 for r in rows)


def test_quality_gate_stream_splits_and_reports_per_batch(spark, tmp_path):
    """Rows failing any contract rule (including NULLs — unknown ≠
    pass) land rule-tagged in the DLQ; clean rows in the lake; the
    per-rule report is batch-keyed. Replay-idempotent by construction."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_quality_gate_stream,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "b"), (3, None, "c"), (4, 7.0, None)],
        "id long, value double, name string",
    ).coalesce(1).write.parquet(str(indir / "b0"))
    stream = spark.readStream.schema(
        "id long, value double, name string"
    ).parquet(str(indir / "*"))
    rules = {
        "value_positive": F.col("value") > 0,
        "name_present": F.col("name").isNotNull(),
    }
    q = run_quality_gate_stream(
        spark,
        stream,
        rules,
        str(tmp_path / "ok"),
        str(tmp_path / "dlq"),
        str(tmp_path / "rep"),
        str(tmp_path / "ck"),
        available_now=True,
    )
    q.awaitTermination(120)
    ok = {r["id"] for r in spark.read.parquet(str(tmp_path / "ok")).collect()}
    assert ok == {1}
    dlq = {r["id"]: r["failed_rules"] for r in
           spark.read.parquet(str(tmp_path / "dlq")).collect()}
    assert dlq == {2: "value_positive", 3: "value_positive",
                   4: "name_present"}
    rep = {r["rule"]: r["n_violations"] for r in
           spark.read.parquet(str(tmp_path / "rep")).collect()}
    assert rep == {"value_positive": 2, "name_present": 1}


def test_heavy_hitter_stream_tracks_global_top_keys(spark, tmp_path):
    """Two micro-batches with a planted globally-heavy key: the report
    after the second batch scores the heavy key at/above its true
    cumulative count (CM upper bound), ranks it first, and replaying a
    batch (same batch id) leaves the cumulative state unchanged
    (idempotent batch-keyed shards)."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_heavy_hitter_stream,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    # batch 0: "hot" 50×, others 1-2×; batch 1: "hot" 30×, "warm" 25×
    b0 = spark.createDataFrame(
        [("hot",)] * 50 + [(f"k{i}",) for i in range(30)], "key string"
    )
    b1 = spark.createDataFrame(
        [("hot",)] * 30 + [("warm",)] * 25 + [(f"j{i}",) for i in range(20)],
        "key string",
    )
    b0.coalesce(1).write.parquet(str(indir / "b0"))
    b1.coalesce(1).write.parquet(str(indir / "b1"))
    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "*"))
    )
    paths = dict(
        sketch_path=str(tmp_path / "sk"),
        candidates_path=str(tmp_path / "cand"),
        report_path=str(tmp_path / "rep"),
    )
    q = run_heavy_hitter_stream(
        spark, stream, "key", checkpoint_dir=str(tmp_path / "ck"),
        available_now=True, **paths
    )
    q.awaitTermination(120)

    rep = spark.read.parquet(paths["report_path"])
    last = rep.filter(F.col("_batch_id") == rep.agg(F.max("_batch_id")).first()[0])
    rows = sorted(last.collect(), key=lambda r: (-r["n_cm"], r["key"]))
    assert rows[0]["key"] == "hot" and rows[0]["n_cm"] >= 80
    assert {"warm"} <= {r["key"] for r in rows[:2]} | {rows[1]["key"]}
    assert rows[1]["n_cm"] >= 25

    # replay idempotence: re-writing batch 0's shards must not change
    # the cumulative sketch (dynamic partition overwrite of _batch_id=0)
    from gcs_parquet_dataflow_spark.operators.sketches import count_min_build
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned

    before = sorted(
        map(tuple, spark.read.parquet(paths["sketch_path"])
            .groupBy("d", "b").agg(F.sum("n").alias("n")).collect())
    )
    write_partitioned(
        count_min_build(b0, "key"), paths["sketch_path"], [], batch_id=0,
        coalesce_files=1,
    )
    after = sorted(
        map(tuple, spark.read.parquet(paths["sketch_path"])
            .groupBy("d", "b").agg(F.sum("n").alias("n")).collect())
    )
    assert before == after


def test_ann_ingest_stream_grows_index_idempotently(spark, tmp_path):
    """Two micro-batches of vectors stream into the IVF index; queries
    against the streamed index match a batch rebuild over the same
    vectors, and replaying a batch (same id) changes nothing."""
    from gcs_parquet_dataflow_spark.catalog import load_table
    from gcs_parquet_dataflow_spark.operators import similarity as SIM
    from gcs_parquet_dataflow_spark.sinks.parquet_lake import write_partitioned
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_ann_ingest_stream,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b0 = e.filter(F.col("vec_id") % 2 == 0)
    b1 = e.filter(F.col("vec_id") % 2 == 1)
    indir = tmp_path / "vecs"
    indir.mkdir()
    b0.coalesce(1).write.parquet(str(indir / "b0"))
    b1.coalesce(1).write.parquet(str(indir / "b1"))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "*"))
    )
    idx = str(tmp_path / "ivf_stream")
    q = run_ann_ingest_stream(
        spark, stream, idx, str(tmp_path / "ck"), available_now=True
    )
    q.awaitTermination(120)

    rebuilt = str(tmp_path / "ivf_rebuild")
    SIM.build_ivf_index(e, rebuilt)
    probe = e.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, SIM.ivf_query_index(spark, idx, probe, k=5).collect()))
    b = sorted(map(tuple, SIM.ivf_query_index(spark, rebuilt, probe, k=5).collect()))
    assert a == b and len(a) > 0

    # replay batch 0: same batch id overwrites its own partition
    from pyspark.sql import functions as SF

    assigned = b0.select(
        SF.col("vec_id").alias("neighbor_id"),
        SF.col("embedding").alias("_cv"),
        SIM.ivf_assign(SF.col("embedding"), SIM.ivf_centroids()).alias("_list"),
    )
    write_partitioned(assigned, idx, ["_list"], batch_id=0, coalesce_files=1)
    a2 = sorted(map(tuple, SIM.ivf_query_index(spark, idx, probe, k=5).collect()))
    assert a2 == a


def test_decontamination_stream_quarantines_benchmark_quoters(spark, tmp_path):
    """Two micro-batches against a pinned benchmark: docs quoting an
    8-token benchmark window land in quarantine with their overlap
    fraction; clean docs flow to the clean lake; short docs (no
    windows) count as clean."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_decontamination_stream,
    )

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    b0 = spark.createDataFrame(
        [
            (1, "intro alpha beta gamma delta epsilon zeta eta theta outro"),
            (2, "completely clean text with plenty of harmless words inside"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(3, "another clean document of sufficient length for windows"),
         (4, "tiny")],
        "doc_id long, text string",
    )
    indir = tmp_path / "in"
    indir.mkdir()
    b0.coalesce(1).write.parquet(str(indir / "b0"))
    b1.coalesce(1).write.parquet(str(indir / "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "*"))
    )
    q = run_decontamination_stream(
        spark, stream, bench,
        str(tmp_path / "clean"), str(tmp_path / "contam"),
        str(tmp_path / "ck"), available_now=True,
    )
    q.awaitTermination(120)

    contam = spark.read.parquet(str(tmp_path / "contam"))
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert {r["doc_id"] for r in contam.collect()} == {1}
    assert contam.first()["contam_fraction"] > 0
    assert {r["doc_id"] for r in clean.collect()} == {2, 3, 4}


def test_classifier_filter_stream_scores_and_is_replay_idempotent(
    spark, tmp_path
):
    """Streaming deployment of the trained quality classifier: train
    offline on planted good/spam classes, stream two micro-batches of
    UNSEEN docs drawn from the same vocabularies, and check the
    margin gate routes them by class, the per-batch report is sane,
    and a full replay (fresh checkpoint, same input and lake paths)
    converges to the identical lake state — batch-keyed overwrites,
    no duplication."""
    from gcs_parquet_dataflow_spark.operators.classifier import (
        train_quality_classifier,
    )
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_classifier_filter_stream,
    )

    good = ["the", "quick", "brown", "fox", "jumps", "analysis",
            "report", "summary", "data", "result"]
    spam = ["buy", "cheap", "now", "click", "winner", "free",
            "offer", "deal", "prize", "cash"]
    train_rows = [
        (i, " ".join(good[(i + j) % 10] for j in range(12)), 1)
        for i in range(20)
    ] + [
        (i, " ".join(spam[(i + j) % 10] for j in range(12)), 0)
        for i in range(20, 40)
    ]
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string, y long"
    )
    weights = train_quality_classifier(
        train, "doc_id", "text", train.select("doc_id", "y")
    )
    assert weights  # trained something

    # unseen docs: different phrase rotations than any training doc
    b0 = spark.createDataFrame(
        [(100, " ".join(good[(3 * j) % 10] for j in range(9))),
         (101, " ".join(spam[(3 * j) % 10] for j in range(9)))],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(102, " ".join(good[(7 * j + 1) % 10] for j in range(9))),
         (103, " ".join(spam[(7 * j + 1) % 10] for j in range(9)))],
        "doc_id long, text string",
    )
    indir = tmp_path / "in"
    indir.mkdir()
    b0.coalesce(1).write.parquet(str(indir / "b0"))
    b1.coalesce(1).write.parquet(str(indir / "b1"))

    def run(ck: str) -> None:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir / "*"))
        )
        q = run_classifier_filter_stream(
            spark, stream, weights,
            str(tmp_path / "keep"), str(tmp_path / "drop"),
            str(tmp_path / "rep"), str(tmp_path / ck),
            available_now=True,
        )
        q.awaitTermination(120)

    run("ck1")
    keep1 = sorted(
        (r["doc_id"], r["clf_prob"])
        for r in spark.read.parquet(str(tmp_path / "keep")).collect()
    )
    drop1 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "drop")).collect()
    )
    assert [d for d, _ in keep1] == [100, 102]
    assert drop1 == [101, 103]
    assert all(p >= 0.5 for _, p in keep1)
    rep = spark.read.parquet(str(tmp_path / "rep"))
    assert rep.count() == 2  # one report row per micro-batch
    assert {r["n_in"] for r in rep.collect()} == {2}
    assert {r["n_kept"] for r in rep.collect()} == {1}
    assert {r["kept_frac"] for r in rep.collect()} == {0.5}

    # full replay with a fresh checkpoint: identical lake state
    run("ck2")
    keep2 = sorted(
        (r["doc_id"], r["clf_prob"])
        for r in spark.read.parquet(str(tmp_path / "keep")).collect()
    )
    assert keep2 == keep1
    assert spark.read.parquet(str(tmp_path / "rep")).count() == 2


def test_incremental_er_stream_matches_and_is_replay_idempotent(
    spark, tmp_path
):
    """Incremental entity resolution: batch 0 plants an intra-batch
    duplicate pair plus a singleton; batch 1 brings a NEW spelling of
    the batch-0 entity (must join it, not start a new one), an
    unrelated singleton, and a fresh intra-batch pair. The members
    lake must carry exactly four entities, and a full replay (fresh
    checkpoint, same lake paths) must converge to the identical
    state — batch-keyed overwrites, no double-counted members."""
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_incremental_er_stream,
    )

    b0 = spark.createDataFrame(
        [
            (1, "Acme Corp 01", "springfield", 1000),
            (2, "ACME CORP 01", "springfield", 1005),
            (3, "Zenith Ltd 77", "metropolis", 5000),
        ],
        "rid long, name string, city string, bal long",
    )
    b1 = spark.createDataFrame(
        [
            (10, "acme corp 01", "springfield", 1002),
            (11, "Nadir Inc 99", "gotham", 7000),
            (12, "Widget Co 55", "gotham", 2000),
            (13, "WIDGET CO 55", "gotham", 2003),
        ],
        "rid long, name string, city string, bal long",
    )
    indir = tmp_path / "in"
    indir.mkdir()
    b0.coalesce(1).write.parquet(str(indir / "b0"))
    b1.coalesce(1).write.parquet(str(indir / "b1"))

    def norm(c):
        return F.lower(F.regexp_replace(F.col(c), "[^A-Za-z0-9]", ""))

    def run(ck: str) -> None:
        stream = (
            spark.readStream
            .schema("rid long, name string, city string, bal long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir / "*"))
        )
        q = run_incremental_er_stream(
            spark, stream,
            str(tmp_path / "members"), str(tmp_path / "golden"),
            str(tmp_path / ck),
            id_col="rid",
            attrs=["name", "city", "bal"],
            passes=[
                ("nm", F.regexp_replace(F.col("name"), "[^0-9]", "")),
                ("city", F.col("city")),
            ],
            agreements=[
                (norm("name_a") == norm("name_b"), 50),
                (F.col("city_a") == F.col("city_b"), 10),
                (F.abs(F.col("bal_a") - F.col("bal_b")) <= 10, 30),
            ],
            threshold=60,
            available_now=True,
        )
        q.awaitTermination(120)

    run("ck1")
    members1 = sorted(
        (r["rid"], r["entity_id"])
        for r in spark.read.parquet(str(tmp_path / "members")).collect()
    )
    # 1/2 intra-batch pair -> entity 1; 10 joins it ACROSS batches;
    # 3 and 11 singletons; 12/13 intra-batch pair -> entity 12
    assert members1 == [
        (1, 1), (2, 1), (3, 3), (10, 1), (11, 11), (12, 12), (13, 13 - 1),
    ]
    golden = spark.read.parquet(str(tmp_path / "golden"))
    latest_id = golden.agg(F.max("_batch_id")).collect()[0][0]
    latest = {
        r["entity_id"]: (r["n_records"], r["name"])
        for r in golden.filter(F.col("_batch_id") == latest_id).collect()
    }
    assert latest == {
        1: (3, "Acme Corp 01"),
        3: (1, "Zenith Ltd 77"),
        11: (1, "Nadir Inc 99"),
        12: (2, "Widget Co 55"),
    }

    # full replay with a fresh checkpoint: identical members lake
    run("ck2")
    members2 = sorted(
        (r["rid"], r["entity_id"])
        for r in spark.read.parquet(str(tmp_path / "members")).collect()
    )
    assert members2 == members1


def test_incremental_er_snapshot_equals_full_members_view(spark, tmp_path):
    """Incremental snapshot maintenance correctness: after the stream
    in the previous test's shape runs, the latest golden snapshot must
    EQUAL golden_view(entire members lake) — merge(prev, batch) is a
    true substitute for the full re-aggregate."""
    from gcs_parquet_dataflow_spark.operators import linkage
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_incremental_er_stream,
    )

    b0 = spark.createDataFrame(
        [(1, "Acme Corp 01", "springfield", 1000),
         (2, "ACME CORP 01", "springfield", 1005),
         (3, "Zenith Ltd 77", "metropolis", 5000)],
        "rid long, name string, city string, bal long",
    )
    b1 = spark.createDataFrame(
        [(10, "acme corp 01", "springfield", 1002),
         (11, "Nadir Inc 99", "gotham", 7000)],
        "rid long, name string, city string, bal long",
    )
    indir = tmp_path / "in"
    indir.mkdir()
    b0.coalesce(1).write.parquet(str(indir / "b0"))
    b1.coalesce(1).write.parquet(str(indir / "b1"))

    def norm(c):
        return F.lower(F.regexp_replace(F.col(c), "[^A-Za-z0-9]", ""))

    stream = (
        spark.readStream
        .schema("rid long, name string, city string, bal long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir / "*"))
    )
    q = run_incremental_er_stream(
        spark, stream,
        str(tmp_path / "members"), str(tmp_path / "golden"),
        str(tmp_path / "ck"),
        id_col="rid", attrs=["name", "city", "bal"],
        passes=[("nm", F.regexp_replace(F.col("name"), "[^0-9]", "")),
                ("city", F.col("city"))],
        agreements=[(norm("name_a") == norm("name_b"), 50),
                    (F.col("city_a") == F.col("city_b"), 10),
                    (F.abs(F.col("bal_a") - F.col("bal_b")) <= 10, 30)],
        threshold=60,
        available_now=True,
    )
    q.awaitTermination(120)

    golden = spark.read.parquet(str(tmp_path / "golden"))
    latest_id = golden.agg(F.max("_batch_id")).collect()[0][0]
    latest = sorted(
        map(tuple, golden.filter(F.col("_batch_id") == latest_id)
            .drop("_batch_id")
            .select("entity_id", "n_records", "canonical_id",
                    "name", "city", "bal").collect())
    )
    members = spark.read.parquet(str(tmp_path / "members")).drop("_batch_id")
    full = sorted(
        map(tuple, linkage.golden_view(members, "rid",
                                       ["name", "city", "bal"])
            .select("entity_id", "n_records", "canonical_id",
                    "name", "city", "bal").collect())
    )
    assert latest == full and len(full) == 3  # entities 1 (3 recs), 3, 11
