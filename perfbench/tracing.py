"""Traced run: spans around the package's public calls, recorded from
the benchmark's side, plus deterministic counters.

- Spans: every binding of each wrapped public function is replaced
  (``from x import f`` copies included), and DataFrame actions and
  writer saves are wrapped on their classes. A span has a name (its
  layer), start, end, parent, op id and the py4j calls made inside it.
  Spans stay in memory; ``report`` turns them into per-layer self times.
- py4j calls: ``ClientServerConnection.send_command`` is counted, except
  memory-release (``m``) commands, which the garbage collector issues at
  arbitrary times, and the tracer's own calls.
- Spark jobs/stages/tasks, shuffle and spill: the measured phase runs in
  one job group (a stream's batches run in its query's group); the
  counts come from ``statusTracker`` and the status store.
- Files, dirs and bytes written: the output dirs are walked before and
  after the measured phase.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "perfbench-measured"

# (module, attribute) → layer: public functions the workloads reach
FUNCTIONS = (
    ("gcs_parquet_dataflow_spark.plans.compiler", "compile_config", "compiler"),
    ("gcs_parquet_dataflow_spark.sources.batch", "plan_batch", "batch"),
    ("gcs_parquet_dataflow_spark.operators.routing", "route_uris", "routing"),
)
ACTIONS = ("collect", "count", "first", "take", "head", "isEmpty", "toPandas",
           "localCheckpoint", "checkpoint", "foreach", "foreachPartition")
WRITES = ("parquet", "save", "saveAsTable", "insertInto", "json", "csv", "orc")
NON_BUILDER = {"exec", "planning", "lake"}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j = 0
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.op_id = "-"
        self.spark = None
        self.query = None
        self.roots: list[str] = []
        self._fs_before: tuple[dict, set] = ({}, set())
        self.counters: dict = {}

    # ---- span bookkeeping ----------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
            self._tls.quiet = 0
        return self._tls.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "op": self.op_id, "start": time.perf_counter(),
               "py4j0": self.py4j}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j - rec.pop("py4j0")

    @contextmanager
    def quiet(self):
        """JVM calls made by the tracer itself: not counted."""
        self._stack()
        self._tls.quiet += 1
        try:
            yield
        finally:
            self._tls.quiet -= 1

    def _inside(self, names: set[str]) -> bool:
        return any(self.spans[i]["name"] in names for i in self._stack())

    @contextmanager
    def op(self, op_id: str):
        self.op_id = op_id
        with self.span("op"):
            yield

    # ---- patching ----------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap_function(self, fn, layer: str):
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(layer):
                return fn(*a, **kw)

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_action(self, fn, layer: str, plan: bool):
        tracer = self

        def wrapper(obj, *a, **kw):
            if tracer._inside(NON_BUILDER):  # nested action: one span
                return fn(obj, *a, **kw)
            if plan:
                with tracer.span("planning"), tracer.quiet():
                    obj._jdf.queryExecution().executedPlan()
            with tracer.span(layer):
                return fn(obj, *a, **kw)

        return wrapper

    def attach(self, spark, roots: list[str], query=None) -> None:
        """Install the wrappers and start the measured phase."""
        import py4j.clientserver as cs
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        self.spark, self.query, self.roots = spark, query, roots
        orig_send = cs.ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if not command.startswith("m\n") and not tracer._tls.__dict__.get("quiet"):
                with tracer._lock:
                    tracer.py4j += 1
            return orig_send(conn, command)

        self._patch(cs.ClientServerConnection, "send_command", send_command)
        for name in ACTIONS:
            self._patch(DataFrame, name,
                        self._wrap_action(getattr(DataFrame, name), "exec", True))
        for name in WRITES:
            self._patch(DataFrameWriter, name,
                        self._wrap_action(getattr(DataFrameWriter, name), "lake", False))
        for mod_name, attr, layer in FUNCTIONS:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap_function(fn, layer)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("gcs_parquet_dataflow_spark") \
                        and getattr(mod, attr, None) is fn:
                    self._patch(mod, attr, wrapped)
        with self.quiet():
            spark.sparkContext.setJobGroup(JOB_GROUP, JOB_GROUP)
        self._fs_before = walk(roots)

    def detach(self) -> None:
        """Read the counters, then restore every patched binding."""
        if self.spark is None:
            return
        with self.quiet():
            sc = self.spark.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            group = JOB_GROUP if self.query is None else str(self.query.runId)
            self.counters = spark_counters(sc, group)
            sc.setLocalProperty("spark.jobGroup.id", None)
        after = walk(self.roots)
        self.counters.update(fs_diff(self._fs_before, after))
        self.restore()
        self.spark = None

    def restore(self) -> None:
        """Put every patched binding back (idempotent)."""
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- report --------------------------------------------------------

    def report(self) -> dict:
        secs, calls = self.self_times()
        return {"self_s": secs, "self_py4j": calls, "counters": self.counters}

    def self_times(self) -> tuple[dict, dict]:
        """→ ({layer: self seconds}, {layer: self py4j calls})."""
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for rec in self.spans:
            if "end" not in rec:
                continue
            secs[rec["name"]] += rec["end"] - rec["start"]
            calls[rec["name"]] += rec["py4j"]
            if rec["parent"] is not None:
                secs[self.spans[rec["parent"]]["name"]] -= rec["end"] - rec["start"]
                calls[self.spans[rec["parent"]]["name"]] -= rec["py4j"]
        return dict(secs), dict(calls)


def walk(roots: list[str]) -> tuple[dict, set]:
    files, dirs = {}, set()
    for root in roots:
        for d, _, names in os.walk(root):
            dirs.add(d)
            for n in names:
                p = os.path.join(d, n)
                try:
                    files[p] = os.path.getsize(p)
                except OSError:
                    pass
    return files, dirs


def fs_diff(before: tuple[dict, set], after: tuple[dict, set]) -> dict:
    fb, db = before
    fa, da = after
    new = [p for p, size in fa.items() if fb.get(p) != size]
    return {
        "files_written": len(new),
        "dirs_created": len(da - db),
        "bytes_written": sum(fa[p] for p in new),
    }


def spark_counters(sc, group: str) -> dict:
    """Jobs, stages, tasks, shuffle and spill bytes of one job group."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0,
           "spill_bytes": 0}
    for s in sorted(stage_ids):
        try:
            data = store.lastStageAttempt(s)
        except Exception:  # evicted or never attempted
            continue
        if data.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += data.numTasks()
        out["shuffle_bytes"] += data.shuffleWriteBytes()
        out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def stream_layers(progress: list[dict]) -> dict:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in data]
    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "stream.batches": len(data),
        "stream.trigger_s_p50": _p50([d.get("triggerExecution", 0) / 1e3 for d in dur]),
        "stream.planning_s_p50": _p50([d.get("queryPlanning", 0) / 1e3 for d in dur]),
        "stream.add_batch_s_p50": _p50([d.get("addBatch", 0) / 1e3 for d in dur]),
        "bus.latest_offset_s_p50": _p50([d.get("latestOffset", 0) / 1e3 for d in dur]),
        "stream.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
        "stream.watermark_drops": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in state
        ),
    }


# every per-layer metric, in BENCHMARK.json order, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "compiler.compile_s": "s",
    "compiler.py4j_calls": "count",
    "batch.plan_s": "s",
    "batch.py4j_calls": "count",
    "routing.route_s": "s",
    "builder.s": "s",
    "builder.py4j_calls": "count",
    "planning.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "http.posts": "count",
    "http.events_per_post": "count",
    "http.gz_bytes_per_event": "bytes",
    "http.retries": "count",
    "http.dlq_events": "count",
    "http.receiver_busy_s": "s",
    "lake.commit_s": "s",
    "lake.files_written": "count",
    "lake.dirs_created": "count",
    "lake.bytes_written": "bytes",
    "stream.batches": "count",
    "stream.trigger_s_p50": "s",
    "stream.planning_s_p50": "s",
    "stream.add_batch_s_p50": "s",
    "bus.latest_offset_s_p50": "s",
    "stream.state_rows": "count",
    "stream.watermark_drops": "count",
    "process.cpu_s_per_krow": "s",
    "gen.late_s_max": "s",
    "trace.overhead_throughput_rows_per_s": "rows/s",
    "trace.overhead_latency_p50_s": "s",
    "baseline.local1_throughput_rows_per_s": "rows/s",
    "baseline.parallel_speedup": "ratio",
}


def layer_metrics(base, traced, single) -> dict:
    """Per-layer metrics from the traced run ``traced``; the untraced run
    ``base`` gives CPU cost and the tracing overhead; ``single`` is the
    local[1] run (backfill only)."""
    from harness import pct

    ops = max(1, traced.attempted)
    lay = dict(traced.layers)
    out = {k: 0.0 for k in LAYER_UNITS}
    secs, calls = lay.pop("self_s"), lay.pop("self_py4j")
    c = lay.pop("counters")
    out.update({
        "session.start_s": traced.info.get("session_start_s", 0.0),
        "compiler.compile_s": secs.get("compiler", 0.0) / ops,
        "compiler.py4j_calls": calls.get("compiler", 0) / ops,
        "batch.plan_s": secs.get("batch", 0.0) / ops,
        "batch.py4j_calls": calls.get("batch", 0) / ops,
        "routing.route_s": secs.get("routing", 0.0) / ops,
        "builder.s": sum(v for k, v in secs.items() if k not in NON_BUILDER) / ops,
        "builder.py4j_calls": sum(
            v for k, v in calls.items() if k not in NON_BUILDER) / ops,
        "planning.s": secs.get("planning", 0.0) / ops,
        "exec.s": secs.get("exec", 0.0) / ops,
        "lake.commit_s": secs.get("lake", 0.0) / ops,
    })
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
        out[f"exec.{k}"] = c[k] / ops
    for k in ("files_written", "dirs_created", "bytes_written"):
        out[f"lake.{k}"] = c[k] / ops
    progress = lay.pop("stream.progress", None)
    if progress is not None:
        out.update(stream_layers(progress))
    out.update({k: v for k, v in lay.items() if k in out})
    out["process.cpu_s_per_krow"] = base.cpu_s / max(1, base.rows) * 1000
    tp = lambda o: o.rows / o.phase_s  # noqa: E731
    out["trace.overhead_throughput_rows_per_s"] = tp(traced) - tp(base)
    out["trace.overhead_latency_p50_s"] = (
        pct(sorted(traced.latencies), 50) - pct(sorted(base.latencies), 50)
    )
    if single is not None:
        out["baseline.local1_throughput_rows_per_s"] = tp(single)
        out["baseline.parallel_speedup"] = tp(base) / tp(single)
    return {k: (v, LAYER_UNITS[k]) for k, v in out.items()}
