"""Shared plumbing for the pipeline benchmark: environment, work dirs,
process-tree sampling from /proc, percentiles, the load-generator
client, repeated set-up timing and the result line."""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)  # the checkout the benchmark runs in
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3  # set-ups per run; setup_s is their median

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def bench_env(cpus: int) -> dict[str, str]:
    """Engine settings derived from the core count. The engine's default
    driver heap (48g) exceeds small hosts, so size it at 256 MiB/core."""
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, 256 * cpus))}m",
        "PYTHONHASHSEED": "0",
    }


def spark_conf(work: str) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def make_work_dir(workload: str) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run still uses it


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """→ (comm, fields after comm) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def process_tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """Pids of ``root`` and its descendants. A ``java`` child of the JVM
    is a process launch caught before its exec: it still maps the JVM's
    pages, so counting it would count the JVM twice."""
    kids: dict[int, list[tuple[int, str]]] = defaultdict(list)
    comm = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                comm[int(name)] = st[0]
                kids[int(st[1][1])].append((int(name), st[0]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(
            child for child, c in kids.get(pid, ())
            if not (c == "java" and comm.get(pid) == "java")
        )
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    """Resident memory of the tree with shared pages counted once: the
    sum of each process's PSS. Plain RSS would count the pages a forked
    Python worker shares with its daemon once per worker, so the figure
    would jump whenever Spark forked a few more."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process has ended
    return total


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime, plus reaped children's, over the tree."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[1][11:15])
    return ticks / _CLK_TCK


class RssSampler:
    """Peak resident memory (PSS sum) of this process's tree (driver,
    JVM, Python workers), excluding the load generator, sampled every
    ``interval_s``."""

    def __init__(self, exclude: set[int], interval_s: float = 0.5) -> None:
        self.exclude = exclude
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        pids = process_tree(os.getpid(), self.exclude)
        self.peak = max(self.peak, tree_rss_bytes(pids))

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def become_subreaper() -> None:
    """Make orphaned descendants re-parent to this process instead of
    init, so ``stop_all`` can find and wait for them: the JVM's Python
    workers outlive it by a moment when it exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[tuple[int, bool]]:
    """(pid, is_zombie) of this process's direct children."""
    me, out = str(os.getpid()), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[1][1] == me:
                out.append((int(name), st[1][0] == "Z"))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 30.0) -> None:
    """Stop Spark and its JVM, then every process still under this one,
    and wait until each has ended. The JVM exits when its stdin closes;
    left alone it would do so only after this process had exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # a broken session must not keep the JVM up
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in (pid for pid, zombie in kids if not zombie):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def cpu_now(exclude: set[int]) -> float:
    return tree_cpu_s(process_tree(os.getpid(), exclude))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def pct(xs: list[float], q: int) -> float:
    """q-th percentile (inclusive method; q in 1..99)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


# ---------------------------------------------------------------------------
# load generator client
# ---------------------------------------------------------------------------


class LoadGen:
    """The HTTP receiver (and, for ``stream``, the file generator) in a
    process of its own, so its work never runs on the driver's GIL."""

    def __init__(self, threads: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "loadgen.py"),
             "--threads", str(threads)],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator failed to start")
        self.base = f"http://127.0.0.1:{int(line)}"
        self.import_url = self.base + "/import"

    @property
    def pid(self) -> int:
        return self.proc.pid

    def call(self, path: str, payload: dict | None = None, timeout=60) -> dict:
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(self.base + path, data=data)
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("/quit", {}, timeout=5)
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# run context and result
# ---------------------------------------------------------------------------


@dataclass
class Ctx:
    seed: int
    seconds: int
    work: str
    loadgen: LoadGen
    tracer: object | None = None  # tracing.Tracer in a traced run
    master: str | None = None  # None: local[$SPARK_GRAFT_CPUS]
    spark_start_s: list[float] = field(default_factory=list)

    def spark(self):
        from gcs_parquet_dataflow_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(master=self.master, extra_conf=spark_conf(self.work))
        self.spark_start_s.append(time.perf_counter() - t0)
        return spark

    def sub(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path


@dataclass
class Outcome:
    """What one workload run measured."""

    rows: int  # source rows fully processed in the measured phase
    phase_s: float  # measured-phase wall time
    latencies: list[float]  # per-op seconds (stream: due → last event)
    setup_s: list[float]
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    cpu_s: float = 0.0
    layers: dict = field(default_factory=dict)  # traced-run extras
    info: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and not self.errors


def timed_setups(setup_once, reps: int = SETUP_REPS):
    """Time ``setup_once(rep) -> state`` ``reps`` times in this process.
    The first rep launches the JVM; later reps reuse the live session
    (``get_spark`` returns it). Returns (last state, times)."""
    times, state = [], None
    for i in range(reps):
        t0 = time.perf_counter()
        state = setup_once(i)
        times.append(time.perf_counter() - t0)
    return state, times


def http_layers(dump: dict, ops: int, dlq_events: int) -> dict:
    """Sink counters seen at the receiver, per op."""
    posts = dump["posts"]
    events = sum(p[1] for p in posts)
    return {
        "http.posts": len(posts) / ops,
        "http.events_per_post": events / max(1, len(posts)),
        "http.gz_bytes_per_event": sum(p[2] for p in posts) / max(1, events),
        "http.retries": len(posts) - dump["unique_posts"],
        "http.dlq_events": dlq_events,
        "http.receiver_busy_s": sum(p[3] for p in posts) / ops,
    }


def end_to_end_metrics(out: Outcome, peak_rss: int) -> dict:
    lat = sorted(out.latencies)
    return {
        "throughput_rows_per_s": (out.rows / out.phase_s, "rows/s"),
        "latency_p50_s": (pct(lat, 50), "s"),
        "latency_p90_s": (pct(lat, 90), "s"),
        "setup_s": (statistics.median(out.setup_s), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def print_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
