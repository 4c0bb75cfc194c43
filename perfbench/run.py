"""Pipeline benchmark for gcs_parquet_dataflow_spark.

    python3 perfbench/run.py --workload {backfill,stream} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds seeded inputs, runs one workload
against the package's public API, checks every output against planted
truth, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the workload untraced, then
traced, and reports the per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    ROOT,
    Ctx,
    LoadGen,
    RssSampler,
    become_subreaper,
    bench_env,
    end_to_end_metrics,
    make_work_dir,
    nproc,
    print_result,
    remove_work_dir,
    stop_all,
)

WORKLOADS = ("backfill", "stream")


def run_once(args, cpus: int, traced: bool, master: str | None = None):
    """One full workload run in a fresh work dir → (Outcome, peak RSS)."""
    work = make_work_dir(args.workload)
    loadgen = LoadGen(threads=cpus)
    tracer = None
    if traced:
        from tracing import Tracer

        tracer = Tracer()
    ctx = Ctx(args.seed, args.seconds, work, loadgen, tracer=tracer,
              master=master)
    try:
        with RssSampler(exclude={loadgen.pid}) as rss:
            out = importlib.import_module("wl_" + args.workload).run(ctx)
        out.info["session_start_s"] = ctx.spark_start_s[0]
        if tracer is not None:
            tracer.detach()
            out.layers.update(tracer.report())
        return out, rss.peak
    finally:
        if tracer is not None:
            tracer.restore()
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        loadgen.close()
        remove_work_dir(work)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = nproc()
    env = bench_env(cpus)
    if any(os.environ.get(k) != v for k, v in env.items()):
        # PYTHONHASHSEED only takes effect at interpreter start
        os.environ.update(env)
        os.execv(sys.executable, [sys.executable] + sys.argv)

    sys.path.insert(0, ROOT)
    try:
        import gcs_parquet_dataflow_spark as pkg
    except ImportError:
        pkg = None
    if pkg is None or not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print("perfbench: gcs_parquet_dataflow_spark is not in this checkout",
              file=sys.stderr)
        return 2

    become_subreaper()
    try:
        return measure(args, cpus)
    finally:
        stop_all()


def measure(args, cpus: int) -> int:
    load1 = os.getloadavg()[0]
    if args.trace:
        from tracing import layer_metrics

        # traced first: it pays the cold JVM, so the overhead it shows
        # against the untraced run is an upper bound
        traced, _ = run_once(args, cpus, traced=True)
        base, _ = run_once(args, cpus, traced=False)
        single = None
        if args.workload == "backfill":
            single, _ = run_once(args, cpus, traced=False, master="local[1]")
        metrics = layer_metrics(base, traced, single)
        outs = [base, traced] + ([single] if single else [])
    else:
        out, peak = run_once(args, cpus, traced=False)
        metrics = end_to_end_metrics(out, peak)
        outs = [out]
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
            "load1_start": load1, "load1_end": os.getloadavg()[0]}
    for o in reversed(outs):
        info.update(o.info)
        for e in o.errors[:20]:
            print("perfbench check failed:", e, file=sys.stderr)
    print(json.dumps({"info": info}), flush=True)
    attempted = sum(o.attempted for o in outs)
    failed = sum(o.failed for o in outs)
    correct = all(o.correct for o in outs)
    print_result(correct, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
