"""``backfill``: a closed loop of ledger units through the batch path.

Each unit is one ``sources.batch.backfill`` unit: ``run_batch`` over the
unit's slice of a seeded landing tree (3 configs, an unrouted prefix, a
non-parquet object, planted DLQ rows), then ``post_events`` to the
loopback receiver. The configs are loaded and compiled inside every
unit, as ``run_batch`` does.
"""

from __future__ import annotations

import json
import random
import time
from collections import Counter

from harness import Ctx, Outcome, cpu_now, http_layers, timed_setups
from inputs import (
    NOW,
    TOKEN,
    UNROUTED,
    UUID_PREFIX,
    Truth,
    config_dicts,
    make_rows,
    row_file_key,
    write_parquet,
)

ROWS_PER_FILE = 600
WARM_ROWS_PER_FILE = 50  # the warm-up unit; its cost is per-unit overhead
FILES = (("web", 2), ("app", 1), ("pos", 1), (UNROUTED, 1))
UNITS_PER_S = 0.37  # 6 units at --seconds 15: about 18 s of units on 4 cores


def build_landing(root: str, units: list[str], seed: int, truth: Truth,
                  rows_per_file: int) -> None:
    rng = random.Random(seed)
    for unit in units:
        for cfg, n in FILES:
            for f in range(n):
                rows = make_rows(cfg, rng, unit, f, rows_per_file)
                write_parquet(rows, cfg, f"{root}/{cfg}/{unit}/part-{f}.parquet")
                truth.add_file(f"{cfg}:{unit}:{f}", cfg, rows)
        # a non-parquet object under a routed prefix: the glob skips it
        with open(f"{root}/web/{unit}/_manifest.txt", "w") as fh:
            fh.write("not parquet\n")


def unit_truth(truth: Truth, unit: str) -> tuple[dict, dict, int]:
    sent, dlq, rows = Counter(), Counter(), 0
    for key, info in truth.files.items():
        if key.split(":")[1] != unit or info["cfg"] == UNROUTED:
            continue
        sent[info["cfg"]] += info["ok"]
        dlq.update(info["dlq"])
        rows += info["rows"]
    return dict(sent), dict(dlq), rows


def run(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from gcs_parquet_dataflow_spark.config.model import load_configs
    from gcs_parquet_dataflow_spark.plans.compiler import CompilerOptions
    from gcs_parquet_dataflow_spark.sinks.http_batch import (
        HttpSinkConfig,
        post_events,
    )
    from gcs_parquet_dataflow_spark.sources.batch import backfill, run_batch

    n_units = max(2, round(ctx.seconds * UNITS_PER_S))
    units = [f"u{i:03d}" for i in range(n_units)]
    landing = ctx.sub("landing")
    truth = Truth()
    build_landing(landing, ["warm"], ctx.seed + 1, truth, WARM_ROWS_PER_FILE)
    build_landing(landing, units, ctx.seed, truth, ROWS_PER_FILE)
    config_text = json.dumps(config_dicts("file:" + landing))
    http_cfg = HttpSinkConfig(url=ctx.loadgen.import_url)
    results: dict[str, dict] = {}

    def process_unit(spark, configs, opts, unit: str) -> None:
        ok, dlq, unmatched = run_batch(
            spark, configs, f"file:{landing}/*/{unit}/*.parquet", opts
        )
        # one action: sink outcomes, DLQ reasons and unmatched files
        outcomes = post_events(ok, http_cfg).select(
            F.concat(F.lit("sink:"), "status").alias("k")
        )
        reasons = dlq.select(
            F.concat(F.lit("dlq:"), "_error.error_type").alias("k")
        )
        files = unmatched.select(F.lit("unmatched").alias("k"))
        counts = dict(
            outcomes.unionByName(reasons).unionByName(files)
            .groupBy("k").count().collect()
        )
        results[unit] = counts

    def setup_once(rep: int):
        spark = ctx.spark()
        configs = load_configs(config_text)
        opts = CompilerOptions(
            token=TOKEN,
            now_epoch=F.lit(NOW),
            uuid=F.concat(F.lit(UUID_PREFIX), F.col("row_id")),
        )
        # through ``backfill`` on a scratch ledger, so the ledger's read
        # and append paths are warm before the first measured unit too
        backfill(spark, ["warm"],
                 lambda unit: process_unit(spark, configs, opts, unit),
                 ctx.sub(f"warm-ledger{rep}") + "/ledger")
        return spark, configs, opts

    (spark, configs, opts), setup_s = timed_setups(setup_once)
    ctx.loadgen.call("/reset", {})
    if ctx.tracer is not None:
        ctx.tracer.attach(spark, roots=[ctx.sub("ledger")])

    starts: list[float] = []

    def process(unit: str) -> None:
        starts.append(time.perf_counter())
        if ctx.tracer is not None:
            with ctx.tracer.op(unit):
                process_unit(spark, configs, opts, unit)
        else:
            process_unit(spark, configs, opts, unit)

    cpu0 = cpu_now({ctx.loadgen.pid})
    t0 = time.perf_counter()
    status = backfill(spark, units, process, ctx.sub("ledger") + "/ledger")
    t1 = time.perf_counter()
    cpu_s = cpu_now({ctx.loadgen.pid}) - cpu0
    latencies = [b - a for a, b in zip(starts, starts[1:] + [t1])]

    # ---- checks against the planted truth --------------------------------
    dump = ctx.loadgen.call("/dump")
    events = [json.loads(x) for x in dump["lines"]]
    got = Counter()
    ids = Counter()
    for ev in events:
        got[row_file_key(ev["properties"]["row_id"]).rsplit(":", 1)[0]] += 1
        ids[ev["properties"]["$insert_id"]] += 1
    errors = []
    failed = 0
    rows = 0
    for unit in units:
        want_sent, want_dlq, unit_rows = unit_truth(truth, unit)
        r = results.get(unit, {})
        problems = []
        if status.get(unit) != "done":
            problems.append("ledger status " + str(status.get(unit)))
        want = {"sink:sent": sum(want_sent.values()), "unmatched": 1}
        want.update({f"dlq:{k}": n for k, n in want_dlq.items()})
        if r != want:
            problems.append(f"counts {r} want {want}")
        for cfg, n in want_sent.items():
            if got[f"{cfg}:{unit}"] != n:
                problems.append(f"received {cfg} {got[f'{cfg}:{unit}']} want {n}")
        if problems:
            failed += 1
            errors.append(f"{unit}: " + "; ".join(problems))
        else:
            rows += unit_rows
    dup = [k for k, n in ids.items() if n > 1]
    if dup:
        errors.append(f"{len(dup)} duplicate $insert_id values")
    errors += truth.check_sample(events, 300, ctx.seed)
    return Outcome(
        rows=rows,
        phase_s=t1 - t0,
        latencies=latencies,
        setup_s=setup_s,
        attempted=len(units),
        failed=failed,
        errors=errors,
        cpu_s=cpu_s,
        info={"units": len(units)},
        layers=http_layers(dump, len(units), sum(
            r.get("sink:dlq", 0) for r in results.values()
        )),
    )
