"""``stream``: an open loop through the notification-driven streaming
path.

The load-generator process writes parquet files on a fixed schedule and
announces each on the notification bus (re-delivering a planted share
inside the dedup horizon, and announcing unrouted and non-parquet
objects); the program runs ``read_notification_bus`` →
``run_notification_stream`` with a 5 s processing-time trigger, posting
to the receiver in the same process. Latency of a file is from its due
time to the receiver getting its last event, so a stall also delays the
files queued behind it.
"""

from __future__ import annotations

import glob
import json
import os
import random
import time
from collections import Counter

import pyarrow.parquet as pq

from harness import (
    SETUP_REPS,
    Ctx,
    Outcome,
    cpu_now,
    http_layers,
    timed_setups,
)
from inputs import (
    CONFIG_IDS,
    NOW,
    TOKEN,
    UNROUTED,
    UUID_PREFIX,
    Truth,
    config_dicts,
    expected,
    make_rows,
    row_file_key,
    stream_files,
    write_parquet,
)

RATE = 8.0  # offered files/s; see README for how it was chosen
TRIGGER_S = 5  # processing-time trigger interval
# the schedule starts LEAD_S before a trigger boundary, so with a whole
# number of trigger periods its last file lands just before one too
LEAD_S = 0.3
ROWS_PER_FILE = 100
REDELIVER_SHARE = 0.15
REDELIVER_AFTER_S = 1.5
UNROUTED_EVERY = 10  # every 10th file sits under the unrouted prefix
JUNK_EVERY = 25  # a non-parquet object is announced every 25 files
DRAIN_TIMEOUT_S = 60


def file_plan(n: int) -> list[str]:
    return [
        UNROUTED if i % UNROUTED_EVERY == UNROUTED_EVERY - 1
        else CONFIG_IDS[i % len(CONFIG_IDS)]
        for i in range(n)
    ]


def _announce(bus: str, seq: int, uri: str) -> None:
    with open(os.path.join(bus, f".{seq}.tmp"), "w") as f:
        f.write(json.dumps({"uri": uri, "ts": time.strftime(
            "%Y-%m-%d %H:%M:%S", time.gmtime())}) + "\n")
    os.rename(os.path.join(bus, f".{seq}.tmp"),
              os.path.join(bus, f"{seq:08d}.jsonl"))


def _wait_lines(ctx: Ctx, n: int, timeout: float) -> None:
    end = time.monotonic() + timeout
    while ctx.loadgen.call("/stats")["lines"] < n:
        if time.monotonic() > end:
            raise TimeoutError(f"receiver got fewer than {n} events")
        time.sleep(0.05)


def run(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from gcs_parquet_dataflow_spark.config.model import load_configs
    from gcs_parquet_dataflow_spark.plans.compiler import CompilerOptions
    from gcs_parquet_dataflow_spark.sinks.http_batch import HttpSinkConfig
    from gcs_parquet_dataflow_spark.sources.notification_bus import (
        read_notification_bus,
    )
    from gcs_parquet_dataflow_spark.streaming.pipeline import (
        run_notification_stream,
    )

    # a whole number of trigger periods
    n_files = max(1, round(ctx.seconds / TRIGGER_S)) * TRIGGER_S * round(RATE)
    plan = file_plan(n_files)
    truth = Truth()
    for cfg, i, rows, _ in stream_files(ctx.seed, plan, ROWS_PER_FILE,
                                        REDELIVER_SHARE):
        truth.add_file(f"{cfg}:s:{i}", cfg, rows)
    http_cfg = HttpSinkConfig(url=ctx.loadgen.import_url)
    warm_rows = {
        cfg: make_rows(cfg, random.Random(ctx.seed + 1), "warm", 0, 20)
        for cfg in CONFIG_IDS
    }

    def setup_once(rep: int):
        root = ctx.sub(f"s{rep}")
        data, bus = ctx.sub(f"s{rep}/data"), ctx.sub(f"s{rep}/bus")
        for cfg, rows in warm_rows.items():
            write_parquet(rows, cfg, f"{data}/{cfg}/warm.parquet")
        ctx.loadgen.call("/reset", {})
        spark = ctx.spark()
        configs = load_configs(json.dumps(config_dicts("file:" + data)))
        schemas = {
            cfg: spark.read.parquet(f"{data}/{cfg}/warm.parquet").schema
            for cfg in CONFIG_IDS
        }
        opts = CompilerOptions(
            token=TOKEN, now_epoch=F.lit(NOW),
            uuid=F.concat(F.lit(UUID_PREFIX), F.col("row_id")),
        )
        # announced before the start: the query's first batch takes them
        for seq, cfg in enumerate(CONFIG_IDS):
            _announce(bus, seq, f"file:{data}/{cfg}/warm.parquet")
        q = run_notification_stream(
            spark, configs, schemas, read_notification_bus(spark, bus),
            f"{root}/ck", opts=opts, http_cfg=http_cfg,
            dlq_dir=f"{root}/dlq", trigger_seconds=TRIGGER_S,
        )
        want = sum(
            1 for cfg, rows in warm_rows.items() for r in rows
            if expected(cfg, r)[0] == "ok"
        )
        _wait_lines(ctx, want, DRAIN_TIMEOUT_S)
        if rep < SETUP_REPS - 1:
            q.stop()
        return spark, q, root, data, bus

    (spark, q, root, data, bus), setup_s = timed_setups(setup_once)
    ctx.loadgen.call("/reset", {})
    warm_dlq = set(glob.glob(f"{root}/dlq/*/batch_id=*/*.parquet"))
    if ctx.tracer is not None:
        ctx.tracer.attach(spark, roots=[f"{root}/ck", f"{root}/dlq"], query=q)

    want_lines = sum(f["ok"] for f in truth.files.values())
    cpu0 = cpu_now({ctx.loadgen.pid})
    ctx.loadgen.call("/stream", {
        "seed": ctx.seed, "plan": plan, "rows_per_file": ROWS_PER_FILE,
        "redeliver_share": REDELIVER_SHARE,
        "redeliver_after_s": REDELIVER_AFTER_S, "junk_every": JUNK_EVERY,
        "rate": RATE, "data_root": data, "bus_dir": bus,
        "first_seq": len(CONFIG_IDS), "trigger_s": TRIGGER_S,
        "lead_s": LEAD_S,
    })
    errors = []
    end = time.monotonic() + n_files / RATE + DRAIN_TIMEOUT_S
    while True:
        st = ctx.loadgen.call("/stats")
        if (st["gen_done"] and st["lines"] >= want_lines) or not q.isActive:
            break
        if time.monotonic() > end:
            errors.append("stream did not drain in time")
            break
        time.sleep(0.1)
    progress = q.recentProgress
    if q.exception() is not None:
        errors.append(f"stream failed: {q.exception()}")
    q.stop()
    cpu_s = cpu_now({ctx.loadgen.pid}) - cpu0

    # ---- checks against the planted truth --------------------------------
    dump = ctx.loadgen.call("/dump")
    due = dump["gen"]["due"]
    last: dict[str, float] = {}
    got = Counter()
    ids = Counter()
    events = []
    offset = 0
    for arrival, n, _, _ in dump["posts"]:
        for line in dump["lines"][offset:offset + n]:
            ev = json.loads(line)
            events.append(ev)
            key = row_file_key(ev["properties"]["row_id"])
            got[key] += 1
            last[key] = max(last.get(key, 0.0), arrival)
            ids[ev["properties"]["$insert_id"]] += 1
        offset += n
    dlq = Counter()
    for path in set(glob.glob(f"{root}/dlq/*/batch_id=*/*.parquet")) - warm_dlq:
        cfg = path.split("/dlq/")[1].split("/")[0]
        for reason in pq.read_table(path, columns=["error_type"]).column(0).to_pylist():
            dlq[(cfg, reason)] += 1
    want_dlq = Counter()
    failed, rows, latencies = 0, 0, []
    for key, info in truth.files.items():
        for reason, n in info["dlq"].items():
            want_dlq[(info["cfg"], reason)] += n
        if got[key] != info["ok"]:
            failed += 1
            errors.append(f"{key}: received {got[key]} want {info['ok']}")
        elif info["cfg"] != UNROUTED:
            rows += info["rows"]
            latencies.append(last[key] - due[key])
    if dlq != want_dlq:
        errors.append(f"dlq {dict(dlq)} want {dict(want_dlq)}")
    dup = [k for k, n in ids.items() if n > 1]
    if dup:
        errors.append(f"{len(dup)} duplicate $insert_id values (re-delivery not deduped)")
    errors += truth.check_sample(events, 300, ctx.seed)
    first_due = min(due.values()) if due else 0.0
    last_arrival = max(last.values()) if last else first_due + 1.0
    late_max = max(dump["gen"]["late"] or [0.0])
    return Outcome(
        rows=rows,
        phase_s=last_arrival - first_due,
        latencies=latencies or [0.0],
        setup_s=setup_s,
        attempted=len(truth.files),
        failed=failed,
        errors=errors,
        cpu_s=cpu_s,
        info={"files": len(truth.files), "gen_late_s_max": late_max},
        layers={
            # API-failure DLQ: routed ok events that never arrived
            **http_layers(dump, len(truth.files),
                          max(0, sum(f["ok"] for f in truth.files.values())
                              - len(dump["lines"]))),
            "gen.late_s_max": late_max,
            "stream.progress": [json.loads(p.json) for p in progress],
        },
    )

