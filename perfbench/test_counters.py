"""The traced run's counters are deterministic: two traced ``backfill``
runs of one seed at a small size report identical counts.

    python3 -m pytest perfbench/test_counters.py

Timings are not compared, and neither are the ``stream`` workload's
counters: how files group into micro-batches there depends on arrival
timing, by design of an open loop.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
ROOT = os.path.dirname(os.path.dirname(RUN))
COUNTED_UNITS = {"count", "bytes"}


def traced_counters(seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "backfill", "--seed", str(seed),
         "--seconds", "3", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    return {
        name: m["value"] for name, m in result["metrics"].items()
        if m["unit"] in COUNTED_UNITS
    }


def test_traced_counters_repeat_exactly():
    first, second = traced_counters(7), traced_counters(7)
    assert first == second
    # the counters measured something
    assert first["builder.py4j_calls"] > 0
    assert first["exec.jobs"] > 0 and first["exec.tasks"] > 0
    assert first["lake.files_written"] > 0 and first["http.posts"] > 0
