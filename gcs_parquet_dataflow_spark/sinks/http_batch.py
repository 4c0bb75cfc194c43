"""Size-bounded, retrying HTTP batch sink (reference
``BatchPostToMixpanel``, main.py:306-423 / main_batch.py:318-428).

Spark shape: ``mapInPandas`` over a one-column DataFrame of event-JSON
strings — Arrow-batched end-to-end (no per-row Python serialization).
Each partition buffers events, flushes on the 2000-event / 2 MiB
thresholds, gzips NDJSON, POSTs with capped exponential backoff, and
*returns* per-event outcome rows — success and DLQ are DataFrame splits
downstream, not side-channel outputs. Partition-level parallelism replaces
the reference's 5000-random-key GroupByKey salting (main.py:296-303, 507 —
a Beam-ism to spread sink bundles; Spark partitions already are the
parallel unit, so ``repartition(n)`` upstream is the only knob needed).

Exactly-once note: HTTP POST is not idempotent; the reference relies on
Mixpanel's $insert_id dedup. Same here — retries may re-send a batch that
actually landed, the $insert_id makes it safe server-side.
"""

from __future__ import annotations

import gzip
import random
import time
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

# thresholds/policy mirror the reference's tuned constants
# (main.py:22-23, 355, 367, 374-376, 390-393; BASELINE.md)
DEFAULT_BATCH_EVENTS = 2000
DEFAULT_BATCH_BYTES = 2 * 1024 * 1024
DEFAULT_TIMEOUT_S = 90
DEFAULT_MAX_RETRIES = 5
DEFAULT_BACKOFF_CAP_S = 60.0

OUTCOME_SCHEMA = "event_json string, status string, detail string"
# status values: "sent" | "dlq"


@dataclass
class HttpSinkConfig:
    url: str
    auth_user: str | None = None
    auth_password: str = ""
    batch_events: int = DEFAULT_BATCH_EVENTS
    batch_bytes: int = DEFAULT_BATCH_BYTES
    timeout_s: float = DEFAULT_TIMEOUT_S
    max_retries: int = DEFAULT_MAX_RETRIES
    backoff_cap_s: float = DEFAULT_BACKOFF_CAP_S


def _default_post(cfg: HttpSinkConfig, payload_gz: bytes) -> tuple[int, str]:
    """POST gzipped NDJSON; → (status_code, response_text_excerpt)."""
    import requests

    auth = (cfg.auth_user, cfg.auth_password) if cfg.auth_user else None
    # the reference's /import query string (main.py:353-368)
    resp = requests.post(
        cfg.url,
        params={"strict": "1"},
        data=payload_gz,
        headers={
            "Content-Type": "application/x-ndjson",
            "Content-Encoding": "gzip",
        },
        auth=auth,
        timeout=cfg.timeout_s,
    )
    return resp.status_code, resp.text[:500]


def _send_with_retry(
    cfg: HttpSinkConfig,
    batch: list[str],
    post_fn: Callable[[HttpSinkConfig, bytes], tuple[int, str]],
    sleep_fn: Callable[[float], None] = time.sleep,
) -> list[tuple[str, str, str]]:
    """Send one batch; → outcome tuples (event_json, status, detail).

    Retry policy (main.py:374-400): 429/5xx/transport-error → retry with
    ``2^attempt + U(0,1)`` seconds capped at backoff_cap; other 4xx →
    whole batch to DLQ with the response excerpt; retries exhausted →
    DLQ with last error.
    """
    payload = gzip.compress("\n".join(batch).encode("utf-8"))
    last_detail = ""
    for attempt in range(cfg.max_retries):
        try:
            status, text = post_fn(cfg, payload)
        except Exception as exc:  # transport error — retryable
            status, text = -1, f"transport_error: {exc}"
        if status == 200:
            return [(e, "sent", "") for e in batch]
        if status == 429 or status >= 500 or status == -1:
            last_detail = f"http_{status}: {text}"
            if attempt < cfg.max_retries - 1:  # no sleep after the final try
                delay = min(2.0**attempt + random.uniform(0, 1), cfg.backoff_cap_s)
                sleep_fn(delay)
            continue
        # non-retryable 4xx → per-event DLQ with excerpt (main.py:377-389)
        return [(e, "dlq", f"http_{status}: {text}") for e in batch]
    return [(e, "dlq", f"retries_exhausted: {last_detail}") for e in batch]


def post_partition(
    events: Iterable[str],
    cfg: HttpSinkConfig,
    sleep_fn: Callable[[float], None] = time.sleep,
) -> Iterator[tuple[str, str, str]]:
    """Buffer + flush loop for one partition (main.py:404-423's bundle
    buffer, with Spark partitions as the bundle unit)."""
    buf: list[str] = []
    buf_bytes = 0
    for e in events:
        buf.append(e)
        buf_bytes += len(e.encode("utf-8")) + 1
        if len(buf) >= cfg.batch_events or buf_bytes >= cfg.batch_bytes:
            yield from _send_with_retry(cfg, buf, _default_post, sleep_fn)
            buf, buf_bytes = [], 0
    if buf:
        yield from _send_with_retry(cfg, buf, _default_post, sleep_fn)


def post_events(df: DataFrame, cfg: HttpSinkConfig) -> DataFrame:
    """Distributed send of ``df``'s ``event_json`` column; →
    DataFrame[event_json, status, detail].

    Downstream: ``.filter("status = 'dlq'")`` is the API-failure DLQ the
    reference publishes to Pub/Sub (main.py:519-523) — write it wherever
    the deployment wants (parquet dir, Kafka, ...).
    """

    def run(batches):  # Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]
        import pandas as pd

        def events() -> Iterator[str]:
            for pdf in batches:
                yield from pdf["event_json"].tolist()

        # one flush loop per PARTITION (batches stream through it), so the
        # 2000-event/2MiB thresholds see the whole partition, not one
        # Arrow batch; outcomes re-chunk to bound executor memory
        chunk: list[tuple[str, str, str]] = []
        for outcome in post_partition(events(), cfg):
            chunk.append(outcome)
            if len(chunk) >= 10_000:
                yield pd.DataFrame(chunk, columns=["event_json", "status", "detail"])
                chunk = []
        if chunk:
            yield pd.DataFrame(chunk, columns=["event_json", "status", "detail"])

    return df.select("event_json").mapInPandas(run, schema=OUTCOME_SCHEMA)
