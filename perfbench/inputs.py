"""Seeded inputs and their planted truth.

Three source configs exercise every cast family the compiler has
(string, integer, float, boolean, mixed-format ``unix_timestamp_auto``,
``string_or_uuid``) plus wildcard passthrough. Each generated row knows
its own expected outcome, computed with the pure-Python oracle in
``tests/reference_semantics.py``, so outputs are checked against an
independent statement of the reference's semantics.

``row_id`` is ``<config>:<group>:<file>:<row>``; every event carries it,
which lets the receiver-side checks attribute events to files and units.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from harness import ROOT

sys.path.insert(0, os.path.join(ROOT, "tests"))
import reference_semantics as ref  # noqa: E402

NOW = 1_700_000_000  # injected CompilerOptions.now_epoch
TOKEN = "perfbench-token"
UUID_PREFIX = "uuid-"  # injected CompilerOptions.uuid is UUID_PREFIX || row_id
BASE_T = 1_704_067_200  # 2024-01-01T00:00:00Z

# formats the JVM ladder and dateutil agree on, plus one unparseable
_TS_FORMS = (
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%d %H:%M:%S",
    "%Y/%m/%d %H:%M:%S",
    "%m/%d/%Y %H:%M:%S",
    "%d %b %Y %H:%M:%S",
    "%Y-%m-%d",
    None,
)
_BOOL_STRS = ("true", "Yes", "t", "0", "no", " true", "FALSE")
_INT_STRS = ("12", "7", "0", "-3", "x", "3.5")

CONFIG_IDS = ("web", "app", "pos")
UNROUTED = "misc"

SCHEMAS = {
    "web": pa.schema([
        ("row_id", pa.string()), ("event_name", pa.string()),
        ("ts_str", pa.string()), ("user_id", pa.int64()),
        ("insert_id", pa.string()), ("amount", pa.float64()),
        ("is_member", pa.string()), ("qty_str", pa.string()),
        ("channel", pa.string()), ("score", pa.int64()),
    ]),
    "app": pa.schema([
        ("row_id", pa.string()), ("epoch", pa.int64()),
        ("device", pa.string()), ("insert_id", pa.string()),
        ("version", pa.int32()),
    ]),
    "pos": pa.schema([
        ("row_id", pa.string()), ("kind", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
        ("insert_id", pa.string()), ("price", pa.float64()),
        ("paid", pa.bool_()), ("store", pa.string()),
    ]),
}
SCHEMAS[UNROUTED] = SCHEMAS["web"]


def config_dicts(root_uri: str) -> list[dict]:
    """The source configs (the reference's sources.json shape)."""
    return [
        {
            "config_id": "web",
            "source_gcs_prefix": f"{root_uri}/web/",
            "mixpanel_event_name_from_field": "event_name",
            "field_mappings": [
                {"source_field": "ts_str", "mixpanel_field": "time",
                 "type": "unix_timestamp_auto"},
                {"source_field": "user_id", "mixpanel_field": "$user_id",
                 "type": "string", "is_required_in_source": True},
                {"source_field": "insert_id", "mixpanel_field": "$insert_id",
                 "type": "string_or_uuid"},
                {"source_field": "amount", "mixpanel_field": "amount",
                 "type": "float"},
                {"source_field": "is_member", "mixpanel_field": "is_member",
                 "type": "boolean"},
                {"source_field": "qty_str", "mixpanel_field": "qty",
                 "type": "integer"},
                {"source_field": "*", "mixpanel_field": "*"},
            ],
        },
        {
            "config_id": "app",
            "source_gcs_prefix": f"{root_uri}/app/",
            "mixpanel_event_name": "app_open",
            "field_mappings": [
                {"source_field": "epoch", "mixpanel_field": "time",
                 "type": "unix_timestamp_auto"},
                {"source_field": "device", "mixpanel_field": "$device_id",
                 "type": "string"},
                {"source_field": "insert_id", "mixpanel_field": "$insert_id",
                 "type": "string_or_uuid"},
                {"source_field": "row_id", "mixpanel_field": "row_id",
                 "type": "string"},
                {"source_field": "version", "mixpanel_field": "version",
                 "type": "integer"},
            ],
        },
        {
            "config_id": "pos",
            "source_gcs_prefix": f"{root_uri}/pos/",
            "mixpanel_event_name_from_field": "kind",
            "field_mappings": [
                {"source_field": "ts", "mixpanel_field": "time",
                 "type": "unix_timestamp_auto"},
                {"source_field": "user_id", "mixpanel_field": "$user_id",
                 "type": "string", "is_required_in_source": True},
                {"source_field": "insert_id", "mixpanel_field": "$insert_id",
                 "type": "string_or_uuid"},
                {"source_field": "price", "mixpanel_field": "price",
                 "type": "float"},
                {"source_field": "paid", "mixpanel_field": "paid",
                 "type": "boolean"},
                {"source_field": "*", "mixpanel_field": "*"},
            ],
        },
    ]


def _insert_id(rng: random.Random, rid: str):
    r = rng.random()
    return None if r < 0.05 else "" if r < 0.08 else f"ins-{rid}"


def make_rows(cfg: str, rng: random.Random, group: str, file_no: int, n: int):
    """→ list of row dicts; ~2-3 % of routed rows are planted DLQ rows."""
    rows = []
    for i in range(n):
        rid = f"{cfg}:{group}:{file_no}:{i}"
        plant = rng.random()
        t = BASE_T + rng.randrange(30 * 86400)
        if cfg in ("web", UNROUTED):
            fmt = rng.choice(_TS_FORMS)
            rows.append({
                "row_id": rid,
                "event_name": "" if plant < 0.01
                else rng.choice(("view", "click", "buy")),
                "ts_str": "not-a-time" if fmt is None
                else time.strftime(fmt, time.gmtime(t)),
                "user_id": None if 0.01 <= plant < 0.025
                else rng.randrange(1, 10**6),
                "insert_id": _insert_id(rng, rid),
                "amount": math.nan if rng.random() < 0.05
                else round(rng.uniform(0, 500), 2),
                "is_member": rng.choice(_BOOL_STRS),
                "qty_str": rng.choice(_INT_STRS),
                "channel": rng.choice(("seo", "ads", "direct", None)),
                "score": rng.randrange(-5, 100),
            })
        elif cfg == "app":
            rows.append({
                "row_id": rid,
                "epoch": t,
                "device": None if rng.random() < 0.1 else f"d{rng.randrange(10**5)}",
                "insert_id": _insert_id(rng, rid),
                "version": rng.randrange(1, 40),
            })
        else:
            rows.append({
                "row_id": rid,
                "kind": "" if plant < 0.01 else rng.choice(("sale", "refund")),
                "ts": datetime.fromtimestamp(t, tz=timezone.utc),
                "user_id": None if 0.01 <= plant < 0.03
                else rng.randrange(1, 10**6),
                "insert_id": _insert_id(rng, rid),
                "price": round(rng.uniform(1, 900), 2),
                "paid": rng.random() < 0.7,
                "store": rng.choice(("s1", "s2", "s3")),
            })
    return rows


def stream_files(seed: int, plan: list[str], rows_per_file: int,
                 redeliver_share: float):
    """The stream generator's files: [(cfg, file_no, rows, redeliver)]."""
    rng = random.Random(seed)
    out = []
    for i, cfg in enumerate(plan):
        rows = make_rows(cfg, rng, "s", i, rows_per_file)
        out.append((cfg, i, rows, rng.random() < redeliver_share))
    return out


def write_parquet(rows: list[dict], cfg: str, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=SCHEMAS[cfg])
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# expected outcomes (reference semantics)
# ---------------------------------------------------------------------------

_EVENT_FIELD = {"web": "event_name", "pos": "kind"}
_REQUIRED = {"web": "user_id", "pos": "user_id"}


def expected(cfg: str, row: dict):
    """→ ("ok", event dict) or ("dlq", error_type)."""
    ev_field = _EVENT_FIELD.get(cfg)
    if ev_field is not None:
        event = ref.ref_string(row[ev_field])
        if not event:
            return "dlq", "missing_dynamic_event_name"
    else:
        event = "app_open"
    req = _REQUIRED.get(cfg)
    if req is not None and ref.clean_nan(row[req]) is None:
        return "dlq", "missing_required_field"
    props: dict = {"token": TOKEN}

    def put(name, value):
        if value is not None and value is not ref.OMIT:
            props[name] = value

    ins = ref.ref_string(row["insert_id"])
    if cfg == "web":
        put("time", ref.ref_unix_timestamp_auto(row["ts_str"]))
        put("$user_id", ref.ref_string(row["user_id"]))
        put("amount", ref.ref_float(row["amount"]))
        put("is_member", ref.ref_boolean(row["is_member"]))
        put("qty", ref.ref_integer(row["qty_str"]))
        consumed = {"ts_str", "user_id", "insert_id", "amount", "is_member",
                    "qty_str"}
    elif cfg == "app":
        put("time", ref.ref_unix_timestamp_auto(row["epoch"]))
        put("$device_id", ref.ref_string(row["device"]))
        put("row_id", ref.ref_string(row["row_id"]))
        put("version", ref.ref_integer(row["version"]))
        consumed = set(row)
    else:
        put("time", ref.ref_unix_timestamp_auto(row["ts"]))
        put("$user_id", ref.ref_string(row["user_id"]))
        put("price", ref.ref_float(row["price"]))
        put("paid", ref.ref_boolean(row["paid"]))
        consumed = {"ts", "user_id", "insert_id", "price", "paid"}
    for k, v in row.items():  # wildcard passthrough
        if k not in consumed:
            put(k, ref.clean_nan(v))
    props.setdefault("time", NOW)
    props["$insert_id"] = ins if ins else UUID_PREFIX + row["row_id"]
    return "ok", {"event": event, "properties": props}


class Truth:
    """Planted truth for a set of generated files."""

    def __init__(self) -> None:
        self.rows: dict[str, dict] = {}  # row_id → row, routed rows only
        # per file key: {"cfg", "ok", "dlq": {reason: n}, "rows"}
        self.files: dict[str, dict] = {}

    def add_file(self, key: str, cfg: str, rows: list[dict]) -> None:
        info = {"cfg": cfg, "ok": 0, "dlq": {}, "rows": len(rows)}
        if cfg in CONFIG_IDS:
            for r in rows:
                self.rows[r["row_id"]] = r
                kind, val = expected(cfg, r)
                if kind == "ok":
                    info["ok"] += 1
                else:
                    info["dlq"][val] = info["dlq"].get(val, 0) + 1
        self.files[key] = info

    def check_sample(self, events: list[dict], n: int, seed: int) -> list[str]:
        """Field-by-field compare of a seeded sample of received events."""
        rng = random.Random(seed)
        sample = rng.sample(events, min(n, len(events)))
        errs = []
        for ev in sample:
            rid = ev["properties"].get("row_id")
            row = self.rows.get(rid)
            if row is None:
                errs.append(f"event for unknown row {rid!r}")
                continue
            kind, want = expected(rid.split(":", 1)[0], row)
            if kind != "ok" or ev != want:
                errs.append(f"{rid}: got {ev} want {kind} {want}")
        return errs


def row_file_key(row_id: str) -> str:
    """``cfg:group:file:row`` → ``cfg:group:file``."""
    return row_id.rsplit(":", 1)[0]
