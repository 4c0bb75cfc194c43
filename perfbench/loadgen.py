"""Load-generator process: a loopback HTTP receiver standing in for the
event API, and (for the ``stream`` workload) an open-loop file generator.

Run as ``python3 perfbench/loadgen.py --threads N``; it prints its port
on the first stdout line and is driven over HTTP:

- ``POST /import``: gzip NDJSON batch, always answered 200 — the engine's
  sink sleeps a random ``2^a + U(0,1)`` s on a retryable status, so the
  receiver never returns one;
- ``POST /reset``: forget received batches;
- ``POST /stream``: start the generator (schedule in the JSON body);
- ``GET /stats``: events received so far, generator finished or not;
- ``GET /dump``: posts, event lines and generator stamps as JSON;
- ``POST /quit``: stop.

Requests are served by a fixed pool of ``--threads`` threads (at most
the host's core count), so the receiver cannot fan out without bound.
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


class State:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.posts: list[list] = []  # [arrival_s, n_events, gz_bytes, busy_s]
        self.lines: list[str] = []
        self.digests: set[str] = set()
        self.gen: dict = {"due": {}, "late": [], "done": False}


STATE = State()


class PoolServer(HTTPServer):
    request_queue_size = 256

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:  # one bad request must not kill the receiver
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class Handler(BaseHTTPRequestHandler):
    def log_message(self, *args) -> None:
        pass

    def _reply(self, obj) -> None:
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        return self.rfile.read(int(self.headers.get("Content-Length", 0)))

    def do_POST(self) -> None:
        path = self.path.split("?", 1)[0]
        body = self._body()
        if path == "/import":
            t0 = time.perf_counter()
            lines = gzip.decompress(body).decode("utf-8").split("\n")
            digest = hashlib.sha1(body).hexdigest()
            arrival = time.monotonic()
            busy = time.perf_counter() - t0
            with STATE.lock:
                STATE.posts.append([arrival, len(lines), len(body), busy])
                STATE.lines.extend(lines)
                STATE.digests.add(digest)
            self._reply({"code": 200, "status": "OK",
                         "num_records_imported": len(lines)})
        elif path == "/reset":
            with STATE.lock:
                STATE.reset()
            self._reply({})
        elif path == "/stream":
            params = json.loads(body)
            threading.Thread(target=generate, args=(params,), daemon=True).start()
            self._reply({})
        elif path == "/quit":
            self._reply({})
            threading.Thread(target=self.server.shutdown, daemon=True).start()
        else:
            self.send_error(404)

    def do_GET(self) -> None:
        if self.path == "/stats":
            with STATE.lock:
                self._reply({"lines": len(STATE.lines),
                             "gen_done": STATE.gen["done"]})
        elif self.path == "/dump":
            with STATE.lock:
                self._reply({
                    "posts": STATE.posts,
                    "lines": STATE.lines,
                    "unique_posts": len(STATE.digests),
                    "gen": STATE.gen,
                    "now": time.monotonic(),
                })
        else:
            self.send_error(404)


def generate(p: dict) -> None:
    """Open loop: file i is due at start + i/rate whatever the engine
    does. Each file is written, then announced on the notification bus
    with its due time as event time; a planted share of notifications is
    re-delivered ``redeliver_after_s`` later, inside the dedup horizon."""
    from inputs import stream_files, write_parquet

    files = [
        (cfg, os.path.join(p["data_root"], cfg, f"s{i:05d}.parquet"), rows, again)
        for cfg, i, rows, again in stream_files(
            p["seed"], p["plan"], p["rows_per_file"], p["redeliver_share"]
        )
    ]
    # the non-parquet object sits under the unrouted prefix: it must
    # never reach a reader
    junk = os.path.join(p["data_root"], "misc", "notes.txt")
    os.makedirs(os.path.dirname(junk), exist_ok=True)
    with open(junk, "w") as f:
        f.write("not parquet\n")

    seq = [p["first_seq"]]

    def announce(uri: str, ts: float) -> None:
        name = f"{seq[0]:08d}"
        seq[0] += 1
        tmp = os.path.join(p["bus_dir"], f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps({
                "uri": uri,
                "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts)),
            }) + "\n")
        os.rename(tmp, os.path.join(p["bus_dir"], name + ".jsonl"))

    wall0 = time.time() - time.monotonic()  # monotonic → wall for event time
    # start a fixed offset before a trigger boundary (processing-time
    # triggers fire on multiples of the interval since the epoch), so the
    # schedule's phase against the trigger grid is the same in every run
    grid, lead = p["trigger_s"], p["lead_s"]
    start_wall = (time.time() // grid + 1) * grid - lead
    if start_wall < time.time() + 0.1:
        start_wall += grid
    start = start_wall - wall0
    redeliver: list[tuple[float, str, float]] = []
    interval = 1.0 / p["rate"]
    for i, (cfg, path, rows, again) in enumerate(files):
        due = start + i * interval
        while redeliver and redeliver[0][0] <= due:
            t, uri, ts = redeliver.pop(0)
            _sleep_until(t)
            announce(uri, ts)
        _sleep_until(due)
        late = time.monotonic() - due
        write_parquet(rows, cfg, path)
        uri = "file:" + path
        announce(uri, wall0 + due)
        with STATE.lock:
            STATE.gen["due"][f"{cfg}:s:{i}"] = due
            STATE.gen["late"].append(late)
        if again:
            redeliver.append((due + p["redeliver_after_s"], uri, wall0 + due))
        if i % p["junk_every"] == p["junk_every"] - 1:
            announce("file:" + junk, wall0 + due)
    # re-deliveries still pending when the schedule ends are dropped, so
    # the last batch holds every duplicate the check expects to be deduped
    with STATE.lock:
        STATE.gen["done"] = True


def _sleep_until(t: float) -> None:
    d = t - time.monotonic()
    if d > 0:
        time.sleep(d)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threads", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    server = PoolServer(("127.0.0.1", 0), Handler, args.threads)
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()


if __name__ == "__main__":
    main()
