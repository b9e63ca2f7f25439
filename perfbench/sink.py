"""Webhook sink stub: the HTTP/1.1 endpoint the relay delivers to.

Runs as its own process (``python3 -m perfbench.sink --port-file F``) so
its work never competes with the program under test for the driver's
interpreter lock. It accepts any POST, answers ``200`` with an empty body,
and records per request: the route (URL path), the event id and due time
parsed from the payload, the receive time and the time spent reading and
parsing the request. It counts
accepted TCP connections separately from requests, so a connector that
opens a connection per event shows as ``connections / requests == 1``.

``GET /stats`` returns everything recorded as one JSON document; ``GET
/count`` returns only the number of events per route.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Recorder:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.connections = 0
        self.requests = 0
        self.bad = 0
        # route -> list of [event id, due_ns, recv_ns, handler_us]
        self.events: dict[str, list[list[int]]] = {}

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "connections": self.connections,
                "requests": self.requests,
                "bad": self.bad,
                "events": {k: list(v) for k, v in self.events.items()},
            }


def event_key(body: dict) -> tuple[int, int]:
    """(event id, due ns) from a delivered payload: the templated route
    renders them at the top level; the default route sends the whole item
    as JSON, so they sit in the first row image."""
    if "id" in body:
        return int(body["id"]), int(body["due"])
    row = body["Data"]["Rows"][0]
    return int(row["id"]), int(row["due"])


def make_handler(rec: Recorder):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self) -> None:
            super().setup()
            with rec.lock:
                rec.connections += 1

        def do_POST(self) -> None:  # noqa: N802 (stdlib casing)
            recv_ns = time.time_ns()
            t0 = time.perf_counter()
            length = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(length)
            route = self.path.strip("/") or "default"
            try:
                eid, due = event_key(json.loads(raw))
            except (ValueError, KeyError, IndexError, TypeError):
                eid = None
            handler_us = int((time.perf_counter() - t0) * 1e6)
            # Recorded before the reply: a sequential sender's next request
            # can only start after it, so the record order is arrival order.
            with rec.lock:
                rec.requests += 1
                if eid is None:
                    rec.bad += 1
                else:
                    rec.events.setdefault(route, []).append(
                        [eid, due, recv_ns, handler_us]
                    )
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_GET(self) -> None:  # noqa: N802
            if self.path == "/count":
                with rec.lock:
                    snap = {k: len(v) for k, v in rec.events.items()}
            else:
                snap = rec.snapshot()
            body = json.dumps(snap).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:
            pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    rec = Recorder()
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(rec))
    server.daemon_threads = True
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(
        target=server.shutdown, daemon=True).start())
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.replace(tmp, args.port_file)
    server.serve_forever(poll_interval=0.1)
    server.server_close()


if __name__ == "__main__":
    main()
