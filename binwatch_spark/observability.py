"""Observability — the reference's HTTP state API (O1) on Spark streaming
primitives. The error policy (O2) is ``pipeline.supervise_routes``.

- ``ProgressListener``: StreamingQueryListener capturing per-batch progress
  (rows/sec, batch duration, state) — strictly richer than the reference's
  single queue-depth gauge (serverapi.go:95-130).
- ``serve_api``: tiny HTTP server exposing ``GET /healthz`` (constant OK,
  serverapi.go:78-93) and ``GET /api/v1/server`` → ``{id, host, port,
  poolSize}`` where poolSize reports the live in-flight row count of the
  latest micro-batch (the queue-depth analog from pools.go:84-89).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from pyspark.sql.streaming import StreamingQueryListener

from binwatch_spark.config import JobConfig


class ProgressListener(StreamingQueryListener):
    def __init__(self):
        self.last_progress: dict = {}
        self.num_input_rows: int = 0
        # Cumulative count of events the positional binder dropped for an
        # arity mismatch (blreaderwork.go:255-273 skip counter) — fed by
        # the "positional_binder" observed metric bind_positional_rows
        # attaches to the plan; per-batch values arrive in
        # StreamingQueryProgress.observedMetrics.
        self.arity_mismatch_events: int = 0
        # Cumulative count of positional events dropped because their table
        # has no discovered column map (blreaderwork.go:248-250 skip).
        self.unknown_table_events: int = 0

    def onQueryStarted(self, event):
        return

    def onQueryProgress(self, event):
        progress = event.progress
        self.num_input_rows = progress.numInputRows
        observed = {}
        try:
            for name, row in (progress.observedMetrics or {}).items():
                observed[name] = row.asDict()
        except Exception:  # metric shape is advisory; never fail the stream
            observed = {}
        # Scope to THIS pipeline's binder metric: a session-level listener
        # receives progress for every stream on the SparkSession, and
        # summing any metric that happens to carry the column would fold a
        # concurrent pipeline's drops into this one's counter.
        binder = observed.get("positional_binder") or {}
        self.arity_mismatch_events += int(
            binder.get("arity_mismatch_events") or 0
        )
        self.unknown_table_events += int(
            binder.get("unknown_table_events") or 0
        )
        self.last_progress = {
            "id": str(progress.id),
            "name": progress.name,
            "batchId": progress.batchId,
            "numInputRows": progress.numInputRows,
            "inputRowsPerSecond": progress.inputRowsPerSecond,
            "processedRowsPerSecond": progress.processedRowsPerSecond,
            "observedMetrics": observed,
        }

    def onQueryTerminated(self, event):
        return

    def onQueryIdle(self, event):
        return


def server_info(cfg: JobConfig, listener: ProgressListener | None = None) -> dict:
    """serverapi.go:110-121 response shape."""
    return {
        "id": cfg.server.id,
        "host": cfg.server.host,
        "port": cfg.server.port,
        "poolSize": listener.num_input_rows if listener else 0,
    }


def serve_api(
    cfg: JobConfig, listener: ProgressListener | None = None
) -> HTTPServer:
    """Start the health/state HTTP API on cfg.server.host:port (daemon
    thread); returns the server (call ``.shutdown()`` to stop)."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib casing)
            if self.path == "/healthz":
                body, status = b"OK", 200
            elif self.path == "/api/v1/server":
                body = json.dumps(server_info(cfg, listener)).encode()
                status = 200
            else:
                body, status = b"not found", 404
            self.send_response(status)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            return

    httpd = HTTPServer((cfg.server.host, cfg.server.port), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd

