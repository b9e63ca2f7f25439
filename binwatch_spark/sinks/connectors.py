"""Delivery connectors — the reference's connector layer (K1/K2) for
foreachBatch sinks.

Registry/factory mirrors internal/connectors/connectors.go:17-33 (unknown
type → error); the webhook connector mirrors connectors.webhook.go:47-76:
configurable method/URL/headers, optional basic auth, optional TLS
verification skip, non-2xx status → error. Pub/Sub mirrors
connectors.pubsub.go:31-42 (publish, block on result).

Two extra connector types exist for hermetic tests: ``memory`` (collects
payloads in-process) and ``file`` (appends one payload per line) — they play
the role of the reference's manual integration endpoint (README.md:216).

The webhook speaks HTTP through the standard library over one keep-alive
connection per connector instance; only Pub/Sub's client library is
import-gated. Delivery is at-least-once (the checkpoint commits after the
batch — blsenderwork.go:193-213).
"""

from __future__ import annotations

import base64
import http.client
import os
import ssl
from abc import ABC, abstractmethod
from urllib.parse import urlsplit

from binwatch_spark.config import ConnectorConfig


class Connector(ABC):
    """``Send([]byte) → error`` analog (connectors.go:12-15)."""

    @abstractmethod
    def send(self, payload: bytes) -> None:
        """Deliver one rendered payload; raise on failure."""

    def close(self) -> None:
        """Release held resources (a no-op unless the connector holds any)."""


class WebhookConnector(Connector):
    """One persistent HTTP/1.1 connection per connector instance, like the
    reference's pooled keep-alive ``http.Client``. A reused connection the
    server has since closed is reopened once and the payload resent —
    at-least-once delivery allows the resend."""

    def __init__(self, cfg: ConnectorConfig):
        wh = cfg.webhook
        url = urlsplit(wh.url)
        self._method = wh.method or "POST"
        self._target = (url.path or "/") + (f"?{url.query}" if url.query else "")
        self._headers = dict(wh.headers or {})
        # connectors.webhook.go:59-61: basic auth only when BOTH creds are
        # set AND no explicit Authorization header exists.
        has_auth_header = any(k.lower() == "authorization" for k in self._headers)
        if wh.username and wh.password and not has_auth_header:
            token = base64.b64encode(f"{wh.username}:{wh.password}".encode())
            self._headers["Authorization"] = "Basic " + token.decode("ascii")
        if url.scheme == "https":
            context = ssl.create_default_context()
            if wh.tls_skip_verify:
                context.check_hostname = False
                context.verify_mode = ssl.CERT_NONE
            self._conn = http.client.HTTPSConnection(
                url.hostname, url.port or 443, timeout=30, context=context
            )
        else:
            self._conn = http.client.HTTPConnection(
                url.hostname, url.port or 80, timeout=30
            )

    def _post(self, payload: bytes) -> int:
        try:
            self._conn.request(self._method, self._target, payload, self._headers)
            resp = self._conn.getresponse()
            resp.read()  # drain the body so the connection can carry the next request
        except (OSError, http.client.HTTPException):
            self._conn.close()  # the next request starts on a fresh connection
            raise
        return resp.status

    def send(self, payload: bytes) -> None:
        reused = self._conn.sock is not None
        try:
            status = self._post(payload)
        except (ConnectionResetError, BrokenPipeError):  # incl. RemoteDisconnected
            if not reused:
                raise
            status = self._post(payload)  # the server dropped the idle connection
        # connectors.webhook.go:71-73: any non-2xx is an error.
        if not 200 <= status < 300:
            raise RuntimeError(f"unexpected status code {status} sending data")

    def close(self) -> None:
        self._conn.close()


class PubSubConnector(Connector):
    """Tested via a fixture pubsub_v1 module plus an emulator-gated round
    trip (tests/test_pubsub_connector.py)."""

    def __init__(self, cfg: ConnectorConfig):
        try:
            from google.cloud import pubsub_v1
        except ImportError as exc:
            raise ImportError(
                "google_pubsub connector requires 'google-cloud-pubsub'"
            ) from exc
        self._publisher = pubsub_v1.PublisherClient()
        self._topic = self._publisher.topic_path(
            cfg.pubsub.project_id, cfg.pubsub.topic_id
        )

    def send(self, payload: bytes) -> None:
        # connectors.pubsub.go:37-41: publish and block on the result.
        self._publisher.publish(self._topic, payload).result()


class MemoryConnector(Connector):
    """Collects payloads in-process (driver-side test double)."""

    store: dict[str, list[bytes]] = {}

    def __init__(self, cfg: ConnectorConfig):
        self._name = cfg.name
        self.store.setdefault(cfg.name, [])

    def send(self, payload: bytes) -> None:
        self.store[self._name].append(payload)


class FileConnector(Connector):
    """Appends one payload per line — works from executor processes."""

    def __init__(self, cfg: ConnectorConfig):
        self._path = cfg.path
        os.makedirs(os.path.dirname(cfg.path) or ".", exist_ok=True)

    def send(self, payload: bytes) -> None:
        with open(self._path, "ab") as fh:
            fh.write(payload.rstrip(b"\n") + b"\n")


_TYPES = {
    "webhook": WebhookConnector,
    "google_pubsub": PubSubConnector,
    "memory": MemoryConnector,
    "file": FileConnector,
}


def make_connector(cfg: ConnectorConfig) -> Connector:
    """Factory with connectors.go:17-33 semantics: unknown type → error."""
    try:
        ctor = _TYPES[cfg.type]
    except KeyError:
        raise ValueError(f"connector type '{cfg.type}' not supported") from None
    return ctor(cfg)
