"""REST/HTTP control transport — the reference's DEFAULT query transport.

bullet-spark ships with an in-memory REST PubSub as its out-of-the-box
query bus (bullet_spark_defaults.yaml:94-97 selects the RESTPubSub class;
QueryReceiver.scala:29-30 opens it in QUERY_PROCESSING context): a web
service holds the query queue, the backend long-polls it for new queries
and POSTs results back, and clients talk plain HTTP. This module
re-creates that posture with the standard library only:

- ``RestPubSubServer`` — the web-service side: a ``ThreadingHTTPServer``
  holding two append-only in-memory logs (control messages in, status
  events out), each readable from any offset. Offset-based reads make the
  bus REPLAYABLE, so restart recovery works exactly as on the file
  transport (the ControlPlane re-reads the control log from 0 and dedupes
  against already-terminal status events).
- ``HttpTransport`` — a ``ControlTransport`` over that service:
  ``poll()`` GETs new control messages past the consumer offset,
  ``emit()`` POSTs a status event, ``replay_status()`` reads the status
  log from offset 0.
- client helpers ``http_submit_query`` / ``http_submit_kill`` /
  ``http_read_status`` — what an external submitter does with curl.

Endpoints (all JSON):

  POST /api/queries   {"id":..., "bql":...} | {"id":..., "signal":"KILL"}
  GET  /api/queries?offset=N   -> {"messages": [...], "next": M}
  POST /api/status    {...status event...}
  GET  /api/status?offset=N    -> {"events": [...], "next": M}

Scale posture: the pubsub service is a control-plane component — traffic
is queries and result summaries (KB/s), never data-plane records, so a
single service instance is the reference's own design point. The
transport keeps one persistent connection per poll; messages are totally
ordered by arrival (single server = single log), which is STRONGER than
the file transport's per-file ordering.
"""

from __future__ import annotations

import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from bullet_spark_spark.streaming.control import (
    ControlTransport,
    kill_message,
    query_message,
)


class RestPubSubServer:
    """In-memory REST pubsub web service (the reference's default bus).

    Start with ``serve()`` (binds an ephemeral port on 127.0.0.1 unless
    given one); ``base_url`` is what clients and transports connect to.
    Thread-safe: the HTTP server is threading, both logs are
    lock-guarded appends; reads never block writes for long.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        self._lock = threading.Lock()
        self._queries: list[str] = []
        self._status: list[dict] = []

        pubsub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet server
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload, default=str).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:
                length = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(length).decode("utf-8")
                path = urlparse(self.path).path
                if path == "/api/queries":
                    # store the raw line: the ControlPlane parses (and
                    # error-paths) malformed messages itself, matching the
                    # other transports' pass-through semantics
                    with pubsub._lock:
                        pubsub._queries.append(raw)
                    self._json(200, {"ok": True})
                elif path == "/api/status":
                    try:
                        event = json.loads(raw)
                    except json.JSONDecodeError:
                        self._json(400, {"ok": False, "error": "bad json"})
                        return
                    with pubsub._lock:
                        pubsub._status.append(event)
                    self._json(200, {"ok": True})
                else:
                    self._json(404, {"ok": False})

            def do_GET(self) -> None:
                parsed = urlparse(self.path)
                qs = parse_qs(parsed.query)
                offset = int(qs.get("offset", ["0"])[0])
                if parsed.path == "/api/queries":
                    with pubsub._lock:
                        msgs = pubsub._queries[offset:]
                        nxt = len(pubsub._queries)
                    self._json(200, {"messages": msgs, "next": nxt})
                elif parsed.path == "/api/status":
                    with pubsub._lock:
                        events = pubsub._status[offset:]
                        nxt = len(pubsub._status)
                    self._json(200, {"events": events, "next": nxt})
                else:
                    self._json(404, {"ok": False})

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def base_url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def serve(self) -> "RestPubSubServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def _http_json(method: str, url: str, payload: dict | str | None = None) -> dict:
    data = None
    if payload is not None:
        data = (payload if isinstance(payload, str) else json.dumps(payload, default=str)).encode(
            "utf-8"
        )
    req = urllib.request.Request(
        url, data=data, method=method, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        return json.loads(resp.read().decode("utf-8"))


class HttpTransport(ControlTransport):
    """``ControlTransport`` over a REST pubsub service (the reference's
    default transport class, bullet_spark_defaults.yaml:94-97).

    Poll semantics match the file transport: every call returns the
    control messages past the consumer's offset, in total arrival order.
    ``replay_status`` reads the status log from 0 so restart recovery
    dedupes terminal queries identically on both transports."""

    def __init__(self, base_url: str) -> None:
        self.base_url = base_url.rstrip("/")
        self._offset = 0

    def poll(self) -> list[str]:
        resp = _http_json("GET", f"{self.base_url}/api/queries?offset={self._offset}")
        self._offset = int(resp.get("next", self._offset))
        return [m for m in resp.get("messages", []) if m.strip()]

    def emit(self, event: dict) -> None:
        _http_json("POST", f"{self.base_url}/api/status", event)

    def replay_status(self) -> list[dict]:
        resp = _http_json("GET", f"{self.base_url}/api/status?offset=0")
        return list(resp.get("events", []))


# -- client-side helpers (what an external submitter does with curl) --------


def http_submit_query(
    base_url: str,
    query_id: str,
    bql: str,
    duration_ms: int | None = None,
    quantile_width: float | None = None,
) -> None:
    _http_json(
        "POST",
        f"{base_url.rstrip('/')}/api/queries",
        query_message(query_id, bql, duration_ms, quantile_width),
    )


def http_submit_kill(base_url: str, query_id: str) -> None:
    _http_json("POST", f"{base_url.rstrip('/')}/api/queries", kill_message(query_id))


def http_read_status(base_url: str, offset: int = 0) -> list[dict]:
    resp = _http_json("GET", f"{base_url.rstrip('/')}/api/status?offset={offset}")
    return list(resp.get("events", []))
