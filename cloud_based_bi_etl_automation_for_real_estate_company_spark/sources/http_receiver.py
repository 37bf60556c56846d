"""Real HTTP push receiver — the live edge in front of the webhook
pipeline (reference webhook_app.py:152–164: Flask
``POST /webhook/<account>``), on the standard library only.

The reference couples HTTP receipt to per-event SQLite writes; the
scale-correct split is receiver-as-spooler: the HTTP edge does nothing
but append each POST body as one JSON line (with the URL's account
injected, matching the reference's route parameter), and Spark
consumes the spool with the EXISTING file-based streaming source —
``streaming.pipeline.stream_silver`` / ``sources.webhook`` need no
changes, because the spool IS the durable transport those readers were
designed for. At production scale the same contract holds with the
spooler replaced by any HTTP→log edge (nginx+Kafka, API gateway →
object store); the Spark side is transport-agnostic by construction.

Single-threaded stdlib ``HTTPServer`` — a test/dev edge, not a load
balancer; one spool file per receiver instance, so concurrent
receivers never interleave partial lines. The file is appended for the
receiver's whole lifetime and never rotated: Spark's file source reads
each file once, so lines appended after a running stream has listed
the file are not seen — drain the spool after :meth:`stop`.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from http.server import BaseHTTPRequestHandler, HTTPServer


class WebhookReceiver:
    """Spooling HTTP receiver: ``POST /webhook/<account>`` appends the
    JSON body (with ``account`` injected from the path, the reference's
    route-parameter behavior) to ``spool_dir`` as JSON lines. Start
    with :meth:`start`, stop with :meth:`stop`; the bound port is
    ``self.port`` (pass 0 to pick a free one)."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0):
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self._fname = os.path.join(
            spool_dir, f"spool-{uuid.uuid4().hex[:12]}.json"
        )
        self._lock = threading.Lock()
        self.n_received = 0
        self.n_rejected = 0
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server API)
                parts = self.path.strip("/").split("/")
                if len(parts) != 2 or parts[0] != "webhook":
                    receiver.n_rejected += 1
                    self.send_response(404)
                    self.end_headers()
                    return
                account = parts[1]
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                try:
                    payload = json.loads(body)
                except Exception:
                    payload = None
                if not isinstance(payload, dict):
                    # valid-but-non-object JSON ("[1]", "5", "null")
                    # must 400, not crash the handler
                    receiver.n_rejected += 1
                    self.send_response(400)
                    self.end_headers()
                    return
                payload["account"] = account
                line = json.dumps(payload, separators=(",", ":"))
                with receiver._lock:
                    with open(receiver._fname, "a") as f:
                        f.write(line + "\n")
                    receiver.n_received += 1
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(b'{"status": "ok"}')

            def log_message(self, *args):  # silence test output
                pass

        self._server = HTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._started = False
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def start(self) -> "WebhookReceiver":
        self._thread.start()
        self._started = True
        return self

    def stop(self) -> None:
        # shutdown() blocks on serve_forever()'s completion event —
        # calling it on a never-started server deadlocks forever
        if self._started:
            self._server.shutdown()
        self._server.server_close()
