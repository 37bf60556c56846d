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
balancer; each receiver writes its own spool files, so concurrent
receivers never interleave partial lines. Spark's file source reads a
file once, when it first lists it, and skips names that start with
``.`` or ``_``. So a receiver appends to a hidden in-progress file and
renames it (``os.replace``, under the append lock) to a visible
``.json`` once it is older than :data:`ROTATE_S` and on :meth:`stop`;
the next POST starts a new in-progress file. A running stream sees
every acknowledged event, at most about :data:`ROTATE_S` after its ack,
and nothing is appended to a file after the stream can list it.

A receiver that dies cannot publish its in-progress file, so each
running receiver holds an ``fcntl.flock`` (released by the kernel when
the process dies) on a hidden lock file named after its prefix, and
``start`` publishes the in-progress files of every prefix whose lock it
can take — never a live peer's.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, HTTPServer

# serve_forever's poll interval: how long stop() waits for the server
# loop to notice the shutdown request
POLL_S = 0.05
# an in-progress spool file older than this is published
ROTATE_S = 1.0


class WebhookReceiver:
    """Spooling HTTP receiver: ``POST /webhook/<account>`` appends the
    JSON body (with ``account`` injected from the path, the reference's
    route-parameter behavior) to ``spool_dir`` as JSON lines. Start
    with :meth:`start`, stop with :meth:`stop`; the bound port is
    ``self.port`` (pass 0 to pick a free one)."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0):
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self._prefix = f"spool-{uuid.uuid4().hex[:12]}"
        self._seq = 0
        self._opened = None  # monotonic time of the in-progress file's first line
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
                    if receiver._opened is None:
                        receiver._opened = time.monotonic()
                    with open(receiver._in_progress(), "a") as f:
                        f.write(line + "\n")
                    receiver.n_received += 1
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(b'{"status": "ok"}')

            def log_message(self, *args):  # silence test output
                pass

        class Server(HTTPServer):
            def service_actions(self):  # each serve_forever poll
                receiver._publish(ROTATE_S)

        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._started = False
        self._flock = None  # the open lock file, held while running
        self._lock_path = os.path.join(spool_dir, f".{self._prefix}.lock")
        self._thread = threading.Thread(
            target=self._server.serve_forever, args=(POLL_S,), daemon=True
        )

    def _in_progress(self) -> str:
        return os.path.join(self.spool_dir, f".{self._prefix}-{self._seq}.json")

    def _publish(self, min_age: float) -> None:
        """Make the in-progress file visible to the file source if it
        has been open for at least ``min_age`` seconds."""
        with self._lock:
            if self._opened is None or time.monotonic() - self._opened < min_age:
                return
            os.replace(
                self._in_progress(),
                os.path.join(self.spool_dir, f"{self._prefix}-{self._seq}.json"),
            )
            self._seq += 1
            self._opened = None

    def _publish_orphans(self) -> None:
        """Publish the in-progress files of every receiver on this spool
        whose lock is free: its process is gone. The lock file goes
        last, so a crash here leaves the rest for the next start."""
        spool = glob.escape(self.spool_dir)
        for lock in glob.glob(os.path.join(spool, ".spool-*.lock")):
            prefix = os.path.basename(lock)[1:-len(".lock")]
            try:
                with open(lock) as f:
                    fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    for tmp in glob.glob(os.path.join(spool, f".{prefix}-*.json")):
                        name = os.path.basename(tmp)[1:]
                        os.replace(tmp, os.path.join(self.spool_dir, name))
                    os.remove(lock)
            except (BlockingIOError, FileNotFoundError):
                continue  # a live receiver (this one too), or a peer got there first

    def start(self) -> "WebhookReceiver":
        # lock, then make the lock file visible: a peer never sees it free
        self._flock = open(self._lock_path + ".tmp", "w")
        fcntl.flock(self._flock, fcntl.LOCK_EX)
        os.rename(self._lock_path + ".tmp", self._lock_path)
        self._publish_orphans()
        self._thread.start()
        self._started = True
        return self

    def stop(self) -> None:
        """Stop serving, publish the in-progress file and release the
        lock."""
        # shutdown() blocks on serve_forever()'s completion event —
        # calling it on a never-started server deadlocks forever
        if self._started:
            self._server.shutdown()
        self._server.server_close()
        self._publish(0.0)
        if self._flock is not None:
            os.remove(self._lock_path)
            self._flock.close()
            self._flock = None
