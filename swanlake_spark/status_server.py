"""HTTP status endpoint — the engine analogue of the reference's status
server (``/root/reference/swanlake-server/src/status.rs:25-101``):
``/healthz`` (``ok``), ``/status`` (metrics snapshot JSON; its ``jvm``
object holds the JVM compile counters of ``metrics.jvm_counters``, read
once per request to this endpoint), ``/`` (the HTML page). Stdlib-only, daemon-threaded; bind port 0 for an ephemeral
port.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def start_status_server(metrics, host: str = "127.0.0.1", port: int = 0):
    """Serve the metrics status endpoints in a daemon thread. Returns
    ``(server, port)``; call ``server.shutdown()`` to stop."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API)
            if self.path == "/healthz":
                body, ctype = b"ok", "text/plain"
            elif self.path == "/status":
                body, ctype = metrics.status_json().encode(), "application/json"
            elif self.path in ("/", "/index.html"):
                body, ctype = metrics.status_html().encode(), "text/html"
            else:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # keep test output quiet
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    thread = threading.Thread(
        target=server.serve_forever, daemon=True, name="status-server"
    )
    thread.start()
    return server, server.server_address[1]
