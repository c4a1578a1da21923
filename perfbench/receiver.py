"""Loopback webhook receiver: one stdlib HTTP server thread on 127.0.0.1.

It records the ``document_id`` of every POSTed receipt, so delivery is
checked end to end without leaving the machine.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer


class WebhookReceiver:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._ids: list[str] = []
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 — http.server API
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                doc_id = json.loads(body).get("document_id")
                with receiver._lock:
                    receiver._ids.append(doc_id)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self._server = HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="webhook-receiver", daemon=True
        )

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/receipts"

    def ids(self) -> list[str]:
        with self._lock:
            return list(self._ids)

    def __enter__(self) -> "WebhookReceiver":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
