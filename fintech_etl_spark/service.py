"""Thin HTTP facade over the engine — the reference's service surface
(/root/reference/main.py:78-224) re-expressed on the stdlib so it adds
no dependency and keeps ALL processing in the engine layer.

Endpoint parity with the reference FastAPI app:

  GET/HEAD /                    — liveness {"status": "ok", ...}
  GET/HEAD /health              — health probe (Spark session instead
                                  of the GCS client check)
  POST /ingest                  — multipart CSV + gmail_id +
                                  received_date + original_name
                                  [+ google_drive_url]; bearer-token
                                  auth (reference intake/handlers.py:
                                  30-38); lands the payload, then
                                  processes it to the receipt lake /
                                  webhook
  POST /process-csv             — {"path": ...} process one landed CSV
                                  (backgrounded, returns "accepted")
  GET  /list-pending            — pending *.csv in the landing dir
  POST /process-all-pending     — fan out processing of all pending

Design stance (SURVEY §2.7): the HTTP layer is plumbing. Intake lands
payloads with ``land_raw_files`` and processes every CSV through
``cli.process_invoices``, the CLI's own ingest function: one manifest
commit per batch, exactly-once per source file, and — with a webhook
and a lake — delivery through the lake's outbox and ledger. A
re-processed file therefore adds no rows and posts nothing twice.
Background work runs on a single-thread executor (the reference's
BackgroundTasks analogue); ``drain()`` blocks until queued work
finishes, which is both the graceful-shutdown hook and what makes the
behavior deterministic under test.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import os
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from email import message_from_bytes
from email.policy import HTTP
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from fintech_etl_spark.cli import process_invoices
from fintech_etl_spark.sinks import WebhookSink, land_raw_files

_log = logging.getLogger(__name__)


class EtlHttpService:
    """Serve the reference's endpoints in front of a live SparkSession.

    ``port=0`` binds an ephemeral port (exposed as ``.port`` after
    ``start()``). ``intake_token`` empty means "no auth", exactly like
    the reference's settings.intake_token.
    """

    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        lake_dir: str | None = None,
        webhook_url: str | None = None,
        intake_token: str = "",
        port: int = 0,
        webhook_poster=None,
    ) -> None:
        self.spark = spark
        self.landing_dir = landing_dir
        self.lake_dir = lake_dir
        self.webhook_url = webhook_url
        self.webhook_poster = webhook_poster  # injectable for tests
        self.intake_token = intake_token
        self._requested_port = port
        self.port: int | None = None
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # One worker = the reference's sequential BackgroundTasks queue;
        # Spark parallelism lives inside each job, not across jobs.
        self._executor = ThreadPoolExecutor(max_workers=1)
        self._pending: list[Future] = []

    # -- engine delegation ------------------------------------------------

    def _process(self, csv_path: str | list[str], gmail_id: str | None = None) -> int:
        sink = (
            WebhookSink(url=self.webhook_url, poster=self.webhook_poster)
            if self.webhook_url
            else None
        )
        return process_invoices(self.spark, csv_path, self.lake_dir, sink, gmail_id)

    def _test_webhook(self, url: str | None) -> dict:
        """POST one deterministic sample receipt through the REAL sink
        path (advertised by the reference README:106 but never
        implemented there — real here). Returns the sink accounting so
        the caller learns delivered-vs-failed, not just 'accepted'."""
        target = url or self.webhook_url
        if not target:
            return {"status": "error", "detail": "no webhook_url configured"}
        sample = {
            "receiptId": "TEST-0001",
            "vendor": "Test Vendor",
            "transactionDate": "2024-01-01",
            "totalAmount": 12.34,
            "salesTax": 0.0,
            "subtotal": 12.34,
            "itemCount": 1,
            "document_id": "fnt-test-TEST-0001-0",
            "lineItems": [
                {
                    "itemName": "Test Item",
                    "quantity": 1,
                    "extendedPrice": 12.34,
                }
            ],
            "source_file": "test://sample.csv",
        }
        payloads = self.spark.createDataFrame(
            [(sample["document_id"], json.dumps(sample))],
            "document_id string, payload string",
        )
        acct = WebhookSink(url=target, poster=self.webhook_poster).send_batch(
            payloads
        )
        return {
            "status": "ok" if acct["failed"] == 0 else "error",
            "url": target,
            **acct,
        }

    def _submit(self, fn, *args) -> None:
        self._pending.append(self._executor.submit(fn, *args))

    def drain(self) -> None:
        """Block until all background processing has finished."""
        for f in list(self._pending):
            f.result()
        self._pending.clear()

    def _list_pending(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.landing_dir)):
            if not name.endswith(".csv"):
                continue
            path = os.path.join(self.landing_dir, name)
            st = os.stat(path)
            out.append(
                {
                    "name": name,
                    "size": st.st_size,
                    "created": dt.datetime.fromtimestamp(st.st_mtime).isoformat(),
                    "path": path,
                }
            )
        return out

    # -- lifecycle --------------------------------------------------------

    def start(self) -> int:
        service = self

        class Handler(BaseHTTPRequestHandler):
            # quiet request logging; errors still surface as responses
            def log_message(self, fmt, *args):  # noqa: D102
                pass

            def _json(self, code: int, obj: dict, body: bool = True) -> None:
                payload = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                if body:
                    self.wfile.write(payload)

            def _check_token(self) -> bool:
                """Bearer auth per the reference (handlers.py:30-38):
                no configured token → open; else exact match required."""
                if not service.intake_token:
                    return True
                auth = self.headers.get("Authorization") or ""
                if not auth.startswith("Bearer "):
                    self._json(401, {"detail": "Missing bearer token"})
                    return False
                if auth.split(" ", 1)[1] != service.intake_token:
                    self._json(401, {"detail": "Invalid token"})
                    return False
                return True

            # -- GET ------------------------------------------------------

            def do_GET(self):  # noqa: N802
                if self.path in ("/", "/health"):
                    self._handle_status()
                elif self.path == "/list-pending":
                    try:
                        files = service._list_pending()
                        self._json(
                            200,
                            {"status": "ok", "count": len(files), "files": files},
                        )
                    except OSError as exc:
                        self._json(500, {"detail": str(exc)})
                else:
                    self._json(404, {"detail": "not found"})

            def do_HEAD(self):  # noqa: N802
                if self.path in ("/", "/health"):
                    self._handle_status(body=False)
                else:
                    self._json(404, {"detail": "not found"}, body=False)

            def _handle_status(self, body: bool = True) -> None:
                if self.path == "/":
                    self._json(
                        200, {"status": "ok", "service": "fintech-etl-spark"}, body
                    )
                    return
                try:
                    ok = service.spark.sparkContext is not None
                except Exception as exc:  # noqa: BLE001 - stopped session
                    # don't swallow silently: the degraded verdict should
                    # leave a trace of WHY the session probe failed
                    _log.warning("health probe: spark session check failed: %s", exc)
                    ok = False
                self._json(
                    200,
                    {
                        "status": "healthy" if ok else "degraded",
                        "spark_session": "ok" if ok else "error",
                        "landing_dir": service.landing_dir,
                        "webhook_configured": bool(service.webhook_url),
                    },
                    body,
                )

            # -- POST -----------------------------------------------------

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n)
                if self.path == "/ingest":
                    self._handle_ingest(raw)
                elif self.path == "/process-csv":
                    self._handle_process_csv(raw)
                elif self.path == "/process-all-pending":
                    self._handle_process_all()
                elif self.path == "/test-webhook":
                    self._handle_test_webhook(raw)
                else:
                    self._json(404, {"detail": "not found"})

            def _handle_test_webhook(self, raw: bytes) -> None:
                # bearer-gated like /ingest: the body may carry an arbitrary
                # webhook_url, so an open endpoint would be an SSRF primitive
                # (server-side POST to attacker-chosen internal addresses)
                if not self._check_token():
                    return
                try:
                    body = json.loads(raw or b"{}")
                except json.JSONDecodeError:
                    self._json(400, {"detail": "body must be JSON"})
                    return
                result = service._test_webhook(body.get("webhook_url"))
                self._json(200 if result["status"] == "ok" else 502, result)

            def _handle_ingest(self, raw: bytes) -> None:
                if not self._check_token():
                    return
                ctype = self.headers.get("Content-Type") or ""
                msg = message_from_bytes(
                    f"Content-Type: {ctype}\r\n\r\n".encode() + raw, policy=HTTP
                )
                if not msg.is_multipart():
                    self._json(400, {"detail": "expected multipart/form-data"})
                    return
                fields: dict[str, str] = {}
                payload: bytes | None = None
                filename = None
                for part in msg.iter_parts():
                    name = part.get_param(
                        "name", header="Content-Disposition", unquote=True
                    )
                    if part.get_filename():
                        payload = part.get_payload(decode=True)
                        filename = part.get_filename()
                    elif name:
                        fields[name] = part.get_payload(decode=True).decode()
                required = ("gmail_id", "received_date", "original_name")
                missing = [k for k in required if k not in fields]
                if payload is None or missing:
                    self._json(
                        400,
                        {"detail": f"missing file or fields: {missing or 'file'}"},
                    )
                    return
                original = fields["original_name"] or filename or "upload.csv"
                # land bytes to the pending dir under the intake naming
                # rule, then manifest + process through the one pipeline
                safe = original.replace(" ", "_")
                local_name = f"{fields['received_date']}_{fields['gmail_id']}_{safe}"
                local_path = os.path.join(service.landing_dir, local_name)
                with open(local_path, "wb") as f:
                    f.write(payload)
                land_raw_files(
                    service.spark,
                    [(payload, fields["received_date"], fields["gmail_id"], original)],
                    os.path.join(service.landing_dir, "_manifest"),
                )
                n_receipts = service._process(local_path, fields["gmail_id"])
                self._json(
                    200,
                    {
                        "status": "ok",
                        "object_name": f"intake/{local_name}",
                        "receipts": n_receipts,
                        "timestamp": dt.datetime.utcnow().isoformat(),
                    },
                )

            def _handle_process_csv(self, raw: bytes) -> None:
                try:
                    body = json.loads(raw or b"{}")
                    path = body["path"]
                except (json.JSONDecodeError, KeyError):
                    self._json(400, {"detail": "body must be {'path': ...}"})
                    return
                service._submit(service._process, path)
                self._json(
                    200,
                    {
                        "status": "accepted",
                        "message": f"Processing started for {path}",
                        "timestamp": dt.datetime.utcnow().isoformat(),
                    },
                )

            def _handle_process_all(self) -> None:
                try:
                    files = service._list_pending()
                except OSError as exc:
                    self._json(500, {"detail": str(exc)})
                    return
                if not files:
                    self._json(
                        200, {"status": "ok", "message": "No pending files to process"}
                    )
                    return
                for f in files:
                    service._submit(service._process, f["path"])
                self._json(
                    200,
                    {
                        "status": "accepted",
                        "message": f"Started processing {len(files)} files",
                        "files": [f["name"] for f in files],
                    },
                )

        self._httpd = ThreadingHTTPServer(("127.0.0.1", self._requested_port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def shutdown(self) -> None:
        self.drain()
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        self._executor.shutdown(wait=True)


def main(argv: list[str] | None = None) -> int:  # pragma: no cover - manual run
    import argparse

    from fintech_etl_spark.session import build_session

    p = argparse.ArgumentParser(prog="fintech-etl-spark-serve")
    p.add_argument("--landing", required=True)
    p.add_argument("--lake")
    p.add_argument("--webhook")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--token", default=os.environ.get("INTAKE_TOKEN", ""))
    args = p.parse_args(argv)
    svc = EtlHttpService(
        build_session("fintech_etl_service"),
        landing_dir=args.landing,
        lake_dir=args.lake,
        webhook_url=args.webhook,
        intake_token=args.token,
        port=args.port,
    )
    port = svc.start()
    print(f"serving on 127.0.0.1:{port}")
    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        svc.shutdown()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
