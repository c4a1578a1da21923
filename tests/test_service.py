"""HTTP facade tests: the reference's endpoints (main.py:78-224) served
by EtlHttpService over a live SparkSession — ingest auth, multipart
landing + processing, pending listing, and backgrounded fan-out all
through the SAME engine path the CLI uses."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from fintech_etl_spark.sinks import read_receipts
from tests.test_receipts_pipeline import HEADER, ROWS

CSV_BODY = (HEADER + "\n" + "\n".join(ROWS) + "\n").encode()


def _req(url, method="GET", data=None, headers=None):
    req = urllib.request.Request(url, data=data, method=method, headers=headers or {})
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read() or b"{}")


def _multipart(fields: dict[str, str], file_field: str, filename: str, payload: bytes):
    boundary = "testboundary42"
    parts = []
    for k, v in fields.items():
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{k}"\r\n\r\n{v}\r\n'.encode()
        )
    parts.append(
        (
            f'--{boundary}\r\nContent-Disposition: form-data; name="{file_field}"; '
            f'filename="{filename}"\r\nContent-Type: text/csv\r\n\r\n'
        ).encode()
        + payload
        + b"\r\n"
    )
    parts.append(f"--{boundary}--\r\n".encode())
    return b"".join(parts), f"multipart/form-data; boundary={boundary}"


@pytest.fixture
def service(spark, tmp_path):
    from fintech_etl_spark.service import EtlHttpService

    landing = tmp_path / "landing"
    landing.mkdir()
    svc = EtlHttpService(
        spark,
        landing_dir=str(landing),
        lake_dir=str(tmp_path / "lake"),
        intake_token="sekrit",
    )
    port = svc.start()
    yield svc, f"http://127.0.0.1:{port}", landing
    svc.shutdown()


def test_health_and_root(service):
    _, base, _ = service
    status, body = _req(base + "/")
    assert status == 200 and body["status"] == "ok"
    status, body = _req(base + "/health")
    assert status == 200
    assert body["status"] == "healthy" and body["spark_session"] == "ok"


def test_ingest_requires_bearer_token(service):
    _, base, _ = service
    data, ctype = _multipart(
        {"gmail_id": "g1", "received_date": "2024-06-01", "original_name": "a.csv"},
        "file", "a.csv", CSV_BODY,
    )
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(base + "/ingest", "POST", data, {"Content-Type": ctype})
    assert exc.value.code == 401
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(
            base + "/ingest", "POST", data,
            {"Content-Type": ctype, "Authorization": "Bearer wrong"},
        )
    assert exc.value.code == 401


def test_ingest_lands_and_processes(service, spark, tmp_path):
    svc, base, landing = service
    data, ctype = _multipart(
        {
            "gmail_id": "g42",
            "received_date": "2024-06-01",
            "original_name": "my invoice.csv",
        },
        "file", "my invoice.csv", CSV_BODY,
    )
    status, body = _req(
        base + "/ingest", "POST", data,
        {"Content-Type": ctype, "Authorization": "Bearer sekrit"},
    )
    assert status == 200
    # intake naming rule: received_date + gmail id + space-safed name
    assert body["object_name"] == "intake/2024-06-01_g42_my_invoice.csv"
    assert body["receipts"] == 2  # INV1, INV2 (null key dropped)
    # payload landed verbatim next to a queryable manifest row
    landed = landing / "2024-06-01_g42_my_invoice.csv"
    assert landed.read_bytes() == CSV_BODY
    manifest = spark.read.parquet(str(landing / "_manifest"))
    assert manifest.count() == 1
    # the receipt lake holds the processed docs
    lake = read_receipts(spark, str(tmp_path / "lake"))
    assert sorted(r.receipt_id for r in lake.collect()) == ["INV1", "INV2"]


def test_list_pending_and_process_all(service, spark, tmp_path):
    svc, base, landing = service
    (landing / "one.csv").write_bytes(CSV_BODY)
    (landing / "two.csv").write_bytes(CSV_BODY)
    (landing / "ignored.txt").write_bytes(b"nope")

    status, body = _req(base + "/list-pending")
    assert status == 200 and body["count"] == 2
    assert [f["name"] for f in body["files"]] == ["one.csv", "two.csv"]

    status, body = _req(base + "/process-all-pending", "POST", b"")
    assert status == 200 and body["status"] == "accepted"
    svc.drain()  # background queue → deterministic assertion
    lake = str(tmp_path / "lake")
    # both files processed through the same pipeline: 2 receipts each
    assert read_receipts(spark, lake).count() == 4

    status, body = _req(base + "/process-all-pending", "POST", b"")
    # files remain pending (no tombstoning in the facade) — re-accepted
    assert body["status"] == "accepted"
    svc.drain()
    # ...but re-processing is exactly-once per source file: no new rows
    assert read_receipts(spark, lake).count() == 4


def test_process_csv_single(service, spark, tmp_path):
    svc, base, landing = service
    p = landing / "solo.csv"
    p.write_bytes(CSV_BODY)
    status, body = _req(
        base + "/process-csv", "POST",
        json.dumps({"path": str(p)}).encode(),
        {"Content-Type": "application/json"},
    )
    assert status == 200 and body["status"] == "accepted"
    svc.drain()
    assert read_receipts(spark, str(tmp_path / "lake")).count() == 2

    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(base + "/process-csv", "POST", b"not json", {})
    assert exc.value.code == 400


def test_process_csv_twice_posts_each_document_once(spark, tmp_path):
    """With a lake and a webhook, the service delivers through the
    lake's outbox and delivery ledger: /process-csv sent twice for the
    same file adds its rows once and posts each document once. Poster
    calls cross the executor boundary via the filesystem: one file per
    call, so a second post of a document_id is visible."""
    import os
    import uuid

    from fintech_etl_spark.service import EtlHttpService

    hooks = tmp_path / "hooks"
    hooks.mkdir()

    def poster(url, body, headers, _dir=str(hooks)):
        doc = json.loads(body)
        name = f"{doc['document_id']}.{uuid.uuid4().hex}"
        with open(os.path.join(_dir, name), "w") as f:
            f.write(body.decode())
        return 200

    landing = tmp_path / "landing"
    landing.mkdir()
    csv = landing / "solo.csv"
    csv.write_bytes(CSV_BODY)
    lake = str(tmp_path / "lake")
    svc = EtlHttpService(
        spark,
        landing_dir=str(landing),
        lake_dir=lake,
        webhook_url="http://configured.invalid/hook",
        webhook_poster=poster,
    )
    base = f"http://127.0.0.1:{svc.start()}"
    try:
        for _ in range(2):
            status, body = _req(
                base + "/process-csv", "POST",
                json.dumps({"path": str(csv)}).encode(),
                {"Content-Type": "application/json"},
            )
            assert status == 200 and body["status"] == "accepted"
            svc.drain()
    finally:
        svc.shutdown()
    posted = [name.rsplit(".", 1)[0] for name in os.listdir(hooks)]
    assert len(posted) == 2 and len(set(posted)) == 2
    assert read_receipts(spark, lake).count() == 2


def test_test_webhook_endpoint(spark, tmp_path):
    """POST /test-webhook (advertised by the reference README but never
    implemented there): one sample receipt goes through the REAL sink
    path and the response carries actual delivery accounting. Poster
    state crosses the executor boundary via the filesystem."""
    import os

    from fintech_etl_spark.service import EtlHttpService

    outdir = tmp_path / "hooks"
    outdir.mkdir()

    def poster(url, body, headers, _dir=str(outdir)):
        doc = json.loads(body)
        with open(os.path.join(_dir, doc["receiptId"] + ".json"), "w") as f:
            f.write(json.dumps({"url": url, "doc": doc}))
        return 200

    landing = tmp_path / "landing"
    landing.mkdir()
    svc = EtlHttpService(
        spark,
        landing_dir=str(landing),
        webhook_url="http://configured.invalid/hook",
        webhook_poster=poster,
    )
    port = svc.start()
    base = f"http://127.0.0.1:{port}"
    try:
        # default target = configured url
        status, body = _req(base + "/test-webhook", "POST", data=b"{}")
        assert status == 200
        assert body["status"] == "ok"
        assert body["url"] == "http://configured.invalid/hook"
        assert body["sent"] == 1 and body["failed"] == 0
        posted = json.load(open(outdir / "TEST-0001.json"))
        assert posted["url"] == "http://configured.invalid/hook"
        assert posted["doc"]["document_id"] == "fnt-test-TEST-0001-0"
        assert posted["doc"]["itemCount"] == 1

        # per-request override, as in the reference README's curl example
        status, body = _req(
            base + "/test-webhook",
            "POST",
            data=json.dumps({"webhook_url": "http://override.invalid/x"}).encode(),
        )
        assert status == 200 and body["url"] == "http://override.invalid/x"
    finally:
        svc.shutdown()

    # no configured url and no override → 502 with a clear detail
    svc2 = EtlHttpService(spark, landing_dir=str(landing))
    port2 = svc2.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _req(f"http://127.0.0.1:{port2}/test-webhook", "POST", data=b"{}")
        assert ei.value.code == 502
        assert "no webhook_url" in json.loads(ei.value.read())["detail"]
    finally:
        svc2.shutdown()


def test_test_webhook_requires_bearer_token(service):
    """/test-webhook is bearer-gated like /ingest: the body may carry
    an arbitrary target URL, so an open endpoint would let any caller
    make the SERVER post to attacker-chosen (e.g. internal-network)
    addresses — an SSRF primitive."""
    _, base, _ = service
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(base + "/test-webhook", "POST", data=b"{}")
    assert exc.value.code == 401
    with pytest.raises(urllib.error.HTTPError) as exc:
        _req(
            base + "/test-webhook", "POST", data=b"{}",
            headers={"Authorization": "Bearer wrong"},
        )
    assert exc.value.code == 401
