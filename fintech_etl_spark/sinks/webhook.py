"""Webhook sink: one JSON document per receipt, POSTed per partition.

The reference sends sequentially from a single process and swallows
errors — at-most-once delivery (/root/reference/stream/util.py:48-60,
:153-158). Here the lake's transactional outbox carries the payloads
and ``sinks.receipts.drain_outbox`` delivers them at-least-once
through the lake's delivery ledger; this class supplies only the
per-partition delivery kernel (:meth:`WebhookSink.deliver`) and the
ledgerless :meth:`WebhookSink.send_batch` for callers without a lake.
``document_id`` is the idempotency key receivers dedupe on (SURVEY
§2.6 — a documented improvement, not a parity bug).

Network I/O is injectable (``poster``) so tests exercise the error
accounting and payload shape without sockets. The default poster uses
urllib from the Python stdlib — executors have no extra deps.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator
from dataclasses import InitVar, dataclass
from typing import ClassVar

from pyspark.sql import DataFrame, Row

Poster = Callable[[str, bytes, dict[str, str]], int]  # (url, body, headers) -> status


def _default_poster(url: str, body: bytes, headers: dict[str, str]) -> int:
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.status


def _posted(poster: Poster, url: str, payload: str, headers: dict[str, str]) -> bool:
    """POST one document; True on a 2xx. Any error is a failed post:
    one bad document must not stop the rest of its partition."""
    try:
        status = poster(url, payload.encode("utf-8"), headers)
    except Exception:  # noqa: BLE001 — per-doc isolation
        return False
    return 200 <= status < 300


@dataclass
class WebhookSink:
    """POST each receipt document to ``url``.

    With a lake, delivery is ``sinks.receipts.drain_outbox(spark,
    lake, sink)``: the payloads staged in the lake's ``OUTBOX``
    dataset are posted and the successes recorded in
    ``<lake>/<LEDGER>``. Both names are fixed per sink class, so every
    drain of a lake — CLI run, service request or ``maintain`` cron —
    reads the same ledger."""

    #: the lake's manifest dataset holding this sink's pending payloads
    OUTBOX: ClassVar[str] = "webhook_outbox"
    #: the delivery ledger's directory under the lake root
    LEDGER: ClassVar[str] = "_webhook_ledger"

    url: str
    headers: dict[str, str] | None = None
    timeout_s: int = 30
    poster: Poster | None = None
    #: Ignored. The ledger is always ``<lake>/_webhook_ledger``; the
    #: keyword is accepted because the benchmark harness still passes
    #: it (ROADMAP, small mends: the benchmark's pre-outbox names).
    ledger_path: InitVar[str | None] = None

    def deliver(self, docs: Iterable[tuple[str, str]]) -> Iterator[bool]:
        """The per-partition delivery kernel: POST each ``(document_id,
        payload)`` in order, one document per call, and yield whether
        it was delivered (a 2xx). A failure never stops the rest."""
        url = self.url
        headers = {"Content-Type": "application/json", **(self.headers or {})}
        poster = self.poster or _default_poster
        for _doc_id, payload in docs:
            yield _posted(poster, url, payload, headers)

    def arrange(self, docs: DataFrame) -> DataFrame:
        """Webhook documents carry no order: partitions post as read."""
        return docs

    def send_batch(self, payloads: DataFrame) -> dict[str, int]:
        """Ledgerless delivery of ``(document_id, payload)`` rows (see
        ``receipts.to_webhook_payloads``), for callers with no lake to
        anchor an outbox to: the CLI without ``--lake`` and the
        service's test-webhook endpoint.

        Runs on executors; each partition posts its documents
        sequentially, partitions in parallel. Failures are counted and
        logged per partition, never raised; a re-send re-posts the
        whole batch under the same ``document_id`` keys. Returns
        ``{"sent": n, "failed": m}``."""
        sc = payloads.sparkSession.sparkContext
        sent_acc = sc.accumulator(0)
        failed_acc = sc.accumulator(0)
        deliver = self.deliver

        def run(rows: Iterator[Row]) -> None:
            oks = list(deliver((r.document_id, r.payload) for r in rows))
            sent, failed = sum(oks), len(oks) - sum(oks)
            sent_acc.add(sent)
            failed_acc.add(failed)
            if failed:
                print(
                    json.dumps(
                        {"webhook_sink": {"sent": sent, "failed": failed}}
                    )
                )

        payloads.foreachPartition(run)
        return {"sent": sent_acc.value, "failed": failed_acc.value}
