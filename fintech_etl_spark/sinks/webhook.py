"""Webhook sink: one JSON document per receipt, POSTed per partition.

The reference sends sequentially from a single process and swallows
errors — at-most-once delivery (/root/reference/stream/util.py:48-60,
:153-158). Ours runs ``foreachPartition`` so executors deliver in
parallel, and pairs with checkpointed streaming for at-least-once;
``document_id`` is the idempotency key receivers dedupe on (SURVEY
§2.6 — a documented improvement, not a parity bug).

Network I/O is injectable (``poster``) so tests exercise the batching,
error accounting, and payload shape without sockets. The default
poster uses urllib from the Python stdlib — executors have no extra
deps.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Row

Poster = Callable[[str, bytes, dict[str, str]], int]  # (url, body, headers) -> status

#: the delivery ledger's columns; reads declare them, so building the
#: skip frame runs no schema-inference job
_LEDGER_SCHEMA = "document_id string, batch_id long, delivered_at timestamp"


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


class _BatchCounts(AccumulatorParam):
    """Merges the delivery tasks' ``{batch_id: [sent, failed, skipped]}``."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        for b, counts in value2.items():
            value1[b] = [x + y for x, y in zip(value1.get(b, [0, 0, 0]), counts)]
        return value1


@dataclass
class WebhookSink:
    url: str
    headers: dict[str, str] | None = None
    timeout_s: int = 30
    poster: Poster | None = None
    #: Optional parquet path for the cross-restart delivery ledger.
    #: Without it, idempotency is receiver-side only (document_id key);
    #: with it, successfully delivered (document_id, batch_id) rows are
    #: appended after each attempt and future attempts for the SAME
    #: batch_id skip them — so a retry after a driver restart
    #: (new sink instance, same ledger) re-posts only the failures.
    ledger_path: str | None = None
    #: r8: in-stream ledger retention. When set, every
    #: ``maintenance_every``-th batch drops all but the most recent
    #: ``ledger_keep_batches`` ``batch_id=`` partitions after its own
    #: append — foreachBatch can only retry the CURRENT batch, so older
    #: partitions are pure listing weight. ``None`` keeps retention a
    #: manual ``sinks.maintenance.expire_ledger_batches`` schedule.
    ledger_keep_batches: int | None = None
    maintenance_every: int = 8

    def send_batch(
        self, payloads: DataFrame, batch_id: int | None = None
    ) -> dict[str, int]:
        """payloads: (document_id, payload) — see receipts.to_webhook_payloads.

        Runs on executors; each partition posts its documents
        sequentially (per-doc webhook semantics), partitions in
        parallel. Failures are counted and logged per partition, never
        raised — delivery retry belongs to the streaming checkpoint
        layer (re-running the whole micro-batch = at-least-once), and
        receivers dedupe on ``document_id``, which is deterministic for
        a given (receipt, run_ts), so a re-sent document carries the
        SAME idempotency key.

        With ``ledger_path`` configured and a ``batch_id`` given, this
        is :meth:`send_batches` with the one id: documents the ledger
        already records for this batch_id are skipped, not posted (so a
        retry after a driver restart — a brand-new sink instance —
        re-sends only the failures), and this attempt's successes are
        appended to the ledger, all in one Spark action. The ledger is
        append-only and deduped on read; task-level retries can at
        worst re-post (at-least-once stands) but never double-record a
        skip decision.

        Returns the batch accounting ``{"sent": n, "failed": m}`` —
        plus ``"skipped"`` on the ledger path — the driver-side signal
        a caller uses to decide whether to retry the batch.
        """
        if self.ledger_path is not None and batch_id is not None:
            from pyspark.sql import functions as F

            res = self.send_batches(
                payloads.withColumn("batch_id", F.lit(batch_id).cast("long")),
                [batch_id],
            )[batch_id]
            if (
                self.ledger_keep_batches is not None
                and batch_id % self.maintenance_every == 0
            ):
                from fintech_etl_spark.sinks.maintenance import expire_ledger_batches

                expire_ledger_batches(
                    self.ledger_path, keep_last=self.ledger_keep_batches
                )
            return res
        url = self.url
        headers = {"Content-Type": "application/json", **(self.headers or {})}
        poster = self.poster or _default_poster
        sc = payloads.sparkSession.sparkContext
        sent_acc = sc.accumulator(0)
        failed_acc = sc.accumulator(0)

        def deliver(rows: Iterator[Row]) -> None:
            sent = failed = 0
            for row in rows:
                if _posted(poster, url, row.payload, headers):
                    sent += 1
                else:
                    failed += 1
            sent_acc.add(sent)
            failed_acc.add(failed)
            if failed:
                print(
                    json.dumps(
                        {"webhook_sink": {"sent": sent, "failed": failed}}
                    )
                )

        payloads.foreachPartition(deliver)
        return {"sent": sent_acc.value, "failed": failed_acc.value}

    def send_batches(
        self, payloads: DataFrame, batch_ids: list[int]
    ) -> dict[int, dict[str, int]]:
        """Ledger-gated delivery of many batches in ONE Spark action —
        the outbox drain's plan shape (``sinks.receipts.
        drain_webhook_outbox``) and, with one id, :meth:`send_batch`'s
        ledger path. ``payloads`` carries ``(document_id, payload,
        batch_id)`` where ``batch_id`` ∈ ``batch_ids``.

        The payloads are left-joined to the ledger, read with its
        declared schema and pruned to the named ``batch_id=``
        partitions, which marks the ``(document_id, batch_id)`` pairs an
        earlier attempt delivered. One ``mapInPandas`` pass skips the
        marked rows, posts the rest, and counts sent, failed and
        skipped per batch into an accumulator; its successes are
        appended to the ledger partitioned by batch_id, and that
        append is the action. So a drain after a receiver outage
        queued hundreds of pending outbox segments costs O(1) Spark
        jobs, not O(batches). Only successes are recorded: a crash
        between post and append degrades to at-least-once (receivers
        dedupe on ``document_id``), never to a lost skip. A corrupt
        ledger file fails the action before any post, because the join
        reads the ledger side first.

        Returns per-batch accounting ``{batch_id: {"sent", "failed",
        "skipped"}}`` (every id in ``batch_ids`` present, zeros for ids
        with no payload rows)."""
        from pyspark.sql import functions as F

        if self.ledger_path is None:
            raise ValueError(
                "send_batches: multi-batch delivery is ledger-gated by "
                "contract (retry-only-failures needs the skip record); "
                "construct WebhookSink(..., ledger_path=...)"
            )
        spark = payloads.sparkSession
        url = self.url
        headers = {"Content-Type": "application/json", **(self.headers or {})}
        poster = self.poster or _default_poster
        counts = spark.sparkContext.accumulator({}, _BatchCounts())

        already = self._read_ledger_multi(spark, batch_ids)
        if already is None:
            marked = payloads.withColumn("_done", F.lit(False))
        else:
            # NO forced broadcast: after a long outage the union of
            # hundreds of batches' ledgers can outgrow the driver — the
            # ledger side is already partition-pruned to the named
            # batch_ids, so let the optimizer/AQE pick broadcast when
            # it actually fits
            marked = payloads.join(
                already.withColumn("_done", F.lit(True)),
                ["document_id", "batch_id"],
                "left",
            ).withColumn("_done", F.col("_done").isNotNull())

        def deliver(pdfs):
            for pdf in pdfs:
                local: dict[int, list[int]] = {}
                oks = []
                for b, done, payload in zip(
                    pdf["batch_id"], pdf["_done"], pdf["payload"]
                ):
                    n = local.setdefault(int(b), [0, 0, 0])
                    ok = not done and _posted(poster, url, payload, headers)
                    n[2 if done else 0 if ok else 1] += 1  # sent, failed, skipped
                    oks.append(ok)
                counts.add(local)
                yield pdf.loc[oks, ["document_id", "batch_id"]]

        (
            marked.mapInPandas(deliver, "document_id string, batch_id long")
            .withColumn("delivered_at", F.current_timestamp())
            # partition by batch_id: the per-batch skip read prunes to
            # its own directories instead of scanning the whole ledger —
            # an append-only ledger on a long-lived stream is otherwise
            # an unbounded per-batch scan
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(self.ledger_path)
        )
        out = {int(b): {"sent": 0, "failed": 0, "skipped": 0} for b in batch_ids}
        for b, (sent, failed, skipped) in counts.value.items():
            out[b] = {"sent": sent, "failed": failed, "skipped": skipped}
        return out

    def _read_ledger(self, spark, batch_id: int):
        """Distinct document_ids recorded for ``batch_id``; None when
        the ledger doesn't exist yet (first ever batch). The ledger is
        hive-partitioned on batch_id, so this filter is a directory
        prune (one partition read), not a full-ledger scan."""
        multi = self._read_ledger_multi(spark, [batch_id])
        if multi is None:
            return None
        return multi.select("document_id")

    def _read_ledger_multi(self, spark, batch_ids: list[int]):
        """Distinct ``(document_id, batch_id)`` pairs recorded for any
        of ``batch_ids``; None when the ledger directory does not exist
        yet. The isin filter on the partition column prunes the listing
        to the named ``batch_id=`` directories only. The read declares
        the ledger schema, so a corrupt footer is not met here but in
        the action that scans the ledger, which then fails: it must
        never read as "no ledger" and silently disable dedup."""
        from pyspark.sql import functions as F

        if not os.path.isdir(self.ledger_path):
            return None
        return (
            spark.read.schema(_LEDGER_SCHEMA)
            .parquet(self.ledger_path)
            .filter(F.col("batch_id").isin([int(b) for b in batch_ids]))
            .select("document_id", "batch_id")
            .distinct()
        )
