"""Pub/Sub sink: executor-side batched publishes with ordering keys.

The reference advertises Pub/Sub publishing — README:66 ("Publishes
events to Pub/Sub"), README:85-87 (topic ``receipt-processing``),
README:192 ("Processing → Pub/Sub: publishes events for downstream
systems") — but ships NO implementing code (zero Pub/Sub references
anywhere in its source). This module provides the real surface,
Spark-first:

- ``foreachPartition`` delivery: executors publish in parallel, each
  partition sequentially — the same fan-out/isolation shape as the
  webhook sink;
- request batching under BOTH Pub/Sub publish-request caps (1000
  messages / 10 MB per request), flushed on either limit;
- ordering keys: callers name an ordering column and a within-key sort;
  the frame is repartitioned BY KEY and sorted within partitions, so
  every key's messages flow through one partition in order — exactly
  the contract Cloud Pub/Sub ordering keys need from a publisher;
- at-least-once: publish failures are counted per batch and never
  raised mid-stream; retry belongs to the caller/checkpoint layer, and
  the ``document_id`` attribute is the receiver-side idempotency key
  (same design as the webhook sink's ledger-less mode).

Transport is injectable, mirroring the webhook sink's ``poster``: the
default resolves the real ``google-cloud-pubsub`` client and raises a
LOUD ``NotImplementedError`` when it isn't installed (this container);
``FilePubSubEmulator`` is a spool-directory transport that works
across executor processes for tests and local development.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

#: (topic, messages) -> message ids; each message is a JSON-safe dict
#: {"data": str, "attributes": {str: str}, "ordering_key": str|None}.
#: Raise to fail the whole request (the batch is the retry unit).
Transport = Callable[[str, list[dict]], list[str]]

#: Cloud Pub/Sub publish-request hard caps (public service limits).
_MAX_BATCH_MESSAGES = 1000
_MAX_BATCH_BYTES = 10_000_000


def _default_transport(topic: str, messages: list[dict]) -> list[str]:
    try:
        from google.cloud import pubsub_v1  # noqa: F401 — absent here
    except ImportError as ex:
        raise NotImplementedError(
            "publishing requires google-cloud-pubsub (not installed); "
            "inject a Transport — e.g. sinks.pubsub.FilePubSubEmulator "
            "for local spool-directory delivery"
        ) from ex
    publisher = pubsub_v1.PublisherClient(
        publisher_options=pubsub_v1.types.PublisherOptions(
            enable_message_ordering=any(m.get("ordering_key") for m in messages)
        )
    )
    futures = [
        publisher.publish(
            topic,
            m["data"].encode("utf-8"),
            ordering_key=m.get("ordering_key") or "",
            **(m.get("attributes") or {}),
        )
        for m in messages
    ]
    return [f.result(timeout=60) for f in futures]


class FilePubSubEmulator:
    """Spool-directory transport: each publish request becomes one
    atomically-renamed JSON-lines file under ``<root>/<topic>/``.

    Works across executor processes (unlike an in-memory broker — the
    Python workers running ``foreachPartition`` are separate
    processes). File names lead with a monotonic nanosecond stamp, so
    one process's sequential requests sort in publish order — which is
    all per-ordering-key order needs, since the sink routes a key to a
    single partition. Only a test/dev double; the picklable state is
    one path string.
    """

    def __init__(self, root: str) -> None:
        self.root = root

    def __call__(self, topic: str, messages: list[dict]) -> list[str]:
        import os
        import time
        import uuid

        d = os.path.join(self.root, topic)
        os.makedirs(d, exist_ok=True)
        name = f"{time.monotonic_ns():020d}-{uuid.uuid4().hex}"
        tmp = os.path.join(d, "." + name)
        with open(tmp, "w", encoding="utf-8") as f:
            for m in messages:
                f.write(json.dumps(m) + "\n")
        os.rename(tmp, os.path.join(d, name + ".jsonl"))
        return [f"{name}:{i}" for i in range(len(messages))]

    def read_requests(self, topic: str) -> list[list[dict]]:
        """All publish requests for ``topic`` in file-name (≈ publish)
        order, each as its message list — drivers/tests read the spool
        back with this."""
        import glob
        import os

        out = []
        for path in sorted(glob.glob(os.path.join(self.root, topic, "*.jsonl"))):
            with open(path, encoding="utf-8") as f:
                out.append([json.loads(line) for line in f if line.strip()])
        return out


@dataclass
class PubSubSink:
    """Publish a DataFrame of events to a Pub/Sub topic.

    ``events`` frames carry ``data`` (string) and optional
    ``attributes`` (map<string,string>); see :meth:`publish`.
    """

    topic: str
    transport: Transport | None = None
    max_batch_messages: int = _MAX_BATCH_MESSAGES
    max_batch_bytes: int = _MAX_BATCH_BYTES

    def publish(
        self,
        events: DataFrame,
        ordering_col: str | None = None,
        order_by: list[str] | None = None,
    ) -> dict[str, int]:
        """Publish ``events`` — columns ``data`` (string), optional
        ``attributes`` (map<string,string>), plus ``ordering_col`` /
        ``order_by`` columns when ordering is requested.

        With ``ordering_col``, the frame is hash-repartitioned on that
        column and sorted within partitions by (key, *order_by*): every
        ordering key's messages pass through exactly one partition in
        the requested order, and the partition publishes its batches
        sequentially — the publisher-side contract Pub/Sub ordering
        keys require. Without it, the existing partitioning is kept.

        Batches flush at ``max_batch_messages`` or ``max_batch_bytes``
        (the public per-request service caps). A failed request marks
        its whole batch failed and delivery continues — at-least-once
        with caller-level retry, receivers deduping on the
        ``document_id`` attribute. Returns ``{"published": n,
        "failed": m, "requests": r}``.
        """
        from pyspark.sql import functions as F

        topic = self.topic
        transport = self.transport or _default_transport
        max_msgs = self.max_batch_messages
        max_bytes = self.max_batch_bytes
        if ordering_col is not None:
            events = (
                events.repartition(F.col(ordering_col))
                .sortWithinPartitions(ordering_col, *(order_by or []))
            )
        has_attrs = "attributes" in events.columns
        sc = events.sparkSession.sparkContext
        published_acc = sc.accumulator(0)
        failed_acc = sc.accumulator(0)
        requests_acc = sc.accumulator(0)

        def deliver(rows) -> None:
            batch: list[dict] = []
            nbytes = 0
            published = failed = requests = 0

            def flush() -> None:
                nonlocal published, failed, requests, nbytes
                if not batch:
                    return
                requests += 1
                try:
                    transport(topic, list(batch))
                    published += len(batch)
                except Exception:  # noqa: BLE001 — batch is the retry unit
                    failed += len(batch)
                batch.clear()
                nbytes = 0

            for row in rows:
                msg = {"data": row["data"]}
                if has_attrs and row["attributes"] is not None:
                    msg["attributes"] = dict(row["attributes"])
                if ordering_col is not None:
                    msg["ordering_key"] = row[ordering_col]
                sz = len(json.dumps(msg))
                if batch and (
                    len(batch) >= max_msgs or nbytes + sz > max_bytes
                ):
                    flush()
                batch.append(msg)
                nbytes += sz
            flush()
            published_acc.add(published)
            failed_acc.add(failed)
            requests_acc.add(requests)

        events.foreachPartition(deliver)
        return {
            "published": published_acc.value,
            "failed": failed_acc.value,
            "requests": requests_acc.value,
        }

    def publish_with_ledger(
        self,
        events: DataFrame,
        batch_id: int,
        ledger_path: str,
        ordering_col: str | None = "ordering_key",
        order_by: list[str] | None = None,
        id_attr: str = "document_id",
    ) -> dict[str, int]:
        """Ledger-gated publish for streaming micro-batches: the
        cross-restart idempotency layer the webhook sink has
        (``WebhookSink.send_batch`` with a ``batch_id``), for Pub/Sub.

        A parquet ledger at ``ledger_path`` (hive-partitioned by
        ``batch_id``, same layout/retention as the webhook ledger —
        ``sinks.maintenance.expire_ledger_batches`` applies) records
        each successfully published message's ``attributes[id_attr]``.
        A RETRY of the same ``batch_id`` (foreachBatch redelivery after
        a driver crash, or a caller-level retry of a failed batch)
        anti-joins the already-published set away before any request —
        the topic never sees a ledgered message twice.

        Ordering under retry: delivery is FAIL-STOP PER ORDERING KEY —
        a failed request halts every key it carried, and the rest of
        those keys' messages are marked failed instead of published
        past the gap (the contract the Cloud Pub/Sub client enforces:
        a failure halts its ordering key until resume; other keys keep
        flowing). The published prefix of every key is therefore
        gap-free, so ledger-skip + retry replays each key from its
        first unpublished message onward — per-key order survives
        end-to-end, and an outage on one key never blocks the others.
        Without ``ordering_col`` there is no order to protect and
        batch-failure isolation applies, as in :meth:`publish`.

        Counts: ``published`` (this call), ``failed`` (this call),
        ``skipped`` (ledgered by a previous attempt). At-least-once
        stands: a crash between a publish request and the ledger
        append re-publishes that request's messages on retry —
        receivers still dedupe on the ``id_attr`` attribute.
        """
        import pandas as pd
        from pyspark.sql import functions as F

        spark = events.sparkSession
        topic = self.topic
        transport = self.transport or _default_transport
        max_msgs = self.max_batch_messages
        max_bytes = self.max_batch_bytes
        has_ordering = ordering_col is not None

        if "attributes" not in events.columns:
            raise ValueError(
                "publish_with_ledger needs an 'attributes' map column "
                f"carrying the '{id_attr}' idempotency key (the ledger "
                "records it); use publish() for ledgerless delivery"
            )
        from pyspark import StorageLevel

        ev = events.withColumn(
            "_msg_id", F.col("attributes").getItem(id_attr)
        )
        # The batch lineage is consumed by THREE actions (the id
        # validation below, the ledger anti-join count, and delivery
        # itself) — cache it so the upstream micro-batch plan runs
        # once, not once per action, on the hot streaming path.
        ev = ev.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # The ledger contract hangs entirely off _msg_id: a NULL id
            # never matches the left_anti join (SQL null semantics) and
            # would republish forever, and a duplicated id would make one
            # pre-failure publish anti-join BOTH copies away on retry —
            # silent message loss. Fail loudly before any publish instead.
            chk = ev.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("_msg_id").alias("n_nonnull"),
                F.countDistinct("_msg_id").alias("n_distinct"),
            ).first()
            n_total = chk["n"]
            if chk["n_nonnull"] != n_total:
                raise ValueError(
                    f"publish_with_ledger: {n_total - chk['n_nonnull']} row(s) "
                    f"have a NULL attributes['{id_attr}'] — the idempotency "
                    "ledger cannot dedup them (NULL never equi-joins); fix the "
                    "id derivation or use publish() for ledgerless delivery"
                )
            if chk["n_distinct"] != n_total:
                raise ValueError(
                    f"publish_with_ledger: attributes['{id_attr}'] is not "
                    f"unique within batch {batch_id} "
                    f"({n_total - chk['n_distinct']} duplicate(s)) — a retry "
                    "after partial publish would skip every copy of a "
                    "duplicated id (silent loss); make the id unique per "
                    "message"
                )
            already = self._read_ledger(spark, batch_id, ledger_path)
            to_send = ev
            if already is not None:
                # per-batch ledgered set is bounded by the batch size →
                # broadcast, the skip is a map-side anti join
                to_send = ev.join(F.broadcast(already), "_msg_id", "left_anti")
            n_to_send = to_send.count() if already is not None else n_total
            n_skipped = n_total - n_to_send

            if has_ordering:
                to_send = to_send.repartition(F.col(ordering_col)).sortWithinPartitions(
                    ordering_col, *(order_by or [])
                )
            # map<string,string> crosses into pandas as engine-version-
            # dependent shapes; a JSON rendering is stable either way.
            # Leading underscores would be renamed away by itertuples —
            # plain names for the kernel columns.
            cols = [
                F.col("_msg_id").alias("msg_id"),
                "data",
                F.to_json("attributes").alias("attrs_json"),
            ]
            if has_ordering:
                cols.append(F.col(ordering_col).alias("okey"))
            to_send_rows = to_send.select(*cols)

            def deliver(pdfs):
                batch: list[dict] = []
                ids: list[str] = []
                nbytes = 0
                halted_keys: set = set()  # ordering keys past their first failure
                oks: list[bool] = []
                out_ids: list[str] = []

                def flush() -> None:
                    nonlocal nbytes
                    if not batch:
                        return
                    try:
                        transport(topic, list(batch))
                        ok = True
                    except Exception:  # noqa: BLE001 — halt the request's keys
                        ok = False
                        halted_keys.update(m.get("ordering_key") for m in batch)
                    out_ids.extend(ids)
                    oks.extend([ok] * len(batch))
                    batch.clear()
                    ids.clear()
                    nbytes = 0

                for pdf in pdfs:
                    for row in pdf.itertuples(index=False):
                        msg = {"data": row.data}
                        attrs = json.loads(row.attrs_json) if row.attrs_json else None
                        if attrs:
                            msg["attributes"] = attrs
                        if has_ordering:
                            msg["ordering_key"] = row.okey
                        sz = len(json.dumps(msg))
                        if batch and (
                            len(batch) >= max_msgs or nbytes + sz > max_bytes
                        ):
                            flush()
                        # halted check strictly AFTER any flush of earlier
                        # messages: a failure is only discovered at flush
                        # time, and publishing past a key's fresh gap is
                        # exactly the ordering bug this prevents (the
                        # Pub/Sub client contract: a failure halts ITS
                        # ordering key until resume)
                        if has_ordering and row.okey in halted_keys:
                            out_ids.append(row.msg_id)
                            oks.append(False)
                            continue
                        batch.append(msg)
                        ids.append(row.msg_id)
                        nbytes += sz
                flush()
                yield pd.DataFrame({"msg_id": out_ids, "ok": oks})

            attempted = to_send_rows.mapInPandas(deliver, "msg_id string, ok boolean")
            # the ledger append IS the action that drives delivery; only
            # successes are recorded (crash between publish and append ⇒
            # at-least-once, never a lost skip)
            (
                attempted.filter(F.col("ok"))
                .select(
                    F.col("msg_id").alias("message_id"),
                    F.lit(batch_id).cast("long").alias("batch_id"),
                    F.current_timestamp().alias("published_at"),
                )
                .write.mode("append")
                .partitionBy("batch_id")
                .parquet(ledger_path)
            )
            done = self._read_ledger(spark, batch_id, ledger_path)
            n_done = done.count() if done is not None else 0
            published = n_done - n_skipped
            return {
                "published": published,
                "failed": n_to_send - published,
                "skipped": n_skipped,
            }
        finally:
            # every exit path — loud validation raise, delivery or
            # ledger-write failure, or clean return — drops the batch
            # cache; a leak here strands one cached micro-batch per
            # failed retry attempt in executor storage
            ev.unpersist()

    @staticmethod
    def _read_ledger(spark, batch_id: int, ledger_path: str):
        """Distinct ledgered message ids for ``batch_id``; None when the
        ledger doesn't exist yet. batch_id partitioning makes the
        filter a directory prune, not a full-ledger scan."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        try:
            ledger = spark.read.parquet(ledger_path)
        except AnalysisException as exc:
            # ONLY "ledger not created yet" means no dedup set. Any
            # other read failure (permissions, corrupt footer, transient
            # FS error) must propagate — swallowing it would silently
            # disable dedup and republish the whole batch.
            cond = getattr(exc, "getCondition", None) or getattr(
                exc, "getErrorClass", None
            )
            cls = cond() if cond is not None else None
            if cls == "PATH_NOT_FOUND" or "Path does not exist" in str(exc):
                return None
            raise
        return (
            ledger.filter(F.col("batch_id") == batch_id)
            .select(F.col("message_id").alias("_msg_id"))
            .distinct()
        )
