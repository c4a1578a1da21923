"""Pub/Sub sink: receipt events published from the lake's outbox.

The reference advertises Pub/Sub publishing — README:66 ("Publishes
events to Pub/Sub"), README:85-87 (topic ``receipt-processing``),
README:192 ("Processing → Pub/Sub: publishes events for downstream
systems") — but ships NO implementing code (zero Pub/Sub references
anywhere in its source). Here it is a second transport behind the one
delivery protocol the webhook uses: a commit stages the receipts' wire
documents in the lake's ``pubsub_outbox`` dataset, in the same pointer
swap as the receipts, and ``sinks.receipts.drain_outbox`` publishes
them and records each success in ``<lake>/_pubsub_ledger``. This
module supplies what is Pub/Sub's own:

- the arrangement: rows are hash-partitioned on the ordering key (the
  document's ``source_file``) and sorted by ``receiptId`` within it,
  so each key's messages flow through one partition in order — the
  contract Cloud Pub/Sub ordering keys need from a publisher;
- the delivery kernel: request batching under BOTH publish-request
  caps (1000 messages / 10 MB), flushed on either limit, and
  FAIL-STOP PER KEY: a failed request halts every key it carried, and
  the rest of those keys' messages are marked failed instead of
  published past the gap. The published prefix of every key is
  gap-free, so the next drain resumes each key where it stopped.

Transport is injectable, mirroring the webhook sink's ``poster``: the
default resolves the real ``google-cloud-pubsub`` client and raises a
LOUD ``NotImplementedError`` when it isn't installed (this container);
``FilePubSubEmulator`` is a spool-directory transport that works
across executor processes for tests and local development.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from typing import ClassVar

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
    """Publish the lake's receipt documents to a Pub/Sub topic.

    Delivery is ``sinks.receipts.drain_outbox(spark, lake, sink)``
    over the payloads staged in the lake's ``OUTBOX`` dataset; the
    successes are recorded in ``<lake>/<LEDGER>``. Each message's data
    is the webhook wire document, its ordering key and ``source_file``
    attribute the document's ``source_file``, and its ``document_id``
    attribute the receiver-side idempotency key."""

    #: the lake's manifest dataset holding this sink's pending payloads
    OUTBOX: ClassVar[str] = "pubsub_outbox"
    #: the delivery ledger's directory under the lake root
    LEDGER: ClassVar[str] = "_pubsub_ledger"

    topic: str
    transport: Transport | None = None
    max_batch_messages: int = _MAX_BATCH_MESSAGES
    max_batch_bytes: int = _MAX_BATCH_BYTES

    def arrange(self, docs: DataFrame) -> DataFrame:
        """Route every ordering key through one partition, in
        ``receiptId`` order within the key."""
        from pyspark.sql import functions as F

        key = F.get_json_object("payload", "$.source_file")
        return docs.repartition(key).sortWithinPartitions(
            key, F.get_json_object("payload", "$.receiptId")
        )

    def deliver(self, docs: Iterable[tuple[str, str]]) -> Iterator[bool]:
        """The per-partition delivery kernel: publish each
        ``(document_id, payload)`` in order, batched into requests of at
        most ``max_batch_messages`` messages and ``max_batch_bytes``
        bytes, and yield, in input order, whether it was published.

        A failed request fails its messages and halts every ordering
        key it carried: later messages of a halted key are yielded as
        failed without a request. Other keys keep publishing."""
        topic = self.topic
        transport = self.transport or _default_transport
        max_msgs, max_bytes = self.max_batch_messages, self.max_batch_bytes
        queue: list[dict | None] = []  # outcomes owed, in input order
        halted: set = set()
        n_msgs = nbytes = 0

        def flush() -> list[bool]:
            msgs = [m for m in queue if m is not None]
            ok = True
            if msgs:
                try:
                    transport(topic, msgs)
                except Exception:  # noqa: BLE001 — halt the request's keys
                    ok = False
                    halted.update(m["ordering_key"] for m in msgs)
            out = [m is not None and ok for m in queue]
            queue.clear()
            return out

        for doc_id, payload in docs:
            key = json.loads(payload).get("source_file")
            msg = {
                "data": payload,
                "attributes": {"document_id": doc_id, "source_file": key},
                "ordering_key": key,
            }
            sz = len(json.dumps(msg))
            if n_msgs and (n_msgs >= max_msgs or nbytes + sz > max_bytes):
                yield from flush()
                n_msgs = nbytes = 0
            # checked strictly AFTER flushing the earlier messages: a
            # failure is only discovered at flush time, and publishing
            # past a key's fresh gap is the ordering bug this prevents
            if key in halted:
                queue.append(None)
                continue
            queue.append(msg)
            n_msgs += 1
            nbytes += sz
        yield from flush()
