"""Pub/Sub sink (sinks/pubsub.py): batching caps, ordering keys,
per-key fail-stop, and the drain of the lake's Pub/Sub outbox.

The reference README advertises Pub/Sub publishing (README:66,85-87,
192) with zero implementing code; these tests pin the real surface we
ship instead, through the spool-directory emulator transport (the
executor-side Python workers are separate processes, so an in-memory
broker cannot observe their publishes). The caps and failure
accounting are properties of the delivery kernel (``deliver``) and are
checked on it directly; ordering, fail-stop across restarts and the
ledger are checked through ``drain_outbox`` over a real lake."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from fintech_etl_spark.sinks.pubsub import (
    FilePubSubEmulator,
    PubSubSink,
    _default_transport,
)


def _doc(key: str, receipt: str, **extra) -> str:
    return json.dumps({"receiptId": receipt, "source_file": key, **extra})


def _stage(spark, lake, docs, tag="b0"):
    """Commit one batch to ``lake`` whose Pub/Sub outbox holds
    ``docs`` — ``(document_id, payload)`` pairs, or a frame of them.
    Returns the outbox segment's ledger batch id."""
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import write_receipts_parquet
    from fintech_etl_spark.sinks.receipts import outbox_batch_id

    frame = docs if not isinstance(docs, list) else spark.createDataFrame(
        docs, "document_id string, payload string"
    )
    before = set(mf.dataset_segments(lake, PubSubSink.OUTBOX)) if (
        mf.is_transactional(lake)
    ) else set()
    write_receipts_parquet(
        spark.createDataFrame([(tag, dt.date(2024, 1, 1))],
                              "receipt_id string, transaction_date date"),
        lake,
        batch_key=tag,
        outbox={PubSubSink.OUTBOX: lambda _receipts: frame},
    )
    (seg,) = set(mf.dataset_segments(lake, PubSubSink.OUTBOX)) - before
    return outbox_batch_id(os.path.relpath(seg, lake))


def _published(spool, topic="t"):
    return [
        m["attributes"]["document_id"]
        for r in FilePubSubEmulator(spool).read_requests(topic)
        for m in r
    ]


def test_publish_respects_message_cap(tmp_path):
    """2500 messages through one partition: every publish request holds
    ≤ 1000 messages (the Pub/Sub per-request cap) and all arrive."""
    broker = FilePubSubEmulator(str(tmp_path))
    sink = PubSubSink("receipt-processing", transport=broker)
    oks = list(sink.deliver((f"d{i}", _doc("k", f"r{i:04d}")) for i in range(2500)))
    assert oks == [True] * 2500
    reqs = broker.read_requests("receipt-processing")
    assert [len(r) for r in reqs] == [1000, 1000, 500]
    got = {m["attributes"]["document_id"] for r in reqs for m in r}
    assert len(got) == 2500


def test_publish_respects_byte_cap(tmp_path):
    """With a small byte budget, requests flush before exceeding it
    (single oversize messages still go out alone — the cap bounds the
    REQUEST, batching never drops data)."""
    broker = FilePubSubEmulator(str(tmp_path))
    sink = PubSubSink("t", transport=broker, max_batch_bytes=600)
    docs = [(f"d{i}", _doc("k", f"r{i}", pad="x" * 100)) for i in range(10)]
    docs.append(("big", _doc("k", "r99", pad="x" * 700)))
    assert list(sink.deliver(docs)) == [True] * 11
    reqs = broker.read_requests("t")
    assert sum(len(r) for r in reqs) == 11
    for r in reqs:
        assert len(r) == 1 or sum(len(json.dumps(m)) for m in r) <= 600
    assert reqs[-1] == [m for m in reqs[-1] if m["attributes"]["document_id"] == "big"]
    assert len(reqs) >= 4


def test_ordering_key_messages_stay_in_order(spark, tmp_path):
    """Messages sharing an ordering key must reach the broker in
    receiptId order even when the outbox was staged shuffled and
    multi-partition: the drain repartitions BY KEY and sorts within
    partitions, so each key flows through one partition
    sequentially."""
    import random

    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")
    rows = [
        (f"d{k}-{seq}", _doc(f"file{k}", f"r{seq:03d}", seq=seq))
        for k in range(4) for seq in range(40)
    ]
    random.Random(13).shuffle(rows)
    _stage(spark, lake, spark.createDataFrame(
        rows, "document_id string, payload string"
    ).repartition(8))
    from fintech_etl_spark.sinks.receipts import drain_outbox

    d = drain_outbox(spark, lake, PubSubSink("t", transport=FilePubSubEmulator(spool)))
    assert d["sent"] == 160 and d["failed"] == 0
    seen: dict[str, list[int]] = {}
    for req in FilePubSubEmulator(spool).read_requests("t"):
        for m in req:
            assert m["ordering_key"] == m["attributes"]["source_file"]
            seen.setdefault(m["ordering_key"], []).append(
                json.loads(m["data"])["seq"]
            )
    assert set(seen) == {f"file{k}" for k in range(4)}
    for key, seqs in seen.items():
        assert seqs == list(range(40)), f"{key} out of order: {seqs[:10]}"


def test_failed_request_isolated_and_counted(tmp_path):
    """A transport failure marks that REQUEST's messages failed and
    the partition keeps publishing the other keys — counted, never
    raised."""
    broker = FilePubSubEmulator(str(tmp_path))

    def flaky(topic, messages):
        if any(json.loads(m["data"]).get("poison") for m in messages):
            raise RuntimeError("broker unavailable")
        return broker(topic, messages)

    sink = PubSubSink("t", transport=flaky, max_batch_messages=2)
    docs = [(str(i), _doc(f"k{i}", f"r{i}", poison=i == 2)) for i in range(6)]
    assert list(sink.deliver(docs)) == [True, True, False, False, True, True]
    delivered = {
        m["attributes"]["document_id"]
        for r in broker.read_requests("t") for m in r
    }
    assert delivered == {"0", "1", "4", "5"}  # the (2,3) request failed


def test_default_transport_loud_without_client():
    """Without google-cloud-pubsub installed (this container) the
    default transport raises a NotImplementedError naming the fix —
    never silently drops events."""
    with pytest.raises(NotImplementedError, match="google-cloud-pubsub"):
        _default_transport("t", [{"data": "{}"}])


def test_receipts_to_pubsub_events_shape(spark, tmp_path):
    """A receipt committed with a Pub/Sub outbox is published with the
    webhook wire document as the event data, keyed for ordering by
    source_file, and carrying the document_id idempotency attribute."""
    from fintech_etl_spark.operators.receipts import to_webhook_payloads
    from fintech_etl_spark.sinks import write_receipts_parquet
    from fintech_etl_spark.sinks.receipts import drain_outbox

    receipts = spark.createDataFrame(
        [
            (
                "R-1", "ACME", dt.date(2024, 3, 1), 12.5, 1.0, 11.5, 2,
                [{"description": "beer", "quantity": 4.0}],
                "gs://b/inbox/a.csv", "doc-aaa",
            )
        ],
        "receipt_id string, vendor string, transaction_date date, "
        "total_amount double, sales_tax double, subtotal double, "
        "item_count int, line_items array<struct<description:string,"
        "quantity:double>>, source_file string, document_id string",
    )
    lake = str(tmp_path / "lake")
    write_receipts_parquet(
        receipts, lake, file_key_col="source_file",
        outbox={PubSubSink.OUTBOX: to_webhook_payloads},
    )
    broker = FilePubSubEmulator(str(tmp_path / "spool"))
    d = drain_outbox(spark, lake, PubSubSink("receipt-processing", transport=broker))
    assert d["sent"] == 1
    [[ev]] = broker.read_requests("receipt-processing")
    assert ev["ordering_key"] == "gs://b/inbox/a.csv"
    assert ev["attributes"] == {
        "document_id": "doc-aaa", "source_file": "gs://b/inbox/a.csv",
    }
    doc = json.loads(ev["data"])
    assert doc["receiptId"] == "R-1"
    assert doc["transactionDate"] == "2024-03-01"
    assert doc["itemCount"] == 2
    assert doc["lineItems"][0]["description"] == "beer"


def test_publish_with_ledger_failstop_and_restart(spark, tmp_path):
    """The ledger-gated publish (the Pub/Sub outbox drain): a
    mid-partition request failure (1) FAIL-STOPS the key — no later
    request of it is attempted past the gap, keeping the key's
    published prefix gap-free — and (2) a RETRY by a brand-new sink
    instance (driver restart: nothing shared but the lake) skips the
    ledgered prefix and resumes the key in order. The topic sees every
    message exactly once, in order."""
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import drain_outbox

    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")
    marker = str(tmp_path / "outage_done")

    def flaky(topic, messages, _spool=spool, _marker=marker):
        if any(
            m["attributes"]["document_id"] == "d3" for m in messages
        ) and not os.path.exists(_marker):
            open(_marker, "w").close()
            raise ConnectionError("broker down")
        return FilePubSubEmulator(_spool)(topic, messages)

    docs = [(f"d{i}", _doc("k", f"r{i}")) for i in range(1, 7)]
    _stage(spark, lake, docs)

    def mk():
        return PubSubSink("t", transport=flaky, max_batch_messages=2)

    first = drain_outbox(spark, lake, mk())
    # requests of 2: [d1,d2] ok, [d3,d4] fails → fail-stop: [d5,d6]
    # never attempted (failed, not published past the gap)
    assert (first["sent"], first["failed"], first["skipped"]) == (2, 4, 0)
    assert _published(spool) == ["d1", "d2"]
    assert len(mf.dataset_segments(lake, PubSubSink.OUTBOX)) == 1

    retry = drain_outbox(spark, lake, mk())
    assert (retry["sent"], retry["failed"], retry["skipped"]) == (4, 0, 2)
    # exactly once each, and key "k"'s stream is in order end-to-end
    assert _published(spool) == ["d1", "d2", "d3", "d4", "d5", "d6"]
    assert all(
        m["ordering_key"] == "k"
        for r in FilePubSubEmulator(spool).read_requests("t") for m in r
    )
    assert mf.dataset_segments(lake, PubSubSink.OUTBOX) == []

    # a different batch is not deduped by the first batch's ledger rows
    _stage(spark, lake, docs, tag="b1")
    third = drain_outbox(spark, lake, mk())
    assert (third["sent"], third["failed"], third["skipped"]) == (6, 0, 0)


def test_publish_with_ledger_multikey_partition_isolation(spark, tmp_path):
    """Ordering keys hash to their own partitions: a fail-stop in one
    key does not halt other keys (delivery isolation), and each key's
    own order still holds."""
    from fintech_etl_spark.sinks.receipts import drain_outbox

    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")
    marker = str(tmp_path / "outage_done")

    def flaky(topic, messages, _spool=spool, _marker=marker):
        if any(
            m["attributes"]["document_id"] == "a2" for m in messages
        ) and not os.path.exists(_marker):
            open(_marker, "w").close()
            raise ConnectionError("broker down")
        return FilePubSubEmulator(_spool)(topic, messages)

    rows = [(f"a{i}", _doc("ka", f"r{i}")) for i in range(1, 4)]
    rows += [(f"b{i}", _doc("kb", f"r{i}")) for i in range(1, 4)]
    _stage(spark, lake, spark.createDataFrame(
        rows, "document_id string, payload string"
    ).repartition(4))  # scrambled input layout

    def mk():
        return PubSubSink("t", transport=flaky, max_batch_messages=1)

    first = drain_outbox(spark, lake, mk())
    # ka: a1 ok, a2 fails, a3 fail-stopped; kb unaffected (3 published)
    assert (first["sent"], first["failed"], first["skipped"]) == (4, 2, 0)

    retry = drain_outbox(spark, lake, mk())
    assert (retry["sent"], retry["failed"], retry["skipped"]) == (2, 0, 4)
    seen = _published(spool)
    assert sorted(seen) == ["a1", "a2", "a3", "b1", "b2", "b3"]
    # per-key subsequences are in order even with interleaving
    assert [d for d in seen if d.startswith("a")] == ["a1", "a2", "a3"]
    assert [d for d in seen if d.startswith("b")] == ["b1", "b2", "b3"]


def test_publish_with_ledger_requires_attributes(spark, tmp_path):
    """The ledger records each message's ``document_id`` attribute, so
    a Pub/Sub outbox projection without a ``document_id`` column is
    refused before anything is staged."""
    from fintech_etl_spark.sinks import write_receipts_parquet

    receipts = spark.createDataFrame(
        [("R1", dt.date(2024, 1, 1))], "receipt_id string, transaction_date date"
    )
    with pytest.raises(ValueError, match="pubsub_outbox"):
        write_receipts_parquet(
            receipts, str(tmp_path / "lake"), batch_key="b",
            outbox={PubSubSink.OUTBOX: lambda r: r.selectExpr("receipt_id AS payload")},
        )
    assert not os.path.exists(tmp_path / "lake")


def test_publish_with_ledger_rejects_null_msg_id(spark, tmp_path):
    """A NULL idempotency id never equi-joins against the ledger (SQL
    null semantics) → would republish forever. The drain fails loudly
    before publishing it, and the batch stays pending."""
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import drain_outbox

    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")
    _stage(spark, lake, [("d1", _doc("k", "r1")), (None, _doc("k", "r2"))])
    with pytest.raises(Exception, match="NULL document_id"):
        drain_outbox(spark, lake, PubSubSink("t", transport=FilePubSubEmulator(spool)))
    assert _published(spool) == []  # nothing went out
    assert len(mf.dataset_segments(lake, PubSubSink.OUTBOX)) == 1


def test_publish_with_ledger_rejects_duplicate_msg_id(spark, tmp_path):
    """Two messages sharing a document_id: one success would mark BOTH
    copies delivered — silent loss on retry. The drain refuses the
    batch before publishing, and the batch stays pending."""
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import drain_outbox

    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")
    _stage(spark, lake, [("dup", _doc("k", "r1")), ("dup", _doc("k", "r2"))])
    with pytest.raises(Exception, match="not unique"):
        drain_outbox(spark, lake, PubSubSink("t", transport=FilePubSubEmulator(spool)))
    assert _published(spool) == []
    assert len(mf.dataset_segments(lake, PubSubSink.OUTBOX)) == 1


def test_read_ledger_propagates_non_missing_errors(spark, tmp_path):
    """Only a missing ledger directory means 'no ledger yet'. A corrupt
    parquet file in an EXISTING ledger must fail the drain, not
    silently disable dedup and republish the whole batch."""
    import shutil

    from fintech_etl_spark.sinks.receipts import drain_outbox

    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")
    b = _stage(spark, lake, [("d1", _doc("k", "r1"))])
    part = os.path.join(lake, PubSubSink.LEDGER, f"batch_id={b}")
    os.makedirs(part)
    with open(os.path.join(part, "part-0.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    sink = PubSubSink("t", transport=FilePubSubEmulator(spool))
    with pytest.raises(Exception) as err:
        drain_outbox(spark, lake, sink)
    assert "Path does not exist" not in str(err.value)
    assert _published(spool) == []
    # a missing ledger still means "fresh ledger", not an error
    shutil.rmtree(os.path.join(lake, PubSubSink.LEDGER))
    out = drain_outbox(spark, lake, sink)
    assert (out["sent"], out["failed"], out["skipped"]) == (1, 0, 0)
