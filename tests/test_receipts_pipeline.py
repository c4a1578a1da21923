"""Golden end-to-end test: vendor-invoice CSV → receipt documents →
webhook payloads (SURVEY §5.2(2),(4)). Pins every N1/N2 edge the survey
calls out: beer pack {4,6,12,24} explosion, wine×units, bottle
short-circuit, packs 0→1, UPC priority+zfill, unparseable date→run
date, null invoice-key drop, notes assembly, total≠subtotal asymmetry.
Emission order is not part of the contract: the golden query sorts by
key itself, as any consumer that needs key order must."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import functions as F

from fintech_etl_spark.operators.receipts import build_receipts, to_webhook_payloads
from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

RUN_DATE = dt.date(2024, 6, 1)

HEADER = (
    "Invoice Number,Vendor Name,Invoice Date,Invoice Amount,"
    "Quantity,Packs Per Case,Units Per Pack,Unit Of Measure,GL Code,Product Class,"
    "Product Description,Extended Price,Discount Adjustment Total,"
    "DepositAdjustmentTotal,Miscellaneous Adjustment Total,Tax Adjustment Total,"
    "Delivery Adjustment Total,Pack UPC,Clean UPC,Case UPC"
)
_NAMES = HEADER.split(",")

ROWS = [
    # INV2 first in file; the golden query sorts by key itself
    'INV2,Acme Beer Co,06/15/2024,500.00,2,6,4,CA,BEER-4000,ALE,Sixpack,120.00,-5.5,0,0,3.25,0,123,456,789',
    # beer with non-special pack (5): qty*packs only
    'INV2,Acme Beer Co,06/15/2024,500.00,3,5,4,CA,BEER-4000,ALE,Oddpack,80.00,0,0,0,3.25,0,,,42',
    # bottle short-circuit: beer sold by bottle NOT exploded
    'INV2,Acme Beer Co,06/15/2024,500.00,7,6,4,BO,BEER-4000,ALE,Bottle,30.00,0,2.5,0,3.25,0,,,',
    # INV1: wine explodes by packs*units; garbage amount; bad date
    'INV1,,13/45/2024,not-a-number,2,3,6,CA,WINE-55,RED,Pinot,200.00,0,0,1.5,0,4.0,,987654321098765,111',
    # packs=0 -> 1; spirits qty*packs
    'INV1,,13/45/2024,not-a-number,4,0,9,EA,SPIRITS,RUM,Rum,60.00,0,0,0,0,0,,,',
    # null invoice key: dropped like pandas groupby
    ',Ghost Vendor,01/01/2024,9.99,1,1,1,EA,BEER,X,Ghost,9.99,0,0,0,0,0,,,',
]


def _write_fixture(tmp_path):
    p = tmp_path / "fixture.csv"
    p.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    return str(p)


def test_receipts_golden(spark, tmp_path):
    path = _write_fixture(tmp_path)
    df = read_invoice_csv(spark, path)
    receipts = build_receipts(
        df,
        gcs_bucket="landing",
        gcs_path="intake/x.csv",
        gmail_id="g42",
        run_date=RUN_DATE,
        run_ts=1700000000,
    ).orderBy("receipt_id").collect()

    assert [r.receipt_id for r in receipts] == ["INV1", "INV2"]

    inv1, inv2 = receipts
    # header extraction + defaults
    assert inv1.vendor == "Unknown Vendor"  # empty Vendor Name → default
    assert inv2.vendor == "Acme Beer Co"
    assert inv1.transaction_date == RUN_DATE  # 13/45/2024 unparseable
    assert inv2.transaction_date == dt.date(2024, 6, 15)
    # total (header field) ≠ subtotal (computed Σ Extended Price)
    assert inv1.total_amount == 0.0  # 'not-a-number' degrades
    assert inv2.total_amount == 500.0
    assert round(inv1.subtotal, 2) == 260.0
    assert round(inv2.subtotal, 2) == 230.0
    assert inv1.item_count == 2 and inv2.item_count == 3
    # xxhash64 of the source file in 16 hex digits: stable across runs
    assert inv1.document_id == "fnt-g42-INV1-075fc8c761ef4d6d"
    assert inv1.source_file == "gs://landing/intake/x.csv"

    # line items preserve file order within the invoice
    li2 = inv2.line_items
    assert [i.name for i in li2] == ["Sixpack", "Oddpack", "Bottle"]
    # beer special pack 6: 2*6*4 = 48
    assert li2[0].qty == 48
    # beer non-special pack 5: 3*5 = 15
    assert li2[1].qty == 15
    # bottle short-circuit: int(7), NOT exploded
    assert li2[2].qty == 7
    assert li2[2].unitOfMeasure == "bottle"
    # UPC priority pack→clean→case, zfilled to 14
    assert li2[0].upc == "123".zfill(14)
    assert li2[1].upc == "42".zfill(14)
    assert li2[1].sku == "42".zfill(14)
    assert li2[2].upc is None
    # notes: only nonzero adjustments, '; '-joined, tax excluded
    assert li2[0].notes == "Discount: -5.5"
    assert li2[2].notes == "Deposit: 2.5"
    assert li2[1].notes is None

    li1 = inv1.line_items
    # wine: 2*3*6 = 36 ; spirits with packs 0→1: 4*1 = 4
    assert li1[0].qty == 36
    assert li1[1].qty == 4
    # 15-char clean UPC left-truncated to 14
    assert li1[0].upc == "98765432109876"
    assert li1[0].category == "WINE"
    assert li1[1].category == "SPIRITS"


def test_line_item_struct_is_built_once_per_gateway(spark, monkeypatch):
    """The parameter-free line-item tree is built once per JVM gateway:
    the same Column on every call, a new one for a new gateway."""
    from pyspark import SparkContext

    from fintech_etl_spark.operators.receipts import line_item_struct

    first = line_item_struct()
    assert line_item_struct() is first
    monkeypatch.setattr(SparkContext, "_gateway", object())
    rebuilt = line_item_struct()
    assert rebuilt is not first
    assert line_item_struct() is rebuilt


def test_webhook_payloads(spark, tmp_path):
    path = _write_fixture(tmp_path)
    receipts = build_receipts(
        read_invoice_csv(spark, path),
        gcs_bucket="landing",
        gcs_path="intake/x.csv",
        gmail_id="g42",
        run_date=RUN_DATE,
        run_ts=1700000000,
    )
    payloads = {r.document_id: json.loads(r.payload) for r in to_webhook_payloads(receipts).collect()}
    doc = payloads["fnt-g42-INV2-075fc8c761ef4d6d"]
    # wire projection renames (code wins over README: transactionDate)
    assert doc["receiptId"] == "INV2"
    assert doc["transactionDate"] == "2024-06-15"
    assert doc["totalAmount"] == 500.0
    assert doc["itemCount"] == 3
    assert [i["name"] for i in doc["lineItems"]] == ["Sixpack", "Oddpack", "Bottle"]
    assert "date" not in doc


def test_permissive_csv_garbage_rows(spark, tmp_path):
    """PERMISSIVE scan + null-tolerant rules: malformed lines degrade
    per-cell (defaults) instead of failing the file — the reference's
    row.get(default) contract at scan level."""
    p = tmp_path / "garbage.csv"
    p.write_text(
        HEADER + "\n"
        + ROWS[0] + "\n"
        + "INVX,only,three\n"                      # short row
        + ",,,,,,,,,,,,,,,,,,,\n"                  # all-empty row (null key → dropped)
        + 'INVX,V,06/01/2024,xx,zz,aa,bb,??,GLB,PC,Desc,not-a-price,0,0,0,0,0,,,\n'
    )
    from fintech_etl_spark.operators.receipts import build_receipts
    from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

    receipts = {r.receipt_id: r for r in build_receipts(
        read_invoice_csv(spark, str(p)), run_date=RUN_DATE
    ).collect()}
    assert set(receipts) == {"INV2", "INVX"}
    invx = receipts["INVX"]
    assert invx.item_count == 2           # short row + garbage row both kept
    assert invx.total_amount == 0.0       # 'xx' degrades to default
    assert invx.subtotal == 0.0           # 'not-a-price' degrades
    qtys = [i.qty for i in invx.line_items]
    assert qtys == [0, 0]                 # garbage quantities → 0


# ---------------------------------------------------------------------------
# transactional receipt lake — the manifest layer's third client
# ---------------------------------------------------------------------------


def _golden_receipts(spark, tmp_path):
    return build_receipts(
        read_invoice_csv(spark, _write_fixture(tmp_path)), run_date=RUN_DATE
    )


def test_receipt_lake_exactly_once_per_batch_key(spark, tmp_path):
    """A replayed batch (same batch_key — the foreachBatch checkpoint-
    loss scenario) publishes nothing: count and manifest version are
    unchanged. A NEW key appends."""
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    receipts = _golden_receipts(spark, tmp_path)
    lake = str(tmp_path / "lake")
    write_receipts_parquet(receipts, lake, transactional=True, batch_key="b0")
    assert mf.is_transactional(lake)
    n = read_receipts(spark, lake).count()
    v = mf.current(lake)["version"]
    write_receipts_parquet(receipts, lake, batch_key="b0")  # replay
    assert read_receipts(spark, lake).count() == n
    assert mf.current(lake)["version"] == v
    write_receipts_parquet(receipts, lake, batch_key="b1")  # new batch
    assert read_receipts(spark, lake).count() == 2 * n
    assert mf.current(lake)["version"] == v + 1


def test_receipt_lake_overwrite_is_replace_commit(spark, tmp_path):
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    receipts = _golden_receipts(spark, tmp_path)
    lake = str(tmp_path / "lake")
    for key in ("b0", "b1", "b2"):
        write_receipts_parquet(
            receipts, lake, transactional=True, batch_key=key
        )
    n = read_receipts(spark, lake).count()
    write_receipts_parquet(receipts, lake, mode="overwrite")
    assert len(mf.dataset_segments(lake, "receipts")) == 1
    assert read_receipts(spark, lake).count() == n // 3


def test_receipt_lake_readers_never_see_partial_batches(spark, tmp_path):
    """THE window this client closes: a reader racing the writer sees
    only committed snapshots — every observed count is an exact
    multiple of the batch size, never a partially-listed batch (the
    plain directory append can expose one part file of a
    month-partitioned batch mid-write)."""
    import threading

    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    receipts = _golden_receipts(spark, tmp_path)
    batch_n = receipts.count()
    assert batch_n > 0
    lake = str(tmp_path / "lake")
    write_receipts_parquet(receipts, lake, transactional=True, batch_key="b0")

    done = threading.Event()
    bad: list[int] = []

    def writer():
        try:
            for i in range(1, 7):
                write_receipts_parquet(receipts, lake, batch_key=f"b{i}")
        finally:
            done.set()

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    observed = set()
    while not done.is_set():
        c = read_receipts(spark, lake).count()
        observed.add(c)
        if c % batch_n != 0:
            bad.append(c)
            break
    t.join(timeout=120)
    assert not bad, f"partial batch visible: {bad} (batch size {batch_n})"
    assert read_receipts(spark, lake).count() == 7 * batch_n
    assert len(observed) >= 1


def test_cli_transactional_lake_exactly_once(spark, tmp_path, capsys, monkeypatch):
    """`process-csv` twice on the SAME csv: the second run's source
    file is already in the ingested history, so nothing publishes
    (exactly-once per source file); a different csv appends. A first
    commit over an existing plain parquet directory is refused, and
    reading one (or a missing path) is loud, not a raw scan."""
    from fintech_etl_spark import cli
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    csv = _write_fixture(tmp_path)
    lake = str(tmp_path / "lake")
    assert cli.main(["process-csv", csv, "--lake", lake]) == 0
    assert mf.is_transactional(lake)
    n = read_receipts(spark, lake).count()
    v = mf.current(lake)["version"]
    # same file again: its key is already ingested, nothing publishes
    assert cli.main(["process-csv", csv, "--lake", lake]) == 0
    assert read_receipts(spark, lake).count() == n
    assert mf.current(lake)["version"] == v
    # a different file appends
    other = tmp_path / "other.csv"
    other.write_text(HEADER + "\n" + ROWS[0] + "\n")
    assert cli.main(["process-csv", str(other), "--lake", lake]) == 0
    assert read_receipts(spark, lake).count() > n
    assert mf.current(lake)["version"] == v + 1

    # migration guard: a first commit onto an existing plain lake is loud
    plain = str(tmp_path / "plain_lake")
    receipts = _golden_receipts(spark, tmp_path)
    receipts.write.parquet(plain)
    with pytest.raises(ValueError, match="PLAIN parquet lake"):
        write_receipts_parquet(receipts, plain)
    # no read falls through to a raw scan of the directory
    with pytest.raises(ValueError, match="not a receipt lake"):
        read_receipts(spark, plain)
    with pytest.raises(ValueError, match="not a receipt lake"):
        read_receipts(spark, str(tmp_path / "no_such_lake"))


def test_receipt_lake_month_range_manifest_pruning(spark, tmp_path):
    """months= excludes whole segments from the committed month stats
    (one pointer read, zero listings) and the pruned result equals the
    unpruned filter's exactly; a stats-less segment is always kept."""
    import datetime as dt2

    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    lake = str(tmp_path / "lake")
    base = _golden_receipts(spark, tmp_path)  # months 2024-06 only
    write_receipts_parquet(base, lake, transactional=True, batch_key="b0")
    shifted = base.withColumn(
        "transaction_date", F.add_months(F.col("transaction_date"), 6)
    )
    write_receipts_parquet(shifted, lake, batch_key="b1")  # 2024-12

    pairs = mf.dataset_segments_with_stats(lake, "receipts")
    assert len(pairs) == 2 and all(
        st and "transaction_month" in st for _, st in pairs
    )
    # range covering only the shifted batch: one segment admitted
    pruned = read_receipts(spark, lake, months=("2024-10", "2024-12"))
    unpruned = read_receipts(spark, lake).filter(
        F.col("transaction_month").between("2024-10", "2024-12")
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, unpruned.collect())
    )
    assert pruned.count() == base.count()
    # range hitting nothing: schema-only, zero rows, no error
    assert read_receipts(spark, lake, months=("1990-01", "1990-02")).count() == 0
    # a foreign segment without stats is must-scan, never may-skip
    seg = mf.new_segment_path(lake)
    base.withColumn(
        "transaction_month", F.date_format("transaction_date", "yyyy-MM")
    ).write.parquet(seg)
    mf.commit(lake, add={"receipts": [seg]})
    with_foreign = read_receipts(spark, lake, months=("2024-10", "2024-12"))
    # the stats-less segment is scanned (its rows are 2024-06 → filtered
    # out), and the committed-range rows still all arrive
    assert with_foreign.count() == base.count()


def test_receipt_lake_compaction_time_travel_vacuum(
    spark, tmp_path, capsys, monkeypatch
):
    """The full table-format story for the lake: compaction folds the
    fragments into one segment WITH month stats re-committed (ranged
    pruning survives), time travel reads the pre-compact snapshot,
    and vacuum bounds the window — all through the CLI where it has
    one."""
    from fintech_etl_spark import cli
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    lake = str(tmp_path / "lake")
    base = _golden_receipts(spark, tmp_path)
    shifted = base.withColumn(
        "transaction_date", F.add_months(F.col("transaction_date"), 6)
    )
    write_receipts_parquet(base, lake, transactional=True, batch_key="b0")
    write_receipts_parquet(shifted, lake, batch_key="b1")
    write_receipts_parquet(base, lake, batch_key="b2")
    total = read_receipts(spark, lake).count()
    v_pre = mf.current(lake)["version"]
    assert len(mf.dataset_segments(lake, "receipts")) == 3

    # a plain (non-manifest) lake is loud, not a FileNotFoundError
    plain = str(tmp_path / "plain_for_compact")
    base.write.parquet(plain)
    assert cli.main(["lake-compact", "--path", plain]) == 2
    capsys.readouterr()

    # cron mode: below the fragmentation threshold it is a no-op
    rc = cli.main(
        ["lake-compact", "--path", lake, "--when-segments-above", "10"]
    )
    assert rc == 0
    noop = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert noop["compacted"] is False and noop["segments"] == 3
    assert len(mf.dataset_segments(lake, "receipts")) == 3
    # above it (3 > 2) the same invocation compacts
    rc = cli.main(
        ["lake-compact", "--path", lake, "--when-segments-above", "2"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_after"] <= out["files_before"]
    assert out["rows"] == total
    segs = mf.dataset_segments_with_stats(lake, "receipts")
    assert len(segs) == 1
    _, st = segs[0]
    assert st["transaction_month"] == ["2024-06", "2024-12"]
    # ranged manifest pruning still exact after compaction
    pruned = read_receipts(spark, lake, months=("2024-10", "2024-12"))
    assert pruned.count() == shifted.count()
    # time travel: the pre-compact snapshot is intact
    old = read_receipts(spark, lake, version=v_pre)
    assert old.count() == total
    # vacuum through the generic CLI bounds the window
    rc = cli.main(["manifest-vacuum", "--path", lake, "--keep", "1"])
    assert rc == 0
    vac = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["removed_segments"]
    with pytest.raises(ValueError, match="vacuumed"):
        read_receipts(spark, lake, version=v_pre).count()
    assert read_receipts(spark, lake).count() == total


def test_file_key_exactly_once_survives_rebatching_and_glob_growth(
    spark, tmp_path
):
    """The r13 review catch: a whole-batch set digest breaks when a
    replay RE-BATCHES the same files or a backfill glob GROWS. The
    per-file granularity (file_key_col) must: append only the new
    files' rows from a mixed batch, skip a re-batched full replay
    entirely, and report what it did (for side-effect gating)."""
    from fintech_etl_spark.sinks import read_receipts, write_receipts_parquet

    base = _golden_receipts(spark, tmp_path)
    fa = base.withColumn("source_file", F.lit("gs://b/a.csv"))
    fb = base.withColumn(
        "source_file", F.lit("gs://b/b.csv")
    ).withColumn("receipt_id", F.concat(F.col("receipt_id"), F.lit("-b")))
    lake = str(tmp_path / "lake_fk")
    n = base.count()

    # batch 1: {a}
    res = write_receipts_parquet(
        fa, lake, transactional=True, file_key_col="source_file"
    )
    assert res["published"] and res["files_published"] == ["gs://b/a.csv"]
    assert read_receipts(spark, lake).count() == n

    # the glob grew: batch {a, b} — only b's rows land, a is reported
    res = write_receipts_parquet(
        fa.unionByName(fb), lake, file_key_col="source_file"
    )
    assert res["published"]
    assert res["files_published"] == ["gs://b/b.csv"]
    assert res["files_skipped"] == ["gs://b/a.csv"]
    assert read_receipts(spark, lake).count() == 2 * n

    # checkpoint-loss replay RE-BATCHED as {b} alone: full no-op
    res = write_receipts_parquet(fb, lake, file_key_col="source_file")
    assert res == {
        "published": False,
        "files_published": [],
        "files_skipped": ["gs://b/b.csv"],
    }
    assert read_receipts(spark, lake).count() == 2 * n
    from fintech_etl_spark.sinks import manifest as mf2

    assert mf2.ingested_count(lake) == 2

    # the plain-directory lake is gone: asking for it is refused
    with pytest.raises(ValueError, match="plain-directory lake"):
        write_receipts_parquet(fa, lake, transactional=False)
    # and the two exactly-once granularities are mutually exclusive
    with pytest.raises(ValueError, match="not both"):
        write_receipts_parquet(
            fa, lake, batch_key="x", file_key_col="source_file"
        )


def test_webhook_outbox_atomic_intent_and_recoverable_delivery(
    spark, tmp_path
):
    """The r13 ADVICE medium finding, closed: batch webhook delivery
    was at-most-once with no recovery (failures swallowed; a replay
    skips the webhook entirely because the files are already
    ingested). Here the notification INTENT commits atomically with
    the lake batch (outbox segment, same pointer swap), a blip leaves
    the batch in the outbox, and the next drain re-posts ONLY the
    failures — with the ORIGINAL document_ids, pinned at publish
    time."""
    import os as _os

    from fintech_etl_spark.sinks import (
        WebhookSink,
        read_receipts,
        write_receipts_parquet,
    )
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import (
        _OUTBOX_DS,
        drain_webhook_outbox,
    )

    base = _golden_receipts(spark, tmp_path)
    n = base.count()
    fa = base.withColumn("source_file", F.lit("gs://b/a.csv"))
    lake = str(tmp_path / "lake_ob")

    res = write_receipts_parquet(
        fa,
        lake,
        transactional=True,
        file_key_col="source_file",
        outbox=to_webhook_payloads,
    )
    assert res["published"]
    # intent committed atomically with the data: one pointer read
    # shows BOTH the receipts segment and the staged payloads
    segs = mf.dataset_segments(lake, _OUTBOX_DS)
    assert len(segs) == 1
    staged = spark.read.parquet(segs[0])
    staged_ids = {r.document_id for r in staged.collect()}
    assert len(staged_ids) == n

    wire_log = tmp_path / "wire.log"
    outage = tmp_path / "outage_done"

    def poster(url, body, headers, _log=str(wire_log), _m=str(outage)):
        doc = json.loads(body)
        with open(_log, "a") as f:
            f.write(doc["document_id"] + "\n")
        if doc["receiptId"] == "INV2" and not _os.path.exists(_m):
            open(_m, "w").close()
            raise ConnectionError("endpoint down mid-batch")
        return 200

    mk = lambda: WebhookSink(  # noqa: E731 — fresh instance = restart
        url="http://example.invalid/hook", poster=poster
    )

    # drain 1: blip mid-batch — failures stay in the outbox
    d1 = drain_webhook_outbox(spark, lake, mk())
    assert d1["batches"] == 1 and d1["failed"] == 1 and d1["sent"] == n - 1
    assert len(mf.dataset_segments(lake, _OUTBOX_DS)) == 1  # not drained

    # drain 2 ("after the crash/blip", fresh sink): ledger skips the
    # delivered doc, re-posts only the failure, outbox empties
    d2 = drain_webhook_outbox(spark, lake, mk())
    assert d2 == {
        "batches": 1, "sent": 1, "failed": 0, "skipped": n - 1,
        "drained": d2["drained"],
    }
    assert len(d2["drained"]) == 1
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    wire = wire_log.read_text().splitlines()
    assert len(wire) == n + 1  # INV2 twice, everything else once
    assert set(wire) == staged_ids  # the ORIGINAL idempotency keys

    # full replay: nothing publishes, nothing stages, nothing sends
    res = write_receipts_parquet(
        fa, lake, file_key_col="source_file", outbox=to_webhook_payloads
    )
    assert not res["published"]
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    d3 = drain_webhook_outbox(spark, lake, mk())
    assert d3["batches"] == 0 and d3["sent"] == 0
    assert len(wire_log.read_text().splitlines()) == n + 1  # wire silent

    # mixed batch {a, b}: the outbox stages payloads for b's docs ONLY
    fb = fa.withColumn("source_file", F.lit("gs://b/b.csv")).withColumn(
        "receipt_id", F.concat(F.col("receipt_id"), F.lit("-b"))
    )
    res = write_receipts_parquet(
        fa.unionByName(fb),
        lake,
        file_key_col="source_file",
        outbox=to_webhook_payloads,
    )
    assert res["files_published"] == ["gs://b/b.csv"]
    segs = mf.dataset_segments(lake, _OUTBOX_DS)
    assert len(segs) == 1
    # b's docs only (n, not 2n): the outbox callable sees the frame
    # AFTER the already-ingested file's rows were filtered out
    assert spark.read.parquet(segs[0]).count() == n
    assert read_receipts(spark, lake).count() == 2 * n


def test_cli_webhook_outbox_end_to_end(spark, tmp_path, capsys, monkeypatch):
    """process-csv --webhook: delivery goes
    through the outbox + ledger; a replay run sends nothing; a batch
    left undelivered by a 'crash' (staged, never drained) is delivered
    by the NEXT run's drain — recoverability the old gate-on-published
    path did not have."""
    import os as _os

    from fintech_etl_spark import cli
    from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import _OUTBOX_DS

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    store = tmp_path / "receiver"
    store.mkdir()

    def poster(url, body, headers, _store=str(store)):
        doc = json.loads(body)
        path = _os.path.join(_store, doc["document_id"].replace("/", "_"))
        if not _os.path.exists(path):
            with open(path, "w") as f:
                f.write(body.decode())
        return 200

    real_sink = cli.WebhookSink
    monkeypatch.setattr(
        cli,
        "WebhookSink",
        lambda url, **kw: real_sink(url=url, **{**kw, "poster": poster}),
    )

    csv = _write_fixture(tmp_path)
    lake = str(tmp_path / "lake")
    hook = "http://example.invalid/hook"
    assert cli.main(
        ["process-csv", csv, "--lake", lake, "--webhook", hook]
    ) == 0
    delivered = set(_os.listdir(store))
    assert len(delivered) == 2  # INV1, INV2
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []  # drained

    # replay: publishes nothing, sends nothing
    assert cli.main(
        ["process-csv", csv, "--lake", lake, "--webhook", hook]
    ) == 0
    assert set(_os.listdir(store)) == delivered

    # 'crash between commit and send': a batch staged via the library
    # with NO drain — the next CLI run (different csv) delivers BOTH
    orphan = _golden_receipts(spark, tmp_path).withColumn(
        "source_file", F.lit("gs://b/orphan.csv")
    ).withColumn(
        "receipt_id", F.concat(F.col("receipt_id"), F.lit("-o"))
    )
    write_receipts_parquet(
        orphan, lake, file_key_col="source_file",
        outbox=to_webhook_payloads,
    )
    assert len(mf.dataset_segments(lake, _OUTBOX_DS)) == 1  # pending
    other = tmp_path / "other.csv"
    other.write_text(HEADER + "\n" + ROWS[0] + "\n")
    assert cli.main(
        ["process-csv", str(other), "--lake", lake, "--webhook", hook]
    ) == 0
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []  # all drained
    # orphan's 2 docs + other.csv's 1 doc joined the receiver store
    assert len(_os.listdir(store)) == 5


def test_same_invoice_in_two_files_each_delivered_once(spark, tmp_path):
    """``a.csv`` and ``b.csv`` both hold INV9 and the receiver fails the
    first post. After a re-run each of the two documents has reached
    the receiver exactly once, under its own id. (Were the id shared,
    one success would mark both delivered in the ledger, and the
    failed document would never be posted again.)"""
    import collections
    import os as _os
    import uuid

    from fintech_etl_spark.cli import process_invoices
    from fintech_etl_spark.sinks import WebhookSink

    landing = tmp_path / "landing"
    landing.mkdir()
    inv9 = ROWS[0].replace("INV2,Acme Beer Co", "INV9,Acme", 1)
    (landing / "a.csv").write_text(HEADER + "\n" + inv9 + "\n")
    (landing / "b.csv").write_text(
        HEADER + "\n" + inv9.replace("INV9,Acme", "INV9,Beta", 1) + "\n"
    )
    store = tmp_path / "receiver"
    store.mkdir()
    first_post = tmp_path / "first_post_done"

    def poster(url, body, headers, _store=str(store), _m=str(first_post)):
        if not _os.path.exists(_m):
            open(_m, "w").close()
            raise ConnectionError("receiver down for the first post")
        doc = json.loads(body)
        with open(_os.path.join(_store, f"{doc['document_id']}.{uuid.uuid4().hex}"), "w") as f:
            f.write(doc["vendor"])
        return 200

    sink = WebhookSink(url="http://example.invalid/hook", poster=poster)
    lake = str(tmp_path / "lake")
    glob_ = str(landing / "*.csv")
    assert process_invoices(spark, glob_, lake, sink) == 2
    process_invoices(spark, glob_, lake, sink)  # the re-run
    posts = collections.Counter(p.rsplit(".", 1)[0] for p in _os.listdir(store))
    assert len(posts) == 2 and set(posts.values()) == {1}, posts
    vendors = sorted((store / p).read_text() for p in _os.listdir(store))
    assert vendors == ["Acme", "Beta"]


def test_webhook_and_pubsub_outboxes_deliver_only_to_their_own_sink(
    spark, tmp_path
):
    """A lake holding pending webhook AND Pub/Sub segments: each drain
    delivers only its own sink's outbox through its own ledger, and
    ``maintain`` reports each backlog separately."""
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.maintenance import maintain
    from fintech_etl_spark.sinks.pubsub import FilePubSubEmulator, PubSubSink
    from fintech_etl_spark.sinks.receipts import drain_outbox

    base = build_receipts(
        read_invoice_csv(spark, _write_fixture(tmp_path)),
        run_date=RUN_DATE, per_file=True,
    )
    lake = str(tmp_path / "lake")
    both = {WebhookSink.OUTBOX: to_webhook_payloads, PubSubSink.OUTBOX: to_webhook_payloads}
    write_receipts_parquet(base, lake, file_key_col="source_file", outbox=both)
    other = base.withColumn("source_file", F.lit("gs://b/other.csv")).withColumn(
        "document_id", F.concat(F.col("document_id"), F.lit("-o"))
    )
    write_receipts_parquet(
        other, lake, file_key_col="source_file", outbox=to_webhook_payloads
    )
    out = maintain(spark, lake)
    assert (out["outbox_pending"], out["pubsub_outbox_pending"]) == (2, 1)

    wire = tmp_path / "wire.log"

    def poster(url, body, headers, _log=str(wire)):
        with open(_log, "a") as f:
            f.write(json.loads(body)["document_id"] + "\n")
        return 200

    hook = drain_outbox(spark, lake, WebhookSink(url="http://example.invalid/hook", poster=poster))
    assert (hook["batches"], hook["sent"]) == (2, 4)
    assert mf.dataset_segments(lake, WebhookSink.OUTBOX) == []
    assert len(mf.dataset_segments(lake, PubSubSink.OUTBOX)) == 1
    assert not _os.path.exists(_os.path.join(lake, PubSubSink.LEDGER))
    out = maintain(spark, lake)
    assert "outbox_pending" not in out and out["pubsub_outbox_pending"] == 1

    spool = str(tmp_path / "spool")
    pub = drain_outbox(spark, lake, PubSubSink("t", transport=FilePubSubEmulator(spool)))
    assert (pub["batches"], pub["sent"]) == (1, 2)
    published = sorted(
        m["attributes"]["document_id"]
        for r in FilePubSubEmulator(spool).read_requests("t") for m in r
    )
    assert published == sorted(r.document_id for r in base.collect())
    assert len(wire.read_text().splitlines()) == 4  # the webhook saw no more
    assert mf.dataset_segments(lake, PubSubSink.OUTBOX) == []


def test_overwrite_rebuild_preserves_pending_outbox(spark, tmp_path):
    """r14 self-review catch: a rebuild (mode='overwrite') REPLACES the
    receipts dataset but must carry pending outbox segments FORWARD —
    they are undelivered notification intent from earlier batches, and
    replacing the outbox dataset too would silently drop them,
    re-opening the exact at-most-once loss the outbox closes."""
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import (
        _OUTBOX_DS,
        drain_webhook_outbox,
    )

    base = _golden_receipts(spark, tmp_path)
    n = base.count()
    fa = base.withColumn("source_file", F.lit("gs://b/a.csv"))
    lake = str(tmp_path / "lake_owb")
    write_receipts_parquet(
        fa, lake, transactional=True, file_key_col="source_file",
        outbox=to_webhook_payloads,
    )
    assert len(mf.dataset_segments(lake, _OUTBOX_DS)) == 1  # pending
    # rebuild from scratch (replace-commit) WITH its own outbox
    write_receipts_parquet(
        fa, lake, mode="overwrite", transactional=True,
        file_key_col="source_file", outbox=to_webhook_payloads,
    )
    segs = mf.dataset_segments(lake, _OUTBOX_DS)
    assert len(segs) == 2  # old pending intent carried forward + new
    # one drain delivers BOTH batches' documents, then empties — and
    # the fully-delivered removals land as ONE commit
    store = tmp_path / "receiver"
    store.mkdir()
    posts = []

    def poster(url, body, headers, _store=str(store)):
        doc = json.loads(body)
        path = _os.path.join(_store, doc["document_id"].replace("/", "_"))
        with open(path + f".{len(_os.listdir(_store))}", "w") as f:
            f.write("1")
        return 200

    v_before = mf.current(lake)["version"]
    sink = WebhookSink(
        url="http://example.invalid/hook", poster=poster,
        ledger_path=str(tmp_path / "ledger"),
    )
    d = drain_webhook_outbox(spark, lake, sink)
    assert d["batches"] == 2 and d["failed"] == 0 and d["sent"] == 2 * n
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    assert mf.current(lake)["version"] == v_before + 1  # one remove-commit


# ---------------------------------------------------------------------------
# r15: batched drain, membership-keyed ledger retention, maintain-drain,
# lock provider passthrough
# ---------------------------------------------------------------------------


def _stage_outbox_batches(spark, tmp_path, lake, tags):
    """Publish one transactional batch per tag, each staging its own
    outbox segment (no drain). Returns receipts-per-batch."""
    from fintech_etl_spark.sinks import write_receipts_parquet

    base = _golden_receipts(spark, tmp_path)
    n = base.count()
    for t in tags:
        fa = base.withColumn(
            "source_file", F.lit(f"gs://b/{t}.csv")
        ).withColumn(
            "receipt_id", F.concat(F.col("receipt_id"), F.lit(f"-{t}"))
        )
        write_receipts_parquet(
            fa,
            lake,
            transactional=True,
            file_key_col="source_file",
            outbox=to_webhook_payloads,
        )
    return n


def test_outbox_drain_is_constant_jobs_in_pending_segments(spark, tmp_path):
    """r14 verdict drain-latency note, closed: a drain over N pending
    outbox segments must issue O(1) Spark jobs — not O(N) sequential
    per-segment jobs. With a fresh ledger the drain is one action (a
    declared-schema read of every pending segment, posted and appended
    to the ledger) and may run at most 2 jobs, the same for N=2 and
    N=6. A retry drain with the ledger present adds the ledger join
    and may run at most 3."""
    import uuid as _uuid

    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import _OUTBOX_DS, drain_webhook_outbox

    sc = spark.sparkContext

    def counted_drain(lake, sink):
        group = f"drain-{_uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job-count pin")
        try:
            d = drain_webhook_outbox(spark, lake, sink)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return d, len(sc.statusTracker().getJobIdsForGroup(group))

    def fresh_drain_jobs(n_batches):
        lake = str(tmp_path / f"lake_jobs_{n_batches}")
        _stage_outbox_batches(
            spark, tmp_path, lake, [f"s{i}" for i in range(n_batches)]
        )
        assert len(mf.dataset_segments(lake, _OUTBOX_DS)) == n_batches
        sink = WebhookSink(
            url="http://example.invalid/hook",
            poster=lambda url, body, headers: 200,
            ledger_path=str(tmp_path / f"ledger_jobs_{n_batches}"),
        )
        d, jobs = counted_drain(lake, sink)
        assert d["batches"] == n_batches and d["failed"] == 0
        assert mf.dataset_segments(lake, _OUTBOX_DS) == []
        return jobs

    j2 = fresh_drain_jobs(2)
    j6 = fresh_drain_jobs(6)
    assert j6 == j2, (j2, j6)  # constant in pending-segment count
    assert j2 <= 2, j2  # and small in absolute terms

    # retry drain: INV2 of batch r0 fails once, so r0 stays pending with
    # a ledger partition holding INV1-r0 for the retry to join against
    lake = str(tmp_path / "lake_jobs_retry")
    ledger = str(tmp_path / "ledger_jobs_retry")
    _stage_outbox_batches(spark, tmp_path, lake, ["r0", "r1"])

    def flaky(url, body, headers):
        if json.loads(body)["receiptId"] == "INV2-r0":
            raise ConnectionError("receiver down for one document")
        return 200

    first, _ = counted_drain(
        lake,
        WebhookSink(url="http://example.invalid/hook", poster=flaky, ledger_path=ledger),
    )
    assert first["failed"] == 1
    retry, jr = counted_drain(
        lake,
        WebhookSink(
            url="http://example.invalid/hook",
            poster=lambda url, body, headers: 200,
            ledger_path=ledger,
        ),
    )
    assert (retry["sent"], retry["failed"], retry["skipped"]) == (1, 0, 1)
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    assert jr <= 3, jr


def _counted(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by job group."""
    import uuid as _uuid

    sc = spark.sparkContext
    group = f"pin-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _segmented_lake(spark, lake, n_segments):
    """A month-partitioned lake of ``n_segments`` committed batches of
    3 receipts each, batch i dated in month 1 + i % 6 of 2024."""
    from fintech_etl_spark.sinks import write_receipts_parquet

    for i in range(n_segments):
        batch = spark.createDataFrame(
            [
                (f"R{i}-{j}", dt.date(2024, 1 + i % 6, 1 + j), float(j))
                for j in range(3)
            ],
            "receipt_id string, transaction_date date, total_amount double",
        )
        write_receipts_parquet(batch, lake, batch_key=f"b{i}")


def test_read_receipts_builds_its_scan_with_no_job(spark, tmp_path):
    """Every segment is scanned with the schema the manifest records,
    so constructing ``read_receipts`` runs no schema-inference job:
    0 jobs at 2 segments and at 6, with and without ``months=``."""
    from fintech_etl_spark.sinks import read_receipts

    for n in (2, 6):
        lake = str(tmp_path / f"lake_read_{n}")
        _segmented_lake(spark, lake, n)
        df, jobs = _counted(spark, lambda: read_receipts(spark, lake))
        assert jobs == 0, (n, jobs)
        assert df.count() == 3 * n
        ranged, jobs = _counted(
            spark,
            lambda: read_receipts(spark, lake, months=("2024-02", "2024-03")),
        )
        assert jobs == 0, (n, jobs)
        assert ranged.count() == 3 * len(
            [i for i in range(n) if 1 + i % 6 in (2, 3)]
        )


def test_compaction_is_constant_jobs_in_segments(spark, tmp_path):
    """Compaction reads its input with the recorded schema and takes
    its row count and month range from the written segment's footers
    and directory names: the same job count at 2 and 6 segments, and
    at most 2 (the rewrite's shuffle and its write)."""
    from fintech_etl_spark.sinks.receipts import compact_receipts_lake

    jobs = {}
    for n in (2, 6):
        lake = str(tmp_path / f"lake_compact_{n}")
        _segmented_lake(spark, lake, n)
        res, jobs[n] = _counted(spark, lambda: compact_receipts_lake(spark, lake))
        assert res["rows"] == 3 * n
    assert jobs[2] == jobs[6], jobs
    assert jobs[2] <= 2, jobs


def test_delivery_accounting_matches_ledger_and_posts(spark, tmp_path, monkeypatch):
    """The per-batch counts come from an accumulator inside the one
    delivery action, so pin them to what happened on disk and on the
    wire. Each outbox segment is written as 3 files, so the delivery
    runs as several tasks, and the poster fails a fixed subset: per
    batch, ``sent`` is the number of new ledger rows, ``failed`` the
    number of failed posts, and a second drain skips exactly what the
    first sent."""
    import collections
    import glob
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import receipts as rc
    from fintech_etl_spark.sinks.receipts import (
        _OUTBOX_DS,
        drain_webhook_outbox,
        outbox_batch_id,
    )

    base = _golden_receipts(spark, tmp_path)
    lake = str(tmp_path / "lake_acct")
    for t in ("a", "b", "c"):
        batch = base.crossJoin(spark.range(6).withColumnRenamed("id", "_k"))
        for c in ("receipt_id", "document_id"):
            batch = batch.withColumn(c, F.concat_ws("-", c, F.lit(t), "_k"))
        write_receipts_parquet(
            batch.drop("_k").withColumn("source_file", F.lit(f"gs://b/{t}.csv")),
            lake,
            transactional=True,
            file_key_col="source_file",
            outbox=lambda r: to_webhook_payloads(r).repartition(3),
        )
    segs = mf.dataset_segments(lake, _OUTBOX_DS)
    assert len(segs) == 3
    assert all(len(glob.glob(_os.path.join(s, "*.parquet"))) >= 3 for s in segs)
    batch_payloads = {
        outbox_batch_id(_os.path.relpath(s, lake)): spark.read.parquet(s)
        for s in segs
    }
    doc_batch = {
        r.document_id: b
        for b, p in batch_payloads.items()
        for r in p.select("document_id").collect()
    }

    failed_log = tmp_path / "failed_posts.log"

    def poster(url, body, headers, _log=str(failed_log)):
        doc = json.loads(body)
        if doc["receiptId"].endswith(("-1", "-4")):  # 4 of 12 per batch
            with open(_log, "a") as f:
                f.write(doc["document_id"] + "\n")
            raise ConnectionError("receiver rejects this document")
        return 200

    def failed_posts():
        lines = failed_log.read_text().splitlines() if failed_log.exists() else []
        failed_log.unlink(missing_ok=True)
        return collections.Counter(doc_batch[d] for d in lines)

    ledger = _os.path.join(lake, WebhookSink.LEDGER)

    def ledger_rows(b):
        d = _os.path.join(ledger, f"batch_id={b}")
        return spark.read.parquet(d).count() if _os.path.isdir(d) else 0

    recorded = []
    deliver = rc._deliver
    monkeypatch.setattr(
        rc, "_deliver", lambda *a: recorded.append(deliver(*a)) or recorded[-1]
    )
    sink = WebhookSink(url="http://example.invalid/hook", poster=poster)

    drain_webhook_outbox(spark, lake, sink)
    first = recorded[-1]
    fails = failed_posts()
    assert set(first) == set(batch_payloads)
    for b, res in first.items():
        assert res["sent"] == ledger_rows(b) == 8, (b, res)
        assert res["failed"] == fails[b] == 4, (b, res)
        assert res["skipped"] == 0
    drain_webhook_outbox(spark, lake, sink)
    second = recorded[-1]
    fails = failed_posts()
    for b, res in second.items():
        assert res == {
            "sent": 0,
            "failed": fails[b],
            "skipped": first[b]["sent"],
        }, (b, res)


@pytest.mark.parametrize(
    "outbox",
    [
        lambda r: to_webhook_payloads(r).withColumn(
            "payload", F.encode("payload", "utf-8")
        ),
        lambda r: to_webhook_payloads(r).drop("document_id"),
    ],
    ids=["binary-payload", "no-document-id"],
)
def test_outbox_contract_is_checked_before_staging(spark, tmp_path, outbox):
    """The drain reads outbox segments with a declared schema, so a
    publish whose outbox frame does not carry ``document_id`` and
    ``payload`` as strings is refused before anything is staged."""
    import os as _os

    from fintech_etl_spark.sinks import write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf

    base = _golden_receipts(spark, tmp_path)
    lake = str(tmp_path / "lake_contract")
    write_receipts_parquet(
        base.withColumn("source_file", F.lit("gs://b/ok.csv")),
        lake,
        transactional=True,
        file_key_col="source_file",
        outbox=to_webhook_payloads,
    )
    segments = _os.path.join(lake, "segments")
    before = set(_os.listdir(segments))
    v_before = mf.current(lake)["version"]
    with pytest.raises(ValueError, match="outbox"):
        write_receipts_parquet(
            base.withColumn("source_file", F.lit("gs://b/bad.csv")),
            lake,
            transactional=True,
            file_key_col="source_file",
            outbox=outbox,
        )
    assert set(_os.listdir(segments)) == before
    assert mf.current(lake)["version"] == v_before


def test_corrupt_ledger_fails_the_drain_before_any_post(spark, tmp_path):
    """The ledger is read with a declared schema and a missing ledger
    is a missing directory, so nothing reads a footer up front. A torn
    ledger file must still fail the drain loudly, before any post: a
    silently skipped ledger would turn off dedup and re-post the
    batch."""
    import glob
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import (
        _OUTBOX_DS,
        drain_webhook_outbox,
        outbox_batch_id,
    )

    lake = str(tmp_path / "lake_torn")
    _stage_outbox_batches(spark, tmp_path, lake, ["t"])
    (seg,) = mf.dataset_segments(lake, _OUTBOX_DS)
    ledger = tmp_path / "lake_torn" / WebhookSink.LEDGER
    part = ledger / f"batch_id={outbox_batch_id(_os.path.relpath(seg, lake))}"
    spark.createDataFrame(
        [("earlier-doc",)], "document_id string"
    ).withColumn("delivered_at", F.current_timestamp()).coalesce(1).write.parquet(
        str(part)
    )
    (torn,) = glob.glob(str(part / "*.parquet"))
    with open(torn, "r+b") as f:
        f.truncate(_os.path.getsize(torn) // 2)

    posts = tmp_path / "posts.log"

    def poster(url, body, headers, _log=str(posts)):
        with open(_log, "a") as f:
            f.write("post\n")
        return 200

    sink = WebhookSink(url="http://example.invalid/hook", poster=poster)
    with pytest.raises(Exception, match="(?i)parquet"):
        drain_webhook_outbox(spark, lake, sink)
    assert not posts.exists()
    assert mf.dataset_segments(lake, _OUTBOX_DS) == [seg]


def test_drain_self_retains_ledger_by_outbox_membership(spark, tmp_path):
    """The r14 verdict's sharpest latent edge, closed: outbox batch
    ids are segment-name hashes with NO keep-last order, so ledger
    retention is keyed on manifest MEMBERSHIP — the drain drops a
    segment's ledger partition exactly when its remove-commit takes
    the segment out of the outbox, a PENDING segment's partition
    (the retry skip records) is never touched, and the residue sweep
    (``expire_outbox_ledger``) removes only partitions of segments no
    longer pending."""
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.maintenance import expire_outbox_ledger
    from fintech_etl_spark.sinks.receipts import (
        _OUTBOX_DS,
        drain_webhook_outbox,
        outbox_batch_id,
    )

    lake = str(tmp_path / "lake_ret")
    _stage_outbox_batches(spark, tmp_path, lake, ["ok", "down"])
    ledger = _os.path.join(lake, WebhookSink.LEDGER)

    def poster(url, body, headers):
        if json.loads(body)["receiptId"] == "INV2-down":
            raise ConnectionError("receiver rejects this document")
        return 200

    sink = WebhookSink(url="http://example.invalid/hook", poster=poster)
    d = drain_webhook_outbox(spark, lake, sink)
    assert d["batches"] == 2 and d["failed"] == 1 and d["sent"] == 3
    pending = mf.dataset_segments(lake, _OUTBOX_DS)
    assert len(pending) == 1  # 'down' stays
    pend = f"batch_id={outbox_batch_id(_os.path.relpath(pending[0], lake))}"
    # the delivered segment's partition dropped with its remove-commit;
    # the pending segment's skip records (INV1-down) are kept
    assert {e for e in _os.listdir(ledger) if e.startswith("batch_id=")} == {pend}
    # residue of a segment no longer pending (a crash between a
    # remove-commit and its partition drop) is swept; pending stays
    _os.makedirs(_os.path.join(ledger, "batch_id=12345"))
    assert expire_outbox_ledger(lake) == [12345]
    assert {e for e in _os.listdir(ledger) if e.startswith("batch_id=")} == {pend}
    # a retry with a healed receiver delivers ONLY the failure, and
    # an entirely-empty ledger is removed outright
    ok_sink = WebhookSink(
        url="http://example.invalid/hook",
        poster=lambda url, body, headers: 200,
    )
    d2 = drain_webhook_outbox(spark, lake, ok_sink)
    assert (d2["batches"], d2["sent"], d2["failed"], d2["skipped"]) == (1, 1, 0, 1)
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    assert not _os.path.isdir(ledger)


def test_maintain_drains_outbox_on_quiesced_lake(spark, tmp_path):
    """r14 verdict ask #3: pending webhook notifications on a lake
    that stops receiving batch runs must be deliverable by the SAME
    cron verb that compacts it — maintain(webhook_sink=...) drains the
    outbox and sweeps the delivered ledger partitions; without a
    webhook config the backlog is surfaced, never hidden."""
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.maintenance import maintain
    from fintech_etl_spark.sinks.receipts import _OUTBOX_DS

    lake = str(tmp_path / "lake_mnt")
    n = _stage_outbox_batches(spark, tmp_path, lake, ["a", "b"])
    # no webhook config: the cron reports the backlog
    out = maintain(spark, lake)
    assert out["kind"] == "lake" and out["outbox_pending"] == 2

    wire_log = tmp_path / "wire_mnt.log"

    def poster(url, body, headers, _log=str(wire_log)):
        doc = json.loads(body)
        with open(_log, "a") as f:
            f.write(doc["document_id"] + "\n")
        return 200

    sink = WebhookSink(
        url="http://example.invalid/hook",
        poster=poster,
        ledger_path=_os.path.join(lake, "_webhook_ledger"),
    )
    out = maintain(spark, lake, webhook_sink=sink)
    assert out["outbox"]["batches"] == 2
    assert out["outbox"]["sent"] == 2 * n and out["outbox"]["failed"] == 0
    assert len(wire_log.read_text().splitlines()) == 2 * n
    assert mf.dataset_segments(lake, _OUTBOX_DS) == []
    # drained ledger partitions swept in the same pass
    assert not _os.path.isdir(_os.path.join(lake, "_webhook_ledger"))
    # idempotent at any cron frequency
    out = maintain(spark, lake, webhook_sink=sink)
    assert out["outbox"]["batches"] == 0
    assert len(wire_log.read_text().splitlines()) == 2 * n


def test_receipts_lake_threads_cas_lock_provider(spark, tmp_path):
    """r14 ADVICE: write/drain/compact must accept the lake's lock
    provider — a CAS-locked lake's committers would otherwise not
    mutually exclude with these entry points. Proven by observing the
    version CLAIMS land in the CAS store (the conditional commit
    point only the injected provider writes there)."""
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.locks import CASLockProvider, CASStore
    from fintech_etl_spark.sinks.receipts import (
        compact_receipts_lake,
        drain_webhook_outbox,
    )

    store = CASStore(str(tmp_path / "cas"))
    provider = CASLockProvider(store)
    lake = str(tmp_path / "lake_cas")
    base = _golden_receipts(spark, tmp_path).withColumn(
        "source_file", F.lit("gs://b/a.csv")
    )
    n = base.count()
    write_receipts_parquet(
        base,
        lake,
        transactional=True,
        file_key_col="source_file",
        outbox=to_webhook_payloads,
        lock=provider,
    )
    mdir = mf.manifests_dir(lake)
    assert provider.read_claim(mdir, 0) is not None  # claim in the STORE
    sink = WebhookSink(
        url="http://example.invalid/hook",
        poster=lambda url, body, headers: 200,
        ledger_path=str(tmp_path / "ledger_cas"),
    )
    d = drain_webhook_outbox(spark, lake, sink, lock=provider)
    assert d["sent"] == n and d["failed"] == 0
    assert provider.read_claim(mdir, 1) is not None  # remove-commit claim
    stats = compact_receipts_lake(spark, lake, lock=provider)
    assert stats["rows"] == n
    assert provider.read_claim(mdir, 2) is not None  # compaction claim
    # maintain threads the provider to every commit IT issues too:
    # stage a new outbox batch, let the cron drain it under the lock
    from fintech_etl_spark.sinks.maintenance import maintain

    write_receipts_parquet(
        base.withColumn("source_file", F.lit("gs://b/b.csv")),
        lake, file_key_col="source_file", outbox=to_webhook_payloads,
        lock=provider,
    )
    out = maintain(spark, lake, webhook_sink=sink, lock=provider)
    assert out["outbox"]["batches"] == 1 and out["outbox"]["failed"] == 0
    assert provider.read_claim(mdir, 4) is not None  # drain remove-commit
    # and no default-store claims were minted anywhere along the way
    assert not [x for x in _os.listdir(mdir) if x.startswith("claim-")]


def test_cluster_by_month_regime_and_layout(spark, tmp_path):
    """The pre-write month clustering picks its regime from the
    batch's PLANNED size: a tiny batch hash-repartitions on month (so
    distinct months write in parallel instead of one coalesced task
    creating every month directory serially), a batch past the AQE
    advisory partition size keeps the REBALANCE hint (skew-splitting a
    hot month). Both regimes land exactly one file per month."""
    import datetime as dt2
    import glob
    import os as _os

    from fintech_etl_spark.sinks.receipts import (
        _cluster_by_month,
        _with_month,
        write_receipts_parquet,
    )

    rows = [
        (i, dt2.date(2024, 1 + (i % 12), 1 + (i % 27)), float(i))
        for i in range(200)
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        rows, "receipt_id long, transaction_date date, total_amount double"
    ).write.parquet(src)
    # parquet-backed so the optimizer has a REAL size estimate — an
    # in-memory LogicalRDD reports the default (huge) size and the
    # helper conservatively keeps the REBALANCE hint for it
    receipts = spark.read.parquet(src)

    # tiny regime: explicit hash repartition, no rebalance hint
    plan = (
        _cluster_by_month(_with_month(receipts))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "RepartitionByExpression" in plan
    assert "rebalance" not in plan.lower()

    # large regime (forced by shrinking the advisory): rebalance hint
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1b")
    try:
        plan_big = (
            _cluster_by_month(_with_month(receipts))
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert "RebalancePartitions" in plan_big
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    # layout: one parquet file per month directory, 12 months
    lake = str(tmp_path / "lake")
    write_receipts_parquet(receipts, lake, transactional=True, batch_key="b0")
    month_dirs = glob.glob(
        _os.path.join(lake, "segments", "*", "transaction_month=*")
    )
    assert len(month_dirs) == 12
    for d in month_dirs:
        assert len(glob.glob(_os.path.join(d, "*.parquet"))) == 1


# ---------------------------------------------------------------------------
# the invoice commit's job budget: header read on the driver, no global
# sort, file keys probed by one job before anything is staged
# ---------------------------------------------------------------------------


def _write_rows(path, columns, rows, *, lead=""):
    """Write the golden rows as a CSV with ``columns`` (names from
    HEADER; a name outside it writes an empty cell) in that order."""
    import csv as _csv
    import io

    recs = [dict(zip(_NAMES, next(_csv.reader([r])))) for r in rows]
    buf = io.StringIO()
    w = _csv.writer(buf, lineterminator="\n")
    for r in recs:
        w.writerow([r.get(c, "") for c in columns])
    path.write_text(lead + ",".join(columns) + "\n" + buf.getvalue())
    return str(path)


def _commit_batch(spark, paths, lake, sink):
    """One commit as the CLI and perfbench run it: read, build, persist
    + count, write with file keys and outbox, drain."""
    from fintech_etl_spark.sinks import write_receipts_parquet
    from fintech_etl_spark.sinks.receipts import drain_webhook_outbox

    receipts = build_receipts(
        read_invoice_csv(spark, paths), run_date=RUN_DATE, run_ts=1, per_file=True
    )
    receipts.persist()
    try:
        n = receipts.count()
        wrote = write_receipts_parquet(
            receipts, lake, file_key_col="source_file", outbox=to_webhook_payloads
        )
        drained = drain_webhook_outbox(spark, lake, sink)
    finally:
        receipts.unpersist()
    return n, wrote, drained


def test_invoice_commit_runs_at_most_9_jobs(spark, tmp_path):
    """A fresh-file commit into a live lake runs at most 9 Spark jobs:
    0 to read (no header-inference job), 4 for persist + count (no
    global sort), 4 to write (a one-job key probe, the data write and
    the outbox write), 1 to drain."""
    from fintech_etl_spark.sinks import WebhookSink

    lake = str(tmp_path / "lake")
    sink = WebhookSink(
        url="http://example.invalid/hook",
        poster=lambda url, body, headers: 200,
        ledger_path=str(tmp_path / "ledger"),
    )
    for tag in ("warm", "timed"):
        for i in range(3):
            _write_rows(tmp_path / f"{tag}{i}.csv", _NAMES, ROWS)
        paths = [str(tmp_path / f"{tag}{i}.csv") for i in range(3)]
        (n, wrote, drained), jobs = _counted(
            spark, lambda: _commit_batch(spark, paths, lake, sink)
        )
        assert n == 6 and len(wrote["files_published"]) == 3
        assert drained["sent"] == 6 and drained["failed"] == 0
    assert jobs <= 9, jobs


def test_build_receipts_has_no_global_sort(spark, tmp_path):
    """No consumer on the commit path reads emission order, so the
    receipt plan has no range exchange (and no sampling job)."""
    receipts = _golden_receipts(spark, tmp_path)
    plan = receipts._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan, plan


def test_replay_stages_nothing_and_mixed_batch_stages_only_new_files(
    spark, tmp_path
):
    """The file keys are probed before anything is staged. A full
    replay's write runs only that one probe job, adds no directory
    under segments/ and posts nothing; a mixed batch adds only the
    receipts and outbox segments it commits, with only its new file's
    rows and payloads. (A drained outbox segment leaves the manifest at
    once and stays on disk for vacuum, so directories are compared
    before and after.)"""
    import os as _os

    from fintech_etl_spark.sinks import WebhookSink, read_receipts, write_receipts_parquet
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import _RECEIPTS_DS

    log = tmp_path / "posts.log"
    log.write_text("")

    def poster(url, body, headers, _log=str(log)):
        with open(_log, "a") as fh:  # posts run in executor processes
            fh.write(json.loads(body)["receiptId"] + "\n")
        return 200

    def posted():
        return log.read_text().split()

    sink = WebhookSink(
        url="http://example.invalid/hook", poster=poster,
        ledger_path=str(tmp_path / "ledger"),
    )
    lake = str(tmp_path / "lake")
    a = _write_rows(tmp_path / "a.csv", _NAMES, ROWS)
    b = _write_rows(tmp_path / "b.csv", _NAMES, ROWS)

    def segment_dirs():
        return set(_os.listdir(_os.path.join(lake, "segments")))

    n, wrote, _ = _commit_batch(spark, [a], lake, sink)
    assert n == 2 and wrote["published"] and len(posted()) == 2
    v = mf.current(lake)["version"]
    receipts_segs = mf.dataset_segments(lake, _RECEIPTS_DS)
    before = segment_dirs()

    replay = build_receipts(
        read_invoice_csv(spark, [a]), run_date=RUN_DATE, run_ts=2, per_file=True
    ).persist()
    replay.count()
    wrote, jobs = _counted(spark, lambda: write_receipts_parquet(
        replay, lake, file_key_col="source_file", outbox=to_webhook_payloads
    ))
    replay.unpersist()
    assert jobs == 1, jobs  # the key probe; nothing staged
    assert not wrote["published"] and len(wrote["files_skipped"]) == 1
    _, wrote, drained = _commit_batch(spark, [a], lake, sink)  # full replay
    assert not wrote["published"] and len(wrote["files_skipped"]) == 1
    assert drained["sent"] == 0 and len(posted()) == 2
    assert mf.current(lake)["version"] == v
    assert mf.dataset_segments(lake, _RECEIPTS_DS) == receipts_segs
    assert segment_dirs() == before

    _, wrote, drained = _commit_batch(spark, [a, b], lake, sink)  # mixed
    assert len(wrote["files_published"]) == 1 and len(wrote["files_skipped"]) == 1
    assert wrote["files_published"][0].endswith("b.csv")
    assert drained["sent"] == 2 and len(posted()) == 4
    new = [s for s in mf.dataset_segments(lake, _RECEIPTS_DS) if s not in receipts_segs]
    assert len(new) == 1
    rows = read_receipts(spark, lake).filter(F.col("source_file").endswith("b.csv"))
    assert rows.count() == 2 and read_receipts(spark, lake).count() == 4
    # its receipts segment and its (drained) outbox segment, nothing else
    added = segment_dirs() - before
    assert len(added) == 2 and _os.path.basename(new[0]) in added


def _spark_header_reference(spark, path):
    """What the scan gave with Spark's own header inference: the same
    options and by-name projection, the header found by a Spark job."""
    from fintech_etl_spark.schemas import INVOICE_CSV_SCHEMA

    raw = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
        .option("encoding", "UTF-8")
        .csv(path)
    )
    present = set(raw.columns)
    return raw, raw.select(*[
        F.col(f.name) if f.name in present else F.lit(None).cast(f.dataType).alias(f.name)
        for f in INVOICE_CSV_SCHEMA.fields
    ])


def _fixture_canonical(d):
    return _write_rows(d / "f.csv", _NAMES, ROWS)


def _fixture_reordered(d):
    return _write_rows(d / "f.csv", list(reversed(_NAMES)), ROWS)


def _fixture_partial(d):
    return _write_rows(d / "f.csv", ["Vendor Name", "Invoice Number", "Extended Price"], ROWS)


def _fixture_quoted(d):
    p = _write_rows(d / "f.csv", _NAMES, ROWS)
    body = open(p).read().split("\n", 1)[1]
    header = ",".join(f'"{n}"' for n in _NAMES) + ',"Notes, internal"'
    (d / "f.csv").write_text(header + "\n" + body)
    return p


def _fixture_duplicated(d):
    cols = _NAMES[:3] + ["vendor name", "Quantity"] + _NAMES[5:]
    return _write_rows(d / "f.csv", cols, ROWS)


def _fixture_empty_name(d):
    cols = _NAMES[:2] + [""] + _NAMES[3:]
    return _write_rows(d / "f.csv", cols, ROWS)


def _fixture_blank_first_line(d):
    return _write_rows(d / "f.csv", _NAMES, ROWS, lead="\n   \n")


def _fixture_glob(d):
    (d / "in").mkdir()
    _write_rows(d / "in" / "a.csv", _NAMES, ROWS[:3])
    _write_rows(d / "in" / "b.csv", _NAMES, ROWS[3:])
    return str(d / "in" / "*.csv")


def _fixture_gzip(d):
    import gzip

    plain = _write_rows(d / "f.csv", list(reversed(_NAMES)), ROWS)
    with open(plain, "rb") as src, gzip.open(d / "f.csv.gz", "wb") as dst:
        dst.write(src.read())
    return str(d / "f.csv.gz")


@pytest.mark.parametrize(
    "fixture",
    [
        _fixture_canonical,
        _fixture_reordered,
        _fixture_partial,
        _fixture_quoted,
        _fixture_duplicated,
        _fixture_empty_name,
        _fixture_blank_first_line,
        _fixture_glob,
        _fixture_gzip,
    ],
    ids=lambda f: f.__name__.removeprefix("_fixture_"),
)
def test_header_read_on_driver_matches_spark_inference(spark, tmp_path, fixture):
    """The driver-side header read gives the schema and rows Spark's own
    header inference gives: column names under Spark's safe-name rules
    (``_c<i>`` for an empty name, an index suffix for a name repeated
    case-insensitively), quoted names, blank leading lines, globs and
    compressed files."""
    from fintech_etl_spark.sources.invoice_csv import (
        ROW_IDX,
        SOURCE_PATH,
        _first_header,
        _safe_header,
    )

    path = fixture(tmp_path)
    raw, want = _spark_header_reference(spark, path)
    assert _safe_header(_first_header(spark, [path]), False) == raw.columns
    got, jobs = _counted(spark, lambda: read_invoice_csv(spark, path))
    assert jobs == 0
    got = got.drop(ROW_IDX, SOURCE_PATH)
    assert got.schema == want.schema
    key = lambda r: tuple("" if v is None else v for v in r)
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_multi_file_batch_with_disagreeing_headers_is_refused(spark, tmp_path):
    """One header serves the batch, and a file whose header disagrees
    with it is refused inside the scan, naming the file, instead of
    having its columns bound by position (b.csv's vendor would read as
    its invoice number)."""
    a = tmp_path / "a.csv"
    b = tmp_path / "b.csv"
    a.write_text("Invoice Number,Vendor Name,Extended Price\nA1,Alpha,1.0\n")
    b.write_text("Vendor Name,Invoice Number,Extended Price\nBeta,B1,2.0\n")
    df = read_invoice_csv(spark, [str(a), str(b)])
    with pytest.raises(Exception, match="b.csv") as err:
        df.select("Invoice Number", "Vendor Name").collect()
    assert "header does not conform" in str(err.value).lower()
    # a homogeneous batch reads as before
    b.write_text("Invoice Number,Vendor Name,Extended Price\nB1,Beta,2.0\n")
    rows = read_invoice_csv(spark, [str(a), str(b)]).select(
        "Invoice Number", "Vendor Name"
    ).collect()
    assert sorted(tuple(r) for r in rows) == [("A1", "Alpha"), ("B1", "Beta")]
