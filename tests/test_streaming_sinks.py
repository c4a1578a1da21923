"""Streaming + sink tests (SURVEY §2.6 / M4): checkpointed file-source
intake (no reprocessing on restart), streaming window agg parity with
the batch query, stateful sessionization, parquet receipt sink,
webhook sink delivery accounting."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_receipts_pipeline import HEADER, ROWS

RUN_DATE = dt.date(2024, 6, 1)


def _wait(q):
    q.awaitTermination(120)
    assert not q.isActive or q.awaitTermination(60)


def test_streaming_intake_checkpoint_no_reprocess(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "receipts_out")
    (landing / "a.csv").write_text(HEADER + "\n" + "\n".join(ROWS[:3]) + "\n")

    from fintech_etl_spark.cli import process_invoices
    from fintech_etl_spark.sinks import read_receipts
    from fintech_etl_spark.streaming import start_invoice_stream

    batches: list[list[str]] = []

    def on_files(paths):
        batches.append(paths)
        process_invoices(spark, paths, out)

    q = start_invoice_stream(spark, str(landing), ckpt, on_files)
    q.awaitTermination()
    first = read_receipts(spark, out).collect()
    assert [r.receipt_id for r in first] == ["INV2"]
    assert first[0].item_count == 3

    # second file arrives; restart consumes ONLY the new file (the
    # reference's backfill bug — re-listing reprocesses everything —
    # is what this pins against)
    (landing / "b.csv").write_text(HEADER + "\n" + "\n".join(ROWS[3:]) + "\n")
    q2 = start_invoice_stream(spark, str(landing), ckpt, on_files)
    q2.awaitTermination()
    assert [[os.path.basename(p) for p in b] for b in batches] == [["a.csv"], ["b.csv"]]
    rows = read_receipts(spark, out).collect()
    ids = sorted(r.receipt_id for r in rows)
    assert ids == ["INV1", "INV2"]  # INV2 exactly once


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    from fintech_etl_spark.registry import all_specs
    from fintech_etl_spark.streaming.events import (
        read_events_stream,
        streaming_hourly_rollup,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    q = (
        streaming_hourly_rollup(stream)
        .writeStream.format("memory")
        .queryName("hourly_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in spark.sql("select * from hourly_stream").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n, round(r.total_value, 4))
        for r in all_specs()["events_hourly_rollup"].fn(spark, SF_SMOKE).collect()
    }
    # append mode emits only watermark-closed windows; all but the
    # stream-tail hours must match the batch result exactly
    assert len(got) >= len(want) * 0.8
    for k, v in got.items():
        assert want[k] == (v[0], round(v[1], 4)), k


def test_stateful_sessionize_counts(spark, tmp_path):
    from fintech_etl_spark.streaming.events import (
        read_events_stream,
        sessionize_stateful,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    q = (
        sessionize_stateful(stream)
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps the query alive servicing timeouts
    # even under availableNow, so it never self-terminates — wait for
    # the data batch's in-batch closures to COMMIT (status-message
    # matching raced the first commit and stopped the query too early),
    # then stop.
    import time

    for _ in range(60):
        time.sleep(2)
        if not q.isActive:
            break
        if spark.sql("select count(*) c from sessions_stream").collect()[0].c > 0:
            break
    if q.isActive:
        q.stop()
    rows = spark.sql("select * from sessions_stream").collect()
    # closed sessions only (open ones still in state); every closed
    # session must respect the gap invariant and event accounting
    assert rows, "expected at least one closed session"
    from fintech_etl_spark.sources.tables import load_table

    by_user = {}
    for r in rows:
        assert r.session_start <= r.session_end
        by_user.setdefault(r.user_id, 0)
        by_user[r.user_id] += r.n_events
    totals = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for uid, n in by_user.items():
        assert n <= totals[uid]


def test_webhook_sink_accounting(spark, tmp_path):
    from fintech_etl_spark.operators.receipts import (
        build_receipts,
        to_webhook_payloads,
    )
    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

    fixture = tmp_path / "f.csv"
    fixture.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    payloads = to_webhook_payloads(
        build_receipts(read_invoice_csv(spark, str(fixture)), run_date=RUN_DATE)
    )

    outdir = tmp_path / "posts"
    outdir.mkdir()

    def file_poster(url, body, headers, _dir=str(outdir)):
        doc = json.loads(body)
        with open(os.path.join(_dir, f"{doc['receiptId']}.json"), "w") as f:
            f.write(body.decode())
        return 200

    WebhookSink(url="http://example.invalid/hook", poster=file_poster).send_batch(
        payloads
    )
    posted = sorted(
        os.path.basename(p) for p in glob.glob(str(outdir / "*.json"))
    )
    assert posted == ["INV1.json", "INV2.json"]
    doc = json.load(open(outdir / "INV2.json"))
    assert doc["itemCount"] == 3 and doc["transactionDate"] == "2024-06-15"


def test_landing_sink_object_names(spark, tmp_path):
    from fintech_etl_spark.sinks.landing import land_raw_files

    body = (HEADER + "\n" + ROWS[0]).encode()
    land_raw_files(
        spark,
        [(body, "2024-06-01", "g42", "my invoice file.csv")],
        str(tmp_path / "landing"),
    )
    landed = spark.read.parquet(str(tmp_path / "landing")).collect()
    assert len(landed) == 1
    # F25: spaces → underscores, intake/ prefix
    assert landed[0].object_name == "intake/2024-06-01_g42_my_invoice_file.csv"
    assert bytes(landed[0].payload) == body
    assert landed[0].n_bytes == len(body)


def test_cli_backfill_and_list(spark, tmp_path, capsys, monkeypatch):
    """Drive the CLI surface end-to-end (§2.7): backfill a landing dir
    into the receipt lake — twice, and the second run adds nothing
    (exactly-once per source file) — then list pending objects."""
    from fintech_etl_spark import cli
    from fintech_etl_spark.sinks import read_receipts

    landing = tmp_path / "raw"
    landing.mkdir()
    (landing / "a.csv").write_text(HEADER + "\n" + "\n".join(ROWS[:3]) + "\n")
    (landing / "b.csv").write_text(HEADER + "\n" + "\n".join(ROWS[3:]) + "\n")
    lake = str(tmp_path / "lake")

    # reuse the test session instead of building a second one
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    for _ in range(2):
        rc = cli.main(["backfill", "--landing", str(landing), "--lake", lake])
        assert rc == 0
        assert "backfilled 2 receipts" in capsys.readouterr().out
        lake_df = read_receipts(spark, lake)
        assert sorted(r.receipt_id for r in lake_df.collect()) == ["INV1", "INV2"]

    rc = cli.main(["list-pending", "--landing", str(landing)])
    out = capsys.readouterr().out
    assert rc == 0 and "2 pending" in out and "a.csv" in out


def test_upsert_last_writer_wins(spark):
    from fintech_etl_spark.sinks.maintenance import upsert_by_key

    existing = spark.createDataFrame(
        [("r1", 1, 10.0), ("r2", 1, 20.0)], "receipt_id string, v int, total double"
    )
    updates = spark.createDataFrame(
        [("r2", 2, 25.0), ("r2", 1, 99.0), ("r3", 1, 30.0)],
        "receipt_id string, v int, total double",
    )
    got = {
        r.receipt_id: (r.v, r.total)
        for r in upsert_by_key(existing, updates, "receipt_id", "v").collect()
    }
    assert got == {"r1": (1, 10.0), "r2": (2, 25.0), "r3": (1, 30.0)}
    # same-version tie goes to the update (99.0 beat the existing 20.0
    # only if v2 didn't exist; here v2 wins outright)


def test_compaction_reduces_files(spark, tmp_path):
    import glob

    from fintech_etl_spark.sinks.maintenance import compact_parquet
    from fintech_etl_spark.sources.tables import load_table

    frag = str(tmp_path / "frag")
    li = load_table(spark, SF_SMOKE, "lineitem")
    li.repartition(24).write.parquet(frag)  # simulate micro-batch fragmentation
    assert len(glob.glob(f"{frag}/*.parquet")) == 24

    staged = compact_parquet(spark, frag, target_file_mb=128)
    files = glob.glob(f"{staged}/*.parquet")
    assert len(files) == 1  # sf0.001 lineitem ≪ 128 MB
    assert spark.read.parquet(staged).count() == li.count()


def test_streaming_dedup_events(spark, tmp_path):
    """Replaying the same events file twice through the checkpointed
    dedup stream emits each event_id exactly once."""
    import shutil

    from fintech_etl_spark.streaming.events import (
        dedup_events_stream,
        read_events_stream,
    )

    q = (
        dedup_events_stream(read_events_stream(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from fintech_etl_spark.sources.tables import load_table

    n_events = load_table(spark, SF_SMOKE, "events").count()
    got = spark.sql(
        "select count(*) as n, count(distinct event_id) as d from dedup_stream"
    ).collect()[0]
    assert got.n == got.d == n_events


def test_stream_static_enrichment(spark, tmp_path):
    """Streaming events left-join a static per-user profile: every
    output row carries the user's batch-computed average value; users
    absent from the profile stay (null-padded) rather than dropping."""
    from fintech_etl_spark.sources.tables import load_table
    from fintech_etl_spark.streaming.events import (
        enrich_events_stream,
        read_events_stream,
    )

    batch = load_table(spark, SF_SMOKE, "events")
    profile = (
        batch.groupBy("user_id")
        .agg(F.round(F.avg("value"), 4).alias("user_avg_value"))
        .filter(F.col("user_id") % 2 == 0)  # half the users lack a profile
    )
    q = (
        enrich_events_stream(read_events_stream(spark, SF_SMOKE), profile)
        .writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from enriched_stream")
    assert got.count() == batch.count()  # left join: nothing dropped
    want = {r.user_id: r.user_avg_value for r in profile.collect()}
    sample = got.groupBy("user_id").agg(
        F.first("user_avg_value").alias("v"),
        F.countDistinct("user_avg_value").alias("nv"),
    )
    for r in sample.collect():
        if r.user_id % 2 == 0:
            assert r.v == want[r.user_id] and r.nv == 1
        else:
            assert r.v is None and r.nv == 0


def test_documents_jsonl_roundtrip(spark, tmp_path):
    from fintech_etl_spark.sources.tables import (
        load_table,
        read_documents_jsonl,
        write_documents_jsonl,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(docs, path)
    back = read_documents_jsonl(spark, path)
    assert back.schema == docs.schema
    a = {r.doc_id: r.text for r in docs.collect()}
    b = {r.doc_id: r.text for r in back.collect()}
    assert a == b


def test_streaming_same_invoice_in_two_files_not_merged(spark, tmp_path):
    """Reference parity: each file is an independent processing unit, so
    the same invoice number in two files in ONE micro-batch must emit
    two receipts — two documents, with two ids."""
    from fintech_etl_spark.cli import process_invoices
    from fintech_etl_spark.sinks import read_receipts
    from fintech_etl_spark.streaming import start_invoice_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.csv").write_text(HEADER + "\n" + ROWS[0] + "\n")
    (landing / "b.csv").write_text(HEADER + "\n" + ROWS[1] + "\n")  # same INV2
    out = str(tmp_path / "out")

    q = start_invoice_stream(
        spark,
        str(landing),
        str(tmp_path / "ckpt"),
        lambda paths: process_invoices(spark, paths, out),
    )
    q.awaitTermination()
    rows = read_receipts(spark, out).collect()
    assert len(rows) == 2
    assert {r.receipt_id for r in rows} == {"INV2"}
    assert {r.item_count for r in rows} == {1}
    # provenance: each receipt carries its own file path
    assert len({r.gcs_path for r in rows}) == 2
    # identity: each receipt is its own document
    assert len({r.document_id for r in rows}) == 2


def test_stream_stream_join_matches_batch_range_join(spark, tmp_path):
    """The watermarked stream-stream join must produce exactly the pairs
    the equivalent batch range join produces (replaying finite data, no
    late drops at the horizon tested)."""
    from fintech_etl_spark.sources.tables import load_table
    from fintech_etl_spark.streaming.events import (
        join_purchase_after_signup_stream,
        read_events_stream,
    )

    q = (
        join_purchase_after_signup_stream(read_events_stream(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName("ss_join_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.purchase_id, r.signup_ts)
        for r in spark.sql("select * from ss_join_stream").collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("su"), F.col("ts").alias("sts")
    )
    want = {
        (r.purchase_id, r.sts)
        for r in p.join(
            s,
            (F.col("user_id") == F.col("su"))
            & (F.col("sts") <= F.col("pts"))
            & (F.col("sts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
        ).collect()
    }
    assert want, "smoke data should contain in-horizon purchase/signup pairs"
    assert got == want


def test_webhook_sink_per_doc_failure_isolation(spark, tmp_path):
    """A poster that blows up on one document must not stop delivery of
    the rest of its partition (per-doc isolation, at-most-once per try;
    retry belongs to the checkpoint layer)."""
    from fintech_etl_spark.operators.receipts import (
        build_receipts,
        to_webhook_payloads,
    )
    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

    fixture = tmp_path / "f.csv"
    fixture.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    payloads = to_webhook_payloads(
        build_receipts(read_invoice_csv(spark, str(fixture)), run_date=RUN_DATE)
    ).coalesce(1)  # one partition → both docs share a deliver() call

    outdir = tmp_path / "posts"
    outdir.mkdir()

    def flaky_poster(url, body, headers, _dir=str(outdir)):
        doc = json.loads(body)
        if doc["receiptId"] == "INV1":
            raise ConnectionError("boom")
        with open(os.path.join(_dir, f"{doc['receiptId']}.json"), "w") as f:
            f.write(body.decode())
        return 200

    WebhookSink(url="http://example.invalid/hook", poster=flaky_poster).send_batch(
        payloads
    )
    posted = sorted(os.path.basename(p) for p in glob.glob(str(outdir / "*.json")))
    assert posted == ["INV2.json"]  # INV1 failed, INV2 still delivered


def test_cli_query_command(spark, capsys, monkeypatch):
    """`cli query` lists the registry and runs a named query as JSONL."""
    from fintech_etl_spark import cli
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    assert cli.main(["query"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary\toracle" in out and "queries" in out

    assert cli.main(["query", "q1_pricing_summary", "--sf-dir", SF_SMOKE]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert lines and "l_returnflag" in lines[0]

    assert cli.main(["query", "nope_does_not_exist"]) == 2


def test_streaming_corpus_intake_incremental_dedup(spark, tmp_path):
    """The crawl-ingest loop: two JSONL drops with overlapping content
    (and an internal duplicate) must leave the corpus duplicate-free,
    and a re-run over the same landing dir must be a checkpointed no-op."""
    import json as _json

    from fintech_etl_spark.streaming.corpus import start_corpus_intake

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "crawl",
             "n_chars": len(text)}
        )

    # drop 1: three docs, two sharing identical text (internal dup)
    (landing / "batch1.jsonl").write_text(
        "\n".join([doc(1, "alpha beta"), doc(2, "gamma"), doc(3, "alpha beta")]) + "\n"
    )
    start_corpus_intake(spark, str(landing), corpus, fps, ckpt).awaitTermination()
    got = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert got == {1: "alpha beta", 2: "gamma"}  # min doc_id survives the dup

    # drop 2: one repeat of drop-1 content, one novel doc
    (landing / "batch2.jsonl").write_text(
        "\n".join([doc(4, "gamma"), doc(5, "delta")]) + "\n"
    )
    start_corpus_intake(spark, str(landing), corpus, fps, ckpt).awaitTermination()
    got = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert got == {1: "alpha beta", 2: "gamma", 5: "delta"}

    # re-run with nothing new: checkpoint makes it a no-op (no growth,
    # no reprocessing of already-consumed files)
    start_corpus_intake(spark, str(landing), corpus, fps, ckpt).awaitTermination()
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(fps).count() == 3


def test_streaming_near_dup_matches_batch_verdict(spark, tmp_path):
    """Batch-parity for the streaming NEAR tier: a document that is a
    near-duplicate (NOT byte-identical) of a batch-N corpus doc must be
    dropped in batch N+1, and the drop verdict must agree with the
    batch dedup_simhash operator (hamming ≤ 3 on the same md5-derived
    fingerprints). A genuinely different doc in the same drop
    survives."""
    import json as _json

    from fintech_etl_spark.operators.dedup import simhash_fingerprints
    from fintech_etl_spark.streaming.corpus import start_corpus_intake
    from pyspark.sql import functions as F

    base = " ".join(f"token{i}" for i in range(200))
    near = " ".join(f"token{i}" for i in range(199)) + " zzz"  # 1 token edit
    far = "completely different words entirely unrelated content here"

    # precondition = the BATCH verdict: base/near are within the radius,
    # base/far are not (same fingerprint fold dedup_simhash uses), AND
    # the CAPPED production tier — whose banding+cap the streaming gate
    # now shares — emits exactly the (1,2) pair
    from fintech_etl_spark.operators.dedup import (
        _SIMHASH_BUCKET_CAP,
        _simhash_band_pairs,
    )

    fp_df = simhash_fingerprints(
        spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string"
        ),
        F.split(F.lower(F.trim("text")), r"\s+"),
    )
    fps = {r.doc_id: r.sim for r in fp_df.collect()}
    assert bin(fps[1] ^ fps[2]).count("1") <= 3
    assert bin(fps[1] ^ fps[3]).count("1") > 3
    capped_pairs = {
        (r.doc_a, r.doc_b)
        for r in _simhash_band_pairs(fp_df, cap=_SIMHASH_BUCKET_CAP).collect()
    }
    assert capped_pairs == {(1, 2)}

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    fpdir = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "crawl",
             "n_chars": len(text)}
        )

    (landing / "batch1.jsonl").write_text(doc(1, base) + "\n")
    start_corpus_intake(spark, str(landing), corpus, fpdir, ckpt).awaitTermination()

    # batch 2: one near-dup of corpus content, one genuinely novel doc
    (landing / "batch2.jsonl").write_text(doc(10, near) + "\n" + doc(11, far) + "\n")
    start_corpus_intake(spark, str(landing), corpus, fpdir, ckpt).awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 11}  # near-dup dropped, novel doc kept

    # within-batch near tier: two fresh near-dups arriving TOGETHER
    # keep only the min doc_id
    newbase = " ".join(f"other{i}" for i in range(200))
    newnear = " ".join(f"other{i}" for i in range(199)) + " pp"
    (landing / "batch3.jsonl").write_text(
        doc(20, newbase) + "\n" + doc(21, newnear) + "\n"
    )
    start_corpus_intake(spark, str(landing), corpus, fpdir, ckpt).awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 11, 20}
    # fingerprint table carries both tiers for every survivor
    fprows = spark.read.parquet(fpdir)
    assert set(fprows.columns) == {"fp", "sim"}
    assert fprows.count() == 3


def test_streaming_corpus_bucket_cap_binds(spark, tmp_path):
    """The near-tier bucket cap actually gates pair generation: with
    bucket_cap=0 every band bucket is over-dense, so a near-duplicate
    (not byte-identical) of corpus content passes as novel — while the
    uncapped EXACT tier still drops a byte-identical re-ingest. The
    default cap (shared _SIMHASH_BUCKET_CAP=64) keeps the drop, pinned
    by test_streaming_near_dup_matches_batch_verdict."""
    import json as _json

    from fintech_etl_spark.streaming.corpus import start_corpus_intake

    base = " ".join(f"token{i}" for i in range(200))
    near = " ".join(f"token{i}" for i in range(199)) + " zzz"

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    fpdir = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "crawl",
             "n_chars": len(text)}
        )

    (landing / "b1.jsonl").write_text(doc(1, base) + "\n")
    start_corpus_intake(
        spark, str(landing), corpus, fpdir, ckpt, bucket_cap=0
    ).awaitTermination()
    # near-dup of corpus doc 1 + byte-identical copy of doc 1
    (landing / "b2.jsonl").write_text(doc(10, near) + "\n" + doc(11, base) + "\n")
    start_corpus_intake(
        spark, str(landing), corpus, fpdir, ckpt, bucket_cap=0
    ).awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    # cap=0 disables the near tier (10 survives); exact tier is
    # uncapped (11 is dropped)
    assert got == {1, 10}


def test_streaming_intake_redaction_and_quality_gate(spark, tmp_path):
    """The optional production stages: PII is redacted BEFORE
    fingerprinting (so two docs differing only in PII dedup as one and
    the corpus never stores the raw span), and the min_chars gate drops
    junk docs without poisoning the fingerprint table."""
    import json as _json

    from fintech_etl_spark.streaming.corpus import start_corpus_intake

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    fpdir = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return _json.dumps(
            {"doc_id": i, "text": text, "lang": "en", "source": "crawl",
             "n_chars": len(text)}
        )

    filler = " ".join(f"pad{i}" for i in range(30))
    (landing / "b1.jsonl").write_text(
        "\n".join(
            [
                doc(1, f"contact alice@example.com about {filler}"),
                # same doc, different PII — must dedup as ONE after redaction
                doc(2, f"contact bob@example.org about {filler}"),
                doc(3, "tiny"),  # fails the quality gate
                doc(4, f"clean document with no pii {filler}"),
            ]
        )
        + "\n"
    )
    start_corpus_intake(
        spark, str(landing), corpus, fpdir, ckpt, redact_pii=True, min_chars=20
    ).awaitTermination()
    got = {r.doc_id: r.text for r in spark.read.parquet(corpus).collect()}
    assert set(got) == {1, 4}
    assert got[1].startswith("contact <EMAIL> about ")
    assert "alice" not in got[1]
    # the rejected tiny doc left no fingerprint, so a longer revision
    # of it lands later
    (landing / "b2.jsonl").write_text(
        doc(30, f"tiny but now grown into a real document {filler}") + "\n"
    )
    start_corpus_intake(
        spark, str(landing), corpus, fpdir, ckpt, redact_pii=True, min_chars=20
    ).awaitTermination()
    assert 30 in {r.doc_id for r in spark.read.parquet(corpus).collect()}


def test_streaming_transitions_match_batch_markov(spark, tmp_path):
    """The stateful streaming transitions, replayed over the events
    table split into two time-half files (one micro-batch each), must
    reproduce the batch lag-window transition counts EXACTLY — the
    file-boundary transition per user only exists if keyed state
    carried the last event type across micro-batches."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fintech_etl_spark.operators.events_analytics import (
        events_markov_transitions,
    )
    from fintech_etl_spark.sources.tables import load_table
    from fintech_etl_spark.streaming.events import (
        markov_transitions_stateful,
        read_events_stream,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)").alias("c")
    ).collect()[0].c
    src = tmp_path / "src"
    src.mkdir()
    for i, half in enumerate(
        (
            ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) <= cut),
            ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) > cut),
        )
    ):
        pdf = half.orderBy("ts", "event_id").toPandas()
        path = str(src / f"events_{i}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf), path)
        # deterministic source ordering: batch i+1 strictly newer
        os.utime(path, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stream = read_events_stream(spark, str(src), glob="events_*.parquet")
    q = (
        markov_transitions_stateful(stream)
        .writeStream.format("memory")
        .queryName("transitions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got: dict[tuple[str, str], int] = {}
    for r in spark.sql("select * from transitions_stream").collect():
        got[(r.prev, r.cur)] = got.get((r.prev, r.cur), 0) + 1
    want = {
        (r.prev, r.cur): r.n
        for r in events_markov_transitions(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_webhook_retry_after_midbatch_failure_no_double_delivery(spark, tmp_path):
    """At-least-once + idempotency, PROVEN (round-5 verdict #6): the
    endpoint dies mid-batch (INV1 delivered, INV2 errors), the caller
    re-sends the whole batch — the checkpoint layer's at-least-once
    contract — and the receiver, deduping on document_id, materializes
    every document EXACTLY once even though INV1 crossed the wire
    twice. Also pins the sink's returned accounting at each attempt."""
    from fintech_etl_spark.operators.receipts import (
        build_receipts,
        to_webhook_payloads,
    )
    from fintech_etl_spark.sinks import WebhookSink
    from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

    fixture = tmp_path / "f.csv"
    fixture.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    payloads = to_webhook_payloads(
        build_receipts(read_invoice_csv(spark, str(fixture)), run_date=RUN_DATE)
    ).coalesce(1)  # one partition → both docs share one deliver() call

    wire_log = tmp_path / "wire.log"  # every POST that reached the endpoint
    store = tmp_path / "store"  # receiver state, keyed by document_id
    store.mkdir()
    outage_marker = tmp_path / "outage_done"

    def poster(url, body, headers, _log=str(wire_log), _store=str(store),
               _marker=str(outage_marker)):
        doc = json.loads(body)
        did = doc["document_id"]
        with open(_log, "a") as f:
            f.write(did + "\n")
        if doc["receiptId"] == "INV2" and not os.path.exists(_marker):
            # endpoint dies mid-batch, exactly once
            open(_marker, "w").close()
            raise ConnectionError("endpoint down mid-batch")
        # receiver-side idempotency: first delivery wins
        path = os.path.join(_store, did.replace("/", "_"))
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(body.decode())
        return 200

    sink = WebhookSink(url="http://example.invalid/hook", poster=poster)

    first = sink.send_batch(payloads)
    assert first == {"sent": 1, "failed": 1}  # INV1 ok, INV2 failed

    retry = sink.send_batch(payloads)  # caller re-sends the WHOLE batch
    assert retry == {"sent": 2, "failed": 0}

    # the wire saw 4 posts (INV1 twice — at-least-once means duplicates
    # on failure paths), with the SAME document_id both times
    wire = wire_log.read_text().splitlines()
    assert len(wire) == 4
    assert len(set(wire)) == 2  # deterministic idempotency keys

    # ...but the receiver materialized each document exactly once
    stored = sorted(os.listdir(store))
    assert len(stored) == 2
    receipt_ids = sorted(
        json.load(open(store / p))["receiptId"] for p in stored
    )
    assert receipt_ids == ["INV1", "INV2"]


def test_streaming_ann_matches_batch_lsh(spark, tmp_path):
    """Streaming ANN serving parity: the same query vectors fed as two
    JSONL micro-batch files against the prebuilt LSH index must emit
    exactly the neighbor sets the batch ann_lsh_bucketed computes —
    same buckets, same candidates, same rounded scores, same ranks."""
    from fintech_etl_spark.operators.similarity import (
        _N_QUERIES,
        ann_lsh_bucketed,
    )
    from fintech_etl_spark.sources.tables import load_table
    from fintech_etl_spark.streaming.ann import build_lsh_index, start_ann_queries

    sf = "/root/testdata/sf0.001"
    n_idx = build_lsh_index(spark, sf, str(tmp_path / "index"))
    n_corpus = load_table(spark, sf, "embeddings").count()
    assert n_idx == n_corpus * 12  # one index row per (vector, band)

    # queries = the batch tier's probe set, split across two files
    qrows = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    qdir = tmp_path / "queries"
    qdir.mkdir()
    for fno, chunk in enumerate((qrows[:5], qrows[5:])):
        with open(qdir / f"batch{fno}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {"query_id": r.query_id, "embedding": list(r.embedding)}
                    )
                    + "\n"
                )

    got = {}

    def collect_results(df, batch_id):
        for r in df.collect():
            got[(r.query_id, r.rank)] = (r.neighbor_id, r.cos)

    q = start_ann_queries(
        spark,
        str(qdir / "*.jsonl"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "index"),
        collect_results,
        max_files_per_trigger=1,  # force ≥2 micro-batches
    )
    q.awaitTermination()

    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in ann_lsh_bucketed(spark, sf).collect()
    }
    assert got == want
    assert len({qid for qid, _ in got}) == _N_QUERIES


def test_webhook_ledger_survives_driver_restart(spark, tmp_path):
    """Cross-restart idempotency (round-5 verdict #8): the endpoint
    dies mid-batch, the DRIVER dies too, and a brand-new sink instance
    (fresh process state, same lake) drains the outbox again. The
    lake's ledger must anti-join away the already-delivered document
    before any post — the wire never sees INV1 twice — and the retry
    delivers only the failure. Receiver-side dedupe is not relied on
    at all."""
    from fintech_etl_spark.operators.receipts import (
        build_receipts,
        to_webhook_payloads,
    )
    from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
    from fintech_etl_spark.sinks.receipts import drain_outbox
    from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

    fixture = tmp_path / "f.csv"
    fixture.write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    receipts = build_receipts(
        read_invoice_csv(spark, str(fixture)), run_date=RUN_DATE, per_file=True
    )
    lake = str(tmp_path / "lake")
    write_receipts_parquet(
        receipts, lake, file_key_col="source_file",
        # one partition → both docs share one deliver() call
        outbox=lambda r: to_webhook_payloads(r).coalesce(1),
    )

    wire_log = tmp_path / "wire.log"
    outage_marker = tmp_path / "outage_done"

    def poster(url, body, headers, _log=str(wire_log), _marker=str(outage_marker)):
        doc = json.loads(body)
        with open(_log, "a") as f:
            f.write(doc["document_id"] + "\n")
        if doc["receiptId"] == "INV2" and not os.path.exists(_marker):
            open(_marker, "w").close()
            raise ConnectionError("endpoint down mid-batch")
        return 200

    def counts(d):
        return {k: d[k] for k in ("sent", "failed", "skipped")}

    first = drain_outbox(
        spark, lake, WebhookSink(url="http://example.invalid/hook", poster=poster)
    )
    assert counts(first) == {"sent": 1, "failed": 1, "skipped": 0}

    # "driver restart": a NEW sink instance, nothing shared but the
    # lake on disk
    retry = drain_outbox(
        spark, lake, WebhookSink(url="http://example.invalid/hook", poster=poster)
    )
    assert counts(retry) == {"sent": 1, "failed": 0, "skipped": 1}

    # the wire saw exactly 3 posts: INV1 once (never re-sent — the
    # ledger, not the receiver, prevented it), INV2 twice
    wire = wire_log.read_text().splitlines()
    assert len(wire) == 3
    assert len(set(wire)) == 2

    # another batch staging the same documents is NOT deduped by the
    # first batch's ledger rows
    write_receipts_parquet(
        receipts.limit(0), lake, batch_key="again",
        outbox=lambda _r: to_webhook_payloads(receipts),
    )
    third = drain_outbox(
        spark, lake, WebhookSink(url="http://example.invalid/hook", poster=poster)
    )
    assert counts(third) == {"sent": 2, "failed": 0, "skipped": 0}


def test_streaming_pubsub_end_to_end(spark, tmp_path):
    """The reference's advertised "Processing → Pub/Sub" stage live:
    the checkpointed file intake hands each micro-batch to
    ``process_invoices`` with a Pub/Sub sink, which commits the
    receipts with their events in the lake's Pub/Sub outbox and drains
    it. A restart consumes only the new file AND republishes nothing
    (ledger), so the topic sees every receipt exactly once, keyed and
    ordered by source file."""
    from fintech_etl_spark.cli import process_invoices
    from fintech_etl_spark.sinks.pubsub import FilePubSubEmulator, PubSubSink
    from fintech_etl_spark.streaming import start_invoice_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    spool = str(tmp_path / "spool")
    lake = str(tmp_path / "lake")
    (landing / "a.csv").write_text(HEADER + "\n" + "\n".join(ROWS[:3]) + "\n")

    def start():
        # a fresh sink instance per incarnation
        sink = PubSubSink("receipt-processing", transport=FilePubSubEmulator(spool))
        return start_invoice_stream(
            spark, str(landing), ckpt,
            lambda paths: process_invoices(spark, paths, lake, sink),
        )

    _wait(start())
    reqs = FilePubSubEmulator(spool).read_requests("receipt-processing")
    first = [json.loads(m["data"])["receiptId"] for r in reqs for m in r]
    assert first == ["INV2"]

    # second file arrives; a restarted stream (same checkpoint, fresh
    # sink instance) publishes ONLY the new file's receipts
    (landing / "b.csv").write_text(HEADER + "\n" + "\n".join(ROWS[3:]) + "\n")
    _wait(start())
    reqs = FilePubSubEmulator(spool).read_requests("receipt-processing")
    msgs = [json.loads(m["data"])["receiptId"] for r in reqs for m in r]
    assert sorted(msgs) == ["INV1", "INV2"]  # each exactly once
    keys = {m["ordering_key"] for r in reqs for m in r}
    assert len(keys) == 2 and all(k.endswith(".csv") for k in keys)
    # the idempotency attribute rides every message
    assert all(
        m["attributes"]["document_id"] for r in reqs for m in r
    )


def _stream_cli(spark, capsys, monkeypatch, landing, tmp_path, spool):
    """Run ``cli stream --pubsub-topic receipt-processing`` over
    ``landing`` into ``<tmp_path>/lake``; return (exit code, the JSON
    lines it printed)."""
    from fintech_etl_spark import cli

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    rc = cli.main([
        "stream", "--landing", str(landing), "--lake", str(tmp_path / "lake"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--pubsub-topic", "receipt-processing", "--pubsub-spool", spool,
    ])
    out = capsys.readouterr().out
    assert "stream drained" in out
    return rc, [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def _numbers(obj):
    if isinstance(obj, dict):
        for v in obj.values():
            yield from _numbers(v)
    elif isinstance(obj, list):
        for v in obj:
            yield from _numbers(v)
    elif isinstance(obj, (int, float)) and not isinstance(obj, bool):
        yield obj


def test_cli_stream_with_pubsub(spark, tmp_path, capsys, monkeypatch):
    """CLI `stream --pubsub-topic --pubsub-spool`: one command runs the
    full advertised pipeline — landing CSVs → receipt lake AND Pub/Sub
    events through the lake's outbox — without cloud dependencies."""
    from fintech_etl_spark import cli
    from fintech_etl_spark.sinks import read_receipts
    from fintech_etl_spark.sinks.pubsub import FilePubSubEmulator

    landing = tmp_path / "raw"
    landing.mkdir()
    (landing / "a.csv").write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    lake = str(tmp_path / "lake")
    spool = str(tmp_path / "spool")

    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    rc = cli.main([
        "stream", "--landing", str(landing), "--lake", lake,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--pubsub-topic", "receipt-processing", "--pubsub-spool", spool,
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "stream drained" in out
    assert '"receipts": 2' in out
    reqs = FilePubSubEmulator(spool).read_requests("receipt-processing")
    msgs = sorted(
        json.loads(m["data"])["receiptId"] for r in reqs for m in r
    )
    assert msgs == ["INV1", "INV2"]
    assert sorted(
        r.receipt_id for r in read_receipts(spark, lake).collect()
    ) == ["INV1", "INV2"]


def test_cli_stream_checkpoint_loss_republishes_nothing(
    spark, tmp_path, capsys, monkeypatch
):
    """A lost checkpoint makes ``stream`` re-list every landed file.
    The re-run must add no lake row and publish no message (the file
    keys skip the commit, and the ids are the same documents'), and
    print no negative count."""
    import shutil

    from fintech_etl_spark.sinks import read_receipts
    from fintech_etl_spark.sinks.pubsub import FilePubSubEmulator

    landing = tmp_path / "raw"
    landing.mkdir()
    (landing / "a.csv").write_text(HEADER + "\n" + "\n".join(ROWS[:3]) + "\n")
    (landing / "b.csv").write_text(HEADER + "\n" + "\n".join(ROWS[3:]) + "\n")
    spool = str(tmp_path / "spool")

    def published():
        return sum(
            len(r) for r in FilePubSubEmulator(spool).read_requests("receipt-processing")
        )

    rc, lines = _stream_cli(spark, capsys, monkeypatch, landing, tmp_path, spool)
    assert rc == 0 and published() == 2
    rows = read_receipts(spark, str(tmp_path / "lake")).count()
    assert rows == 2
    shutil.rmtree(tmp_path / "ckpt")
    rc, lines = _stream_cli(spark, capsys, monkeypatch, landing, tmp_path, spool)
    assert rc == 0
    assert read_receipts(spark, str(tmp_path / "lake")).count() == rows
    assert published() == 2
    assert all(n >= 0 for n in _numbers(lines)), lines


def test_cli_stream_same_invoice_in_two_files_publishes_both(
    spark, tmp_path, capsys, monkeypatch
):
    """``a.csv`` and ``b.csv`` both hold INV9: two documents with two
    ids, both committed and both published, exit 0."""
    from fintech_etl_spark.sinks import read_receipts
    from fintech_etl_spark.sinks.pubsub import FilePubSubEmulator

    landing = tmp_path / "raw"
    landing.mkdir()
    inv9 = ROWS[0].replace("INV2,Acme Beer Co", "INV9,Acme", 1)
    (landing / "a.csv").write_text(HEADER + "\n" + inv9 + "\n")
    (landing / "b.csv").write_text(
        HEADER + "\n" + inv9.replace("INV9,Acme", "INV9,Beta", 1) + "\n"
    )
    spool = str(tmp_path / "spool")
    rc, _ = _stream_cli(spark, capsys, monkeypatch, landing, tmp_path, spool)
    assert rc == 0
    rows = read_receipts(spark, str(tmp_path / "lake")).collect()
    assert sorted(r.vendor for r in rows) == ["Acme", "Beta"]
    msgs = [
        m for r in FilePubSubEmulator(spool).read_requests("receipt-processing")
        for m in r
    ]
    assert sorted(json.loads(m["data"])["vendor"] for m in msgs) == ["Acme", "Beta"]
    assert len({m["attributes"]["document_id"] for m in msgs}) == 2


def test_cli_stream_binds_reordered_export_by_header(
    spark, tmp_path, capsys, monkeypatch
):
    """A reordered export landed alone under ``stream`` binds each
    column by its header name, so it gives the receipts the canonical
    file gives."""
    from fintech_etl_spark.sinks import read_receipts
    from tests.test_receipts_pipeline import _NAMES, _write_rows

    landing = tmp_path / "raw"
    landing.mkdir()
    _write_rows(landing / "r.csv", list(reversed(_NAMES)), ROWS)
    rc, _ = _stream_cli(
        spark, capsys, monkeypatch, landing, tmp_path, str(tmp_path / "spool")
    )
    assert rc == 0
    got = {
        r.receipt_id: (r.vendor, round(r.subtotal, 2), r.item_count)
        for r in read_receipts(spark, str(tmp_path / "lake")).collect()
    }
    assert got == {
        "INV1": ("Unknown Vendor", 260.0, 2),
        "INV2": ("Acme Beer Co", 230.0, 3),
    }


def test_cli_stream_retries_failed_publish_without_new_files(
    spark, tmp_path, capsys, monkeypatch
):
    """Publishes that fail during one ``stream`` run stay in the lake's
    Pub/Sub outbox, and the next run delivers them although no file is
    new — each document once, each ordering key in receiptId order."""
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks import pubsub

    landing = tmp_path / "raw"
    landing.mkdir()
    (landing / "a.csv").write_text(HEADER + "\n" + "\n".join(ROWS) + "\n")
    (landing / "b.csv").write_text(
        HEADER + "\n" + "\n".join(r.replace("INV1,", "INV7,", 1) for r in ROWS[3:]) + "\n"
    )
    spool = str(tmp_path / "spool")
    down = tmp_path / "broker_down"
    down.touch()
    real = pubsub.FilePubSubEmulator

    def flaky_emulator(root):
        def transport(topic, messages, _down=str(down)):
            if os.path.exists(_down):
                raise ConnectionError("broker down")
            return real(root)(topic, messages)

        return transport

    monkeypatch.setattr(pubsub, "FilePubSubEmulator", flaky_emulator)
    rc, lines = _stream_cli(spark, capsys, monkeypatch, landing, tmp_path, spool)
    assert rc == 0
    lake = str(tmp_path / "lake")
    assert len(mf.dataset_segments(lake, pubsub.PubSubSink.OUTBOX)) == 1
    assert real(spool).read_requests("receipt-processing") == []
    assert lines[-1]["drain"]["failed"] == 3

    down.unlink()  # the broker is back; no file is new
    rc, lines = _stream_cli(spark, capsys, monkeypatch, landing, tmp_path, spool)
    assert rc == 0
    assert not [l for l in lines if "stream_batch" in l]
    assert lines[-1]["drain"]["sent"] == 3
    assert mf.dataset_segments(lake, pubsub.PubSubSink.OUTBOX) == []
    msgs = [m for r in real(spool).read_requests("receipt-processing") for m in r]
    assert len({m["attributes"]["document_id"] for m in msgs}) == len(msgs) == 3
    by_key: dict[str, list[str]] = {}
    for m in msgs:
        by_key.setdefault(m["ordering_key"], []).append(
            json.loads(m["data"])["receiptId"]
        )
    assert sorted(by_key.values()) == [["INV1", "INV2"], ["INV7"]]


def test_streaming_ivf_pq_matches_batch(spark, tmp_path):
    """IVF-PQ serving parity: the persisted index (train once) served
    against the batch tier's probe set, split across two JSONL
    micro-batches, must reproduce ann_ivf_pq's rows BIT-FOR-BIT —
    same probes, same ADC sums, same refine, same ranks. Also pins the
    layout contract: codes and vectors reads are partition-PRUNED to
    the probed cells (asserted on the physical plan)."""
    from fintech_etl_spark.operators.similarity import _N_QUERIES, ann_ivf_pq
    from fintech_etl_spark.sources.tables import load_table
    from fintech_etl_spark.streaming.ann import (
        _read_ivf_dataset,
        build_ivf_pq_index,
        start_ivf_pq_queries,
    )

    sf = "/root/testdata/sf0.001"
    index = str(tmp_path / "index")
    counts = build_ivf_pq_index(spark, sf, index)
    n_corpus = load_table(spark, sf, "embeddings").count()
    assert counts["vectors"] == n_corpus
    assert counts["codes"] == n_corpus * 8  # one row per (vector, sub)
    assert counts["codebook_rows"] == 8 * 16

    # partition pruning: a probed-cells IN filter reads only those dirs
    pruned = _read_ivf_dataset(spark, index, "codes").filter(
        F.col("cell").isin([1, 2])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in line

    qrows = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    qdir = tmp_path / "queries"
    qdir.mkdir()
    for fno, chunk in enumerate((qrows[:5], qrows[5:])):
        with open(qdir / f"batch{fno}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {"query_id": r.query_id, "embedding": list(r.embedding)}
                    )
                    + "\n"
                )

    got = {}

    def collect_results(df, batch_id):
        for r in df.collect():
            got[(r.query_id, r.rank)] = (r.neighbor_id, r.approx_dist, r.dist)

    q = start_ivf_pq_queries(
        spark,
        str(qdir / "*.jsonl"),
        str(tmp_path / "ckpt"),
        index,
        collect_results,
    )
    _wait(q)

    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_dist, r.dist)
        for r in ann_ivf_pq(spark, sf).collect()
    }
    assert got == want


def test_lsh_index_probe_is_partition_pruned(spark, tmp_path):
    """The (band, bucket)-partitioned LSH index turns a probe's
    literal filters into a directory-level prune — and the serving
    path's EXACT encoded pair-set filter (band·NBUCKETS + bucket,
    r8 advice fix: the earlier band.isin × bucket.isin Cartesian
    relaxation read nearly every directory once a batch touched most
    buckets) still lands in PartitionFilters, reading ONLY the probed
    pairs."""
    from fintech_etl_spark.streaming.ann import (
        _N_PLANES,
        _read_lsh_index,
        build_lsh_index,
    )

    index = str(tmp_path / "index")
    build_lsh_index(spark, "/root/testdata/sf0.001", index)
    n_buckets = 1 << _N_PLANES
    pairs = [(0, 1), (3, 7)]
    keys = sorted(b * n_buckets + k for b, k in pairs)
    pruned = _read_lsh_index(spark, index).filter(
        (F.col("band") * n_buckets + F.col("bucket")).isin(keys)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "band" in line and "bucket" in line
    got = {
        (r.band, r.bucket)
        for r in pruned.select("band", "bucket").distinct().collect()
    }
    # exact: the Cartesian relaxation would also admit (0,7) and (3,1)
    assert got == set(pairs)


def test_cli_index_build_and_serve_ann(spark, tmp_path, capsys, monkeypatch):
    """CLI `index-build ivf-pq` + `serve-ann ivf-pq`: the train-once /
    probe-many serving shape is drivable end-to-end without Python —
    results written as parquet match the batch ann_ivf_pq tier
    bit-for-bit (r8 verdict #5)."""
    from fintech_etl_spark import cli
    from fintech_etl_spark.operators.similarity import (
        _KM_K,
        _N_QUERIES,
        ann_ivf_pq,
    )
    from fintech_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    index = str(tmp_path / "index")
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)

    # pin k to the batch tier's (the CLI default is auto ⌈N/512⌉)
    rc = cli.main([
        "index-build", "ivf-pq", "--sf-dir", sf, "--index", index,
        "--k-cells", str(_KM_K),
    ])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["vectors"] > 0 and built["index"] == index

    qdir = tmp_path / "queries"
    qdir.mkdir()
    qrows = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    with open(qdir / "q.jsonl", "w") as f:
        for r in qrows:
            f.write(
                json.dumps({"query_id": r.query_id, "embedding": list(r.embedding)})
                + "\n"
            )

    out = str(tmp_path / "results")
    rc = cli.main([
        "serve-ann", "ivf-pq", "--queries", str(qdir / "*.jsonl"),
        "--index", index, "--checkpoint", str(tmp_path / "ckpt"),
        "--out", out,
    ])
    assert rc == 0
    assert "queries drained" in capsys.readouterr().out
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_dist, r.dist)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_dist, r.dist)
        for r in ann_ivf_pq(spark, sf).collect()
    }
    assert got == want


def test_cli_index_build_and_serve_lsh(spark, tmp_path, capsys, monkeypatch):
    """CLI `index-build lsh` + `serve-ann lsh` smoke: builds the
    (band,bucket)-partitioned index and drains a query file to JSONL
    stdout with ranked rows."""
    from fintech_etl_spark import cli
    from fintech_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    index = str(tmp_path / "index")
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)

    rc = cli.main(["index-build", "lsh", "--sf-dir", sf, "--index", index])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["index_rows"] > 0

    qdir = tmp_path / "queries"
    qdir.mkdir()
    r = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    with open(qdir / "q.jsonl", "w") as f:
        f.write(json.dumps({"query_id": 0, "embedding": list(r.embedding)}) + "\n")

    rc = cli.main([
        "serve-ann", "lsh", "--queries", str(qdir / "*.jsonl"),
        "--index", index, "--checkpoint", str(tmp_path / "ckpt"),
        "--top-k", "5",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    rows = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    assert rows and all(r2["query_id"] == 0 for r2 in rows)
    assert [r2["rank"] for r2 in rows] == list(range(1, len(rows) + 1))
