"""Thin service layer over the engine — the reference's API surface
(SURVEY §2.7) as a CLI, with the HTTP plumbing deliberately out of the
query engine (the HTTP twin lives in fintech_etl_spark/service.py and
delegates to the same functions).

Commands mirror the reference endpoints:

  ingest        POST /ingest            — land a CSV + process it
  process-csv   POST /process-csv       — process one landed/raw CSV
  backfill      POST /process-all-pending — batch-process a directory
  list-pending  GET  /list-pending      — list unprocessed objects
  stream        (new) watch a landing dir with checkpointed streaming
  query         (new) run any registered analytics query by name
                (`query` alone lists all 208 with their oracle status)

Every intake command, and every HTTP intake endpoint, runs one
pipeline (``process_invoices``): each batch is one manifest commit to
the receipt lake, exactly-once per source file; with ``--webhook`` the
notifications ride the same commit as an outbox, drained through the
lake's delivery ledger.

Usage:
  python -m fintech_etl_spark.cli backfill --landing /path/raw \\
      --lake /path/receipts [--webhook http://...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time

from pyspark.sql import SparkSession

from fintech_etl_spark.operators.receipts import build_receipts, to_webhook_payloads
from fintech_etl_spark.session import build_session
from fintech_etl_spark.sinks import WebhookSink, land_raw_files, write_receipts_parquet
from fintech_etl_spark.sinks.receipts import drain_webhook_outbox
from fintech_etl_spark.sources.invoice_csv import read_invoice_csv


def process_invoices(
    spark: SparkSession,
    csv_path: str | list[str],
    lake: str | None,
    webhook: str | None,
    gmail_id: str | None = None,
    poster=None,
) -> int:
    """The one ingest pipeline behind the CLI and the HTTP service:
    build receipts from the CSV(s), commit them to the lake, notify.
    Returns the number of receipts built.

    Exactly-once is PER SOURCE FILE (``file_key_col``), not per batch
    digest: a re-run over the same files, a grown glob or a re-batched
    replay appends only the genuinely new files' rows. With a webhook
    the payloads (original document_ids pinned) ride the SAME commit
    as the data — the transactional OUTBOX — and are then drained
    through ``<lake>/_webhook_ledger``, so a network blip or a crash
    between commit and send is retried by the next run's drain, and a
    replay stages and sends nothing. Without a lake there is nothing
    to anchor an outbox to: the payloads are posted directly, with no
    ledger. ``poster`` is the webhook sink's injectable transport."""
    receipts = build_receipts(
        read_invoice_csv(spark, csv_path),
        gcs_bucket=os.environ.get("LANDING_BUCKET", ""),
        gmail_id=gmail_id,
        run_date=dt.date.today(),
        run_ts=int(time.time()),
        # a glob spans many files: keep per-file receipt identity
        per_file=True,
    )
    receipts.persist()
    n = receipts.count()
    if lake:
        write_receipts_parquet(
            receipts,
            lake,
            file_key_col="source_file",
            outbox=to_webhook_payloads if webhook else None,
        )
        if webhook:
            sink = WebhookSink(
                url=webhook,
                poster=poster,
                ledger_path=os.path.join(lake, "_webhook_ledger"),
            )
            stats = drain_webhook_outbox(spark, lake, sink)
            if stats["failed"]:
                print(json.dumps({"webhook_outbox_pending": stats}))
    elif webhook:
        WebhookSink(url=webhook, poster=poster).send_batch(
            to_webhook_payloads(receipts)
        )
    receipts.unpersist()
    return n


def _pq_cand_value(s: str):
    """argparse type for the pq_cand serving lever: an integer
    shortlist depth, or the literal 'exact' (exact-refine mode — no
    codes read, no ADC stage)."""
    return "exact" if s == "exact" else int(s)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="fintech-etl-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="land one CSV file, then process it")
    ing.add_argument("csv")
    ing.add_argument("--landing", required=True)
    ing.add_argument("--lake")
    ing.add_argument("--webhook")
    ing.add_argument("--gmail-id", default=None)

    pc = sub.add_parser("process-csv", help="process one CSV (no landing)")
    pc.add_argument("csv")
    pc.add_argument("--lake")
    pc.add_argument("--webhook")

    bf = sub.add_parser("backfill", help="process every CSV under a directory")
    bf.add_argument("--landing", required=True)
    bf.add_argument("--lake")
    bf.add_argument("--webhook")

    lp = sub.add_parser("list-pending", help="list CSV objects in the landing dir")
    lp.add_argument("--landing", required=True)

    st = sub.add_parser("stream", help="checkpointed streaming intake")
    st.add_argument("--landing", required=True)
    st.add_argument("--lake", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument(
        "--pubsub-topic",
        help="also publish receipt events to this Pub/Sub topic "
        "(ledger-gated; the reference README's receipt-processing stage)",
    )
    st.add_argument(
        "--pubsub-spool",
        help="spool-directory emulator transport instead of the real "
        "client (local/dev; the real client needs google-cloud-pubsub)",
    )
    st.add_argument(
        "--pubsub-ledger",
        help="publish-ledger parquet path (default: <checkpoint>_pubsub_ledger)",
    )

    ib = sub.add_parser(
        "index-build",
        help="train + materialize a servable ANN index (train once, "
        "probe many — the amortized production shape)",
    )
    ib.add_argument("kind", choices=("ivf-pq", "lsh"))
    ib.add_argument("--sf-dir", required=True, help="corpus tables dir")
    ib.add_argument("--index", required=True, help="output index path")
    ib.add_argument(
        "--k-cells",
        type=int,
        help="IVF coarse cells (default: auto ⌈N/512⌉ so probe cost "
        "stays flat as the corpus grows)",
    )

    ia = sub.add_parser(
        "index-append",
        help="assign a new vector batch into an existing ANN index "
        "(frozen quantizers — the append-not-rebuild production "
        "cadence; cost scales with the batch, not the corpus)",
    )
    ia.add_argument("kind", choices=("ivf-pq", "lsh"))
    ia.add_argument("--index", required=True, help="existing index path")
    ia.add_argument(
        "--vectors",
        required=True,
        help="parquet of the NEW batch (vec_id, embedding) — ids must "
        "not already be indexed",
    )

    iv = sub.add_parser(
        "ingest-vectors",
        help="checkpointed streaming ingest: watch a JSONL glob of new "
        "vectors and append each micro-batch into an existing index. "
        "Crash-replay dedup is keyed per SOURCE FILE: exactly-once "
        "(file keys commit atomically with the appended segment)",
    )
    iv.add_argument("kind", choices=("ivf-pq", "lsh"))
    iv.add_argument("--vectors-glob", required=True)
    iv.add_argument("--index", required=True)
    iv.add_argument("--checkpoint", required=True)

    ic = sub.add_parser(
        "index-compact",
        help="compact an index's partition dirs after appends (row "
        "multiset preserved): one atomic snapshot-swap commit, safe "
        "to run WHILE serving",
    )
    ic.add_argument("kind", choices=("ivf-pq", "lsh"))
    ic.add_argument("--index", required=True)
    ic.add_argument(
        "--files-per-partition",
        type=int,
        default=1,
        help="target files per partition dir (default 1; raise for "
        "partitions too large for a single file)",
    )
    ic.add_argument(
        "--vacuum-keep",
        type=int,
        help="after the compaction, garbage-collect "
        "segments not referenced by the newest N manifest versions "
        "(keep >= 2 while any scan may be in flight — the Delta "
        "VACUUM retention rule); omit to keep everything",
    )

    sa = sub.add_parser(
        "serve-ann",
        help="drain JSONL query files ({query_id, embedding}) against a "
        "prebuilt index; availableNow trigger (cron-style serving)",
    )
    sa.add_argument("kind", choices=("ivf-pq", "lsh"))
    sa.add_argument("--queries", required=True, help="query-file glob")
    sa.add_argument("--index", required=True)
    sa.add_argument("--checkpoint", required=True)
    sa.add_argument(
        "--top-k",
        type=int,
        help="results per query (default: the library serving default, "
        "which matches the batch ANN tiers)",
    )
    sa.add_argument(
        "--out", help="append results as parquet here instead of JSONL stdout"
    )
    sa.add_argument(
        "--n-probe",
        type=int,
        help="IVF cells probed per query (ivf-pq only; default: the "
        "library serving default — calibrate with index-calibrate)",
    )
    sa.add_argument(
        "--pq-cand",
        type=_pq_cand_value,
        help="ADC shortlist depth the exact re-rank refines (ivf-pq "
        "only; default: the batch tier's 50 — on noisy corpora the "
        "binding recall lever; calibrate with index-calibrate "
        "--pq-cands), or 'exact' to skip the codes/ADC stage entirely "
        "and exact-refine every probed cell (the cheapest plan when "
        "the calibrated depth meets or exceeds the probe fan-out)",
    )

    ical = sub.add_parser(
        "index-calibrate",
        help="sweep n_probe over a built IVF-PQ index and report the "
        "recall@k vs probe fan-out curve on a query sample (exact "
        "ground truth by the serving metric); with --target-recall, "
        "also print the minimal n_probe reaching it (auto_n_probe)",
    )
    ical.add_argument("--index", required=True)
    ical.add_argument(
        "--sf-dir",
        required=True,
        help="table dir whose embeddings supply the query sample",
    )
    ical.add_argument(
        "--queries",
        type=int,
        default=50,
        help="query-sample size (lowest vec_ids; the sweep is "
        "O(sample x corpus) for the exact ground truth)",
    )
    ical.add_argument(
        "--n-probes", default="1,2,3,4,6,8",
        help="comma-separated probe widths to sweep",
    )
    ical.add_argument(
        "--pq-cands",
        help="ALSO sweep the ADC shortlist depth (comma-separated, at "
        "--n-probe-fixed cells) — the r13 attribution's second lever; "
        "with --target-recall, auto_pq_cand picks the minimal depth",
    )
    ical.add_argument(
        "--n-probe-fixed",
        type=int,
        help="probe width the --pq-cands sweep holds fixed (default: "
        "the library serving default)",
    )
    ical.add_argument(
        "--grid",
        action="store_true",
        help="jointly sweep --n-probes x --pq-cands (the levers "
        "interact: wider probes dilute a fixed shortlist) and, with "
        "--target-recall, print the CHEAPEST config reaching it "
        "under the documented cost model (pick_serving_config)",
    )
    ical.add_argument("--target-recall", type=float)
    ical.add_argument(
        "--at-k", type=int, default=5, help="recall@k the target applies to"
    )

    lb = sub.add_parser(
        "layout-build",
        help="z-order-cluster a table into a layout directory "
        "(Delta/Iceberg OPTIMIZE ZORDER shape: box predicates on any "
        "interleaved key prune most files by footer stats)",
    )
    lb.add_argument("table", help="table name under --sf-dir (e.g. lineitem)")
    lb.add_argument("--sf-dir", required=True)
    lb.add_argument("--path", required=True, help="output layout dir")
    lb.add_argument(
        "--cols", required=True, help="comma-separated z-order key columns"
    )
    lb.add_argument("--num-files", type=int, default=32)

    la = sub.add_parser(
        "layout-append",
        help="cluster a NEW row batch (parquet) against an existing "
        "layout's frozen curve bounds and append it — cost follows "
        "the batch, never the corpus",
    )
    la.add_argument("--path", required=True, help="existing layout dir")
    la.add_argument("--rows", required=True, help="parquet of the new batch")
    la.add_argument("--num-files", type=int, default=4)

    lc = sub.add_parser(
        "layout-compact",
        help="re-cluster a manifest-backed layout from itself "
        "(remove+add commit: concurrent appends are carried forward; "
        "bounds re-freeze from the data unless --keep-bounds)",
    )
    lc.add_argument("--path", required=True)
    lc.add_argument("--num-files", type=int, default=32)
    lc.add_argument(
        "--keep-bounds",
        action="store_true",
        help="keep the existing curve bounds instead of re-freezing",
    )
    lc.add_argument(
        "--max-segments",
        type=int,
        help="incremental compaction: fold only the N smallest live "
        "segments this run (bounds never re-freeze on a partial "
        "compaction) — flat per-run cost on a fragmented layout",
    )
    lc.add_argument(
        "--vacuum-keep",
        type=int,
        help="garbage-collect segments not referenced by the newest N "
        "manifests (keep >= 2 while any scan may be in flight)",
    )

    lq = sub.add_parser(
        "layout-query",
        help="box query against a z-order layout with every pruning "
        "layer engaged (manifest segment stats, then parquet footer "
        "stats); prints the kept-segment count and the matching rows",
    )
    lq.add_argument("--path", required=True)
    lq.add_argument(
        "--box",
        required=True,
        help='comma-separated col=lo:hi predicates, e.g. '
        '"l_partkey=100:200,l_suppkey=10:20"',
    )
    lq.add_argument("--limit", type=int, default=20, help="rows to print")
    lq.add_argument("--out", help="write full result as parquet instead")

    lr = sub.add_parser(
        "ingest-rows",
        help="checkpointed streaming z-order ingest: watch a JSONL "
        "glob of row files and cluster each micro-batch into a "
        "manifest-backed layout — exactly-once per source file (the "
        "segment and the file keys land in one atomic commit)",
    )
    lr.add_argument("--rows-glob", required=True)
    lr.add_argument("--path", required=True)
    lr.add_argument("--checkpoint", required=True)
    lr.add_argument(
        "--schema",
        required=True,
        help='DDL schema of the JSONL rows, e.g. "rowid long, x long"',
    )
    lr.add_argument("--num-files", type=int, default=4)
    lr.add_argument(
        "--compact-when-drift-above",
        type=float,
        help="after each commit, poll the manifest-only drift metric "
        "and, when the live keys have outgrown the frozen curve by "
        "this fraction (e.g. 0.5), commit a compaction-due marker — "
        "the ingest keeps appending; run the rewrite from a "
        "`layout-maintain` cron (signal-and-handoff: maintenance is "
        "not the writer's job)",
    )

    ld = sub.add_parser(
        "layout-drift",
        help="bound-drift report for a manifest-backed z-order layout "
        "(per-column frozen vs actual bounds and the out-of-bounds "
        "fraction, from ONE pointer read — zero data scanned): the "
        "signal a compaction cron polls; a rising drift means appends "
        "are clamping to the curve's edge cells and a full "
        "layout-compact (bounds re-frozen) is due. Exit 1 when drift "
        "exceeds --max-drift (default: report only).",
    )
    ld.add_argument("--path", required=True)
    ld.add_argument(
        "--max-drift",
        type=float,
        help="exit 1 if the worst column's out-of-bounds fraction "
        "exceeds this (cron alert threshold)",
    )

    lm = sub.add_parser(
        "layout-maintain",
        help="the maintenance half of the drift handoff: if the layout "
        "carries a compaction-due marker (committed by a streaming "
        "ingest whose drift poll tripped), run the full re-freezing "
        "layout compaction — the marker clears atomically with the "
        "rewrite commit. Nothing due = no-op; safe to cron at any "
        "frequency. With --when-drift-above it also polls drift "
        "itself (for layouts written by non-marking clients).",
    )
    lm.add_argument("--path", required=True)
    lm.add_argument("--num-files", type=int, default=32)
    lm.add_argument(
        "--when-drift-above",
        type=float,
        help="also compact when the live drift exceeds this, even "
        "without a marker",
    )
    lm.add_argument(
        "--vacuum-keep",
        type=int,
        help="afterwards, garbage-collect superseded segments past "
        "the newest N manifests",
    )

    lkc = sub.add_parser(
        "lake-compact",
        help="fold a fragmented receipt lake into one "
        "month-partitioned segment (rewrite commit: a concurrent "
        "ingest is carried forward); month stats re-ride the commit "
        "so manifest pruning survives",
    )
    lkc.add_argument("--path", required=True)
    lkc.add_argument("--files-per-partition", type=int, default=1)
    lkc.add_argument(
        "--when-segments-above",
        type=int,
        help="cron mode: compact only when the live manifest names "
        "more than N segments (one pointer read decides — the lake "
        "twin of layout-maintain's drift trigger); otherwise no-op, "
        "safe at any frequency",
    )
    lkc.add_argument(
        "--vacuum-keep",
        type=int,
        help="afterwards, garbage-collect segments not referenced by "
        "the newest N manifests (keep >= 2 while scans may be in "
        "flight)",
    )

    mnt = sub.add_parser(
        "maintain",
        help="ONE cron verb for every manifest-backed dataset: detects "
        "whether the root is a z-order layout, a receipt lake, or an "
        "ANN index from its manifest, evaluates that client's due "
        "condition (layout: compaction-due marker / --when-drift-above "
        "poll; lake+indexes: --when-segments-above fragmentation), and "
        "runs only due work — nothing due is a no-op, safe at any "
        "frequency",
    )
    mnt.add_argument("path", help="manifest-backed dataset root")
    mnt.add_argument(
        "--when-segments-above",
        type=int,
        default=16,
        help="fragmentation trigger for lakes and indexes (default 16)",
    )
    mnt.add_argument(
        "--when-drift-above",
        type=float,
        help="layout-only: also compact when live drift exceeds this "
        "(for layouts written by non-marking clients)",
    )
    mnt.add_argument("--num-files", type=int, default=32)
    mnt.add_argument("--files-per-partition", type=int, default=1)
    mnt.add_argument(
        "--vacuum-keep",
        type=int,
        help="after work ran, garbage-collect segments not referenced "
        "by the newest N manifests (keep >= 2 while scans may be in "
        "flight)",
    )
    mnt.add_argument(
        "--webhook-url",
        help="lake only: also drain the lake's pending webhook outbox "
        "through the standard delivery ledger (<path>/_webhook_ledger) "
        "— so a quiesced lake's staged notifications are delivered by "
        "the same cron that compacts it, instead of waiting for the "
        "next batch run; delivered ledger partitions are swept in the "
        "same pass",
    )

    mv = sub.add_parser(
        "manifest-vacuum",
        help="garbage-collect any manifest-backed dataset (ANN index, "
        "z-order layout, receipt lake): drop segments only the "
        "manifests OLDER than the newest N reference, plus staged "
        "orphans past the grace window — bounds the time-travel "
        "window, reclaims disk",
    )
    mv.add_argument("--path", required=True)
    mv.add_argument("--keep", type=int, required=True)

    mr = sub.add_parser(
        "manifest-restore",
        help="roll a manifest-backed dataset back to a retained "
        "version (Delta RESTORE shape): a new commit re-references "
        "the target's segments, meta, stats, and ingest history — "
        "history stays linear; the undone versions stay readable "
        "until vacuum",
    )
    mr.add_argument("--path", required=True)
    mr.add_argument("--version", type=int, required=True)

    fk = sub.add_parser(
        "manifest-fsck",
        help="read-only consistency check of a manifest-backed dataset "
        "(ANN index or z-order layout): pointer resolves, live "
        "segments exist, stats name only live segments, ingest "
        "checkpoint buckets present; counts superseded/orphan "
        "segments (vacuum debt, not errors). Exit 1 on errors.",
    )
    fk.add_argument("--path", required=True)

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("name", nargs="?", help="query name (omit to list all)")
    q.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    q.add_argument("--limit", type=int, default=20, help="rows to print (JSONL)")
    q.add_argument("--out", help="write full result as parquet instead")

    args = p.parse_args(argv)
    spark = build_session("fintech_etl_cli", master=args.master)

    if args.cmd == "ingest":
        with open(args.csv, "rb") as f:
            body = f.read()
        land_raw_files(
            spark,
            [
                (
                    body,
                    dt.date.today().isoformat(),
                    args.gmail_id or "cli",
                    os.path.basename(args.csv),
                )
            ],
            os.path.join(args.landing, "_manifest"),
        )
        n = process_invoices(
            spark, args.csv, args.lake, args.webhook, args.gmail_id
        )
        print(f"ingested 1 file, {n} receipts")
    elif args.cmd == "process-csv":
        n = process_invoices(spark, args.csv, args.lake, args.webhook)
        print(f"{n} receipts")
    elif args.cmd == "backfill":
        csvs = os.path.join(args.landing, "*.csv")
        n = process_invoices(spark, csvs, args.lake, args.webhook)
        print(f"backfilled {n} receipts")
    elif args.cmd == "list-pending":
        from fintech_etl_spark.sources.tables import list_objects

        rows = (
            list_objects(spark, os.path.join(args.landing, "*.csv"))
            .orderBy("path")
            .collect()
        )
        for r in rows:
            print(f"{r.path}\t{r.length}")
        print(f"{len(rows)} pending")
    elif args.cmd == "stream":
        from fintech_etl_spark.streaming import start_invoice_stream

        sink = None
        ledger = None
        if args.pubsub_topic:
            from fintech_etl_spark.sinks.pubsub import (
                FilePubSubEmulator,
                PubSubSink,
            )

            transport = (
                FilePubSubEmulator(args.pubsub_spool)
                if args.pubsub_spool
                else None  # None → real client, loud if not installed
            )
            sink = PubSubSink(args.pubsub_topic, transport=transport)
            ledger = args.pubsub_ledger or args.checkpoint + "_pubsub_ledger"

        def on_receipts(receipts, batch_id):
            # exactly-once PER SOURCE FILE, as in process_invoices: a
            # checkpoint-loss replay that re-lists and RE-GROUPS the
            # same files into different micro-batches still skips
            # every processed file
            write_receipts_parquet(
                receipts, args.lake, file_key_col="source_file"
            )
            if sink is not None:
                from fintech_etl_spark.operators.receipts import to_pubsub_events

                stats = sink.publish_with_ledger(
                    to_pubsub_events(receipts), batch_id, ledger,
                    order_by=["receipt_id"],
                )
                print(json.dumps({"pubsub": {"batch_id": batch_id, **stats}}))

        q = start_invoice_stream(
            spark, args.landing, args.checkpoint, on_receipts,
            run_date=dt.date.today(), run_ts=int(time.time()),
        )
        q.awaitTermination()
        print("stream drained")
    elif args.cmd == "index-build":
        if args.kind == "ivf-pq":
            from fintech_etl_spark.streaming.ann import build_ivf_pq_index

            counts = build_ivf_pq_index(
                spark, args.sf_dir, args.index, k=args.k_cells
            )
            print(json.dumps({"index": args.index, **counts}))
        else:
            from fintech_etl_spark.streaming.ann import build_lsh_index

            n = build_lsh_index(spark, args.sf_dir, args.index)
            print(json.dumps({"index": args.index, "index_rows": n}))
    elif args.cmd == "index-append":
        new_vecs = spark.read.parquet(args.vectors)
        if args.kind == "ivf-pq":
            from fintech_etl_spark.streaming.ann import append_ivf_pq_index

            counts = append_ivf_pq_index(spark, new_vecs, args.index)
            print(json.dumps({"index": args.index, **counts}))
        else:
            from fintech_etl_spark.streaming.ann import append_lsh_index

            n = append_lsh_index(new_vecs, args.index)
            print(json.dumps({"index": args.index, "appended_rows": n}))
    elif args.cmd == "ingest-vectors":
        from fintech_etl_spark.streaming.ann import start_vector_ingest

        def on_batch(batch_id: int, n: int) -> None:
            print(json.dumps({"batch_id": batch_id, "appended": n}))

        q = start_vector_ingest(
            spark,
            args.vectors_glob,
            args.checkpoint,
            args.index,
            family=args.kind,
            on_batch=on_batch,
        )
        q.awaitTermination()
        print("ingest drained")
    elif args.cmd == "index-compact":
        from fintech_etl_spark.sinks.maintenance import (
            compact_ivf_pq_index,
            compact_lsh_index,
        )

        fn = compact_ivf_pq_index if args.kind == "ivf-pq" else compact_lsh_index
        stats = fn(
            spark, args.index, files_per_partition=args.files_per_partition
        )
        if args.vacuum_keep is not None:
            from fintech_etl_spark.sinks import manifest as mfst

            stats = {
                **stats,
                "vacuum": mfst.vacuum(args.index, keep_last=args.vacuum_keep),
            }
        print(json.dumps({"index": args.index, **stats}))
    elif args.cmd == "layout-build":
        from fintech_etl_spark.operators.layout import zorder_write
        from fintech_etl_spark.sources.tables import load_table

        n = zorder_write(
            load_table(spark, args.sf_dir, args.table),
            [c.strip() for c in args.cols.split(",") if c.strip()],
            args.path,
            num_files=args.num_files,
        )
        print(json.dumps({"layout": args.path, "rows": n}))
    elif args.cmd == "layout-append":
        from fintech_etl_spark.operators.layout import zorder_append

        n = zorder_append(
            spark.read.parquet(args.rows), args.path, num_files=args.num_files
        )
        print(json.dumps({"layout": args.path, "appended_rows": n}))
    elif args.cmd == "layout-compact":
        from fintech_etl_spark.operators.layout import zorder_compact

        n = zorder_compact(
            spark,
            args.path,
            num_files=args.num_files,
            refresh_bounds=not args.keep_bounds,
            max_segments=args.max_segments,
        )
        stats = {"layout": args.path, "rows": n}
        if args.vacuum_keep is not None:
            from fintech_etl_spark.sinks import manifest as mfst

            stats["vacuum"] = mfst.vacuum(args.path, keep_last=args.vacuum_keep)
        print(json.dumps(stats))
    elif args.cmd == "layout-drift":
        from fintech_etl_spark.operators.layout import zorder_drift

        report = zorder_drift(args.path)
        print(json.dumps(report))
        if args.max_drift is not None and report["drift"] > args.max_drift:
            return 1
    elif args.cmd == "layout-maintain":
        from fintech_etl_spark.operators.layout import (
            mark_compaction_due,
            run_due_compaction,
            zorder_drift,
        )

        res = run_due_compaction(spark, args.path, num_files=args.num_files)
        out = {"layout": args.path, "compacted": res is not None}
        if res is not None:
            out.update(res)
        elif args.when_drift_above is not None:
            d = zorder_drift(args.path)["drift"]
            if d > args.when_drift_above:
                # mark + run the SAME loop the marker path uses: it
                # retries StaleSegmentError (a concurrent append/
                # compactor racing this cron) and re-measures drift
                # after the rewrite instead of assuming it resolved —
                # a bare zorder_compact here would crash the "safe to
                # cron" command on the first race (r13 review catch)
                mark_compaction_due(
                    args.path, drift=d, threshold=args.when_drift_above
                )
                res = run_due_compaction(
                    spark, args.path, num_files=args.num_files
                )
                if res is not None:
                    out["compacted"] = True
                    out.update(res)
        if out["compacted"] and args.vacuum_keep is not None:
            from fintech_etl_spark.sinks import manifest as mfst

            out["vacuum"] = mfst.vacuum(args.path, keep_last=args.vacuum_keep)
        print(json.dumps(out))
    elif args.cmd == "lake-compact":
        from fintech_etl_spark.sinks import manifest as mfst
        from fintech_etl_spark.sinks.receipts import compact_receipts_lake

        if not mfst.is_transactional(args.path):
            print(
                f"lake-compact: {args.path!r} is not a receipt lake (no "
                "_manifests/_current pointer) — a plain parquet "
                "directory has no segment list to fold"
            )
            return 2
        if args.when_segments_above is not None:
            n_segs = len(mfst.dataset_segments(args.path, "receipts"))
            if n_segs <= args.when_segments_above:
                print(
                    json.dumps(
                        {
                            "lake": args.path,
                            "compacted": False,
                            "segments": n_segs,
                            "threshold": args.when_segments_above,
                        }
                    )
                )
                return 0
        stats = compact_receipts_lake(
            spark, args.path, files_per_partition=args.files_per_partition
        )
        out = {"lake": args.path, **stats}
        if args.vacuum_keep is not None:
            from fintech_etl_spark.sinks import manifest as mfst

            out["vacuum"] = mfst.vacuum(args.path, keep_last=args.vacuum_keep)
        print(json.dumps(out))
    elif args.cmd == "maintain":
        from fintech_etl_spark.sinks.maintenance import maintain

        out = maintain(
            spark,
            args.path,
            when_segments_above=args.when_segments_above,
            when_drift_above=args.when_drift_above,
            num_files=args.num_files,
            files_per_partition=args.files_per_partition,
            vacuum_keep=args.vacuum_keep,
            webhook_url=args.webhook_url,
        )
        print(json.dumps({"path": args.path, **out}))
    elif args.cmd == "manifest-vacuum":
        from fintech_etl_spark.sinks import manifest as mfst

        print(json.dumps(mfst.vacuum(args.path, keep_last=args.keep)))
    elif args.cmd == "manifest-restore":
        from fintech_etl_spark.sinks import manifest as mfst

        m = mfst.restore(args.path, args.version)
        print(
            json.dumps(
                {
                    "restored_from": args.version,
                    "new_version": m["version"],
                    "datasets": {
                        k: len(v) for k, v in m["datasets"].items()
                    },
                }
            )
        )
    elif args.cmd == "manifest-fsck":
        from fintech_etl_spark.sinks import manifest as mfst

        report = mfst.fsck(args.path)
        print(json.dumps(report))
        return 0 if report["ok"] else 1
    elif args.cmd == "layout-query":
        from fintech_etl_spark.operators.layout import (
            prune_segments,
            read_zorder_box,
        )

        box: dict[str, tuple[int, int]] = {}
        for part in args.box.split(","):
            col, _, rng = part.strip().partition("=")
            lo, _, hi = rng.partition(":")
            box[col] = (int(lo), int(hi))
        kept, total = prune_segments(args.path, box)
        print(json.dumps({"segments_total": total, "segments_kept": len(kept)}))
        df = read_zorder_box(spark, args.path, box)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count()}))
        else:
            for r in df.limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
    elif args.cmd == "ingest-rows":
        from fintech_etl_spark.streaming.layout import start_zorder_ingest

        def on_rows_batch(batch_id: int, n: int) -> None:
            print(json.dumps({"batch_id": batch_id, "appended": n}))

        start_zorder_ingest(
            spark,
            args.rows_glob,
            args.checkpoint,
            args.path,
            args.schema,
            num_files=args.num_files,
            on_batch=on_rows_batch,
            compact_when_drift_above=args.compact_when_drift_above,
        ).awaitTermination()
        print("ingest drained")
    elif args.cmd == "serve-ann":
        from fintech_etl_spark.streaming.ann import (
            start_ann_queries,
            start_ivf_pq_queries,
        )

        def on_ann_results(df, batch_id):
            if args.out:
                df.write.mode("append").parquet(args.out)
                print(
                    json.dumps(
                        {"batch_id": batch_id, "rows": df.count(), "out": args.out}
                    )
                )
            else:
                for line in df.toJSON().collect():
                    print(line)

        starter = (
            start_ivf_pq_queries if args.kind == "ivf-pq" else start_ann_queries
        )
        kw = {} if args.top_k is None else {"top_k": args.top_k}
        if args.n_probe is not None:
            if args.kind != "ivf-pq":
                print("--n-probe applies to ivf-pq serving only")
                return 2
            kw["n_probe"] = args.n_probe
        if args.pq_cand is not None:
            if args.kind != "ivf-pq":
                print("--pq-cand applies to ivf-pq serving only")
                return 2
            kw["pq_cand"] = args.pq_cand
        stream = starter(
            spark,
            args.queries,
            args.checkpoint,
            args.index,
            on_ann_results,
            **kw,
        )
        stream.awaitTermination()
        print("queries drained")
    elif args.cmd == "index-calibrate":
        from pyspark.sql import functions as F

        from fintech_etl_spark.sources.tables import load_table
        from fintech_etl_spark.streaming.ann import (
            auto_n_probe,
            auto_pq_cand,
            calibrate_n_probe,
            calibrate_pq_cand,
        )

        sample = (
            load_table(spark, args.sf_dir, "embeddings")
            .filter(F.col("vec_id") < args.queries)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        n_probes = tuple(int(x) for x in args.n_probes.split(","))
        at_k = tuple(sorted({1, args.at_k}))
        if args.grid:
            from fintech_etl_spark.streaming.ann import (
                calibrate_serving_grid,
                pick_serving_config,
            )

            if not args.pq_cands:
                print("--grid requires --pq-cands")
                return 2
            grid = calibrate_serving_grid(
                spark,
                args.index,
                sample,
                n_probes=n_probes,
                pq_cands=tuple(
                    _pq_cand_value(x) for x in args.pq_cands.split(",")
                ),
                at_k=at_k,
            )
            out = {"grid": grid}
            if args.target_recall is not None:
                out["picked_config"] = pick_serving_config(
                    grid, args.target_recall, at_k=args.at_k
                )
                out["target_recall"] = args.target_recall
            print(json.dumps(out))
            return 0
        curve = calibrate_n_probe(
            spark, args.index, sample, n_probes=n_probes, at_k=at_k
        )
        out = {"curve": curve}
        if args.pq_cands:
            cut_curve = calibrate_pq_cand(
                spark,
                args.index,
                sample,
                pq_cands=tuple(
                    _pq_cand_value(x) for x in args.pq_cands.split(",")
                ),
                n_probe=args.n_probe_fixed,
                at_k=at_k,
            )
            out["pq_cand_curve"] = cut_curve
            if args.target_recall is not None:
                out["picked_pq_cand"] = auto_pq_cand(
                    cut_curve, args.target_recall, at_k=args.at_k
                )
        if args.target_recall is not None:
            out["picked_n_probe"] = auto_n_probe(
                curve, args.target_recall, at_k=args.at_k
            )
            out["target_recall"] = args.target_recall
            out["at_k"] = args.at_k
        print(json.dumps(out))
    elif args.cmd == "query":
        from fintech_etl_spark.registry import all_specs

        specs = all_specs()
        if not args.name:
            for name, spec in sorted(specs.items()):
                oracle = "oracle" if spec.oracle else "rows-only"
                print(f"{name}\t{oracle}\t{spec.doc.splitlines()[0][:80]}")
            print(f"{len(specs)} queries")
            return 0
        if args.name not in specs:
            print(f"unknown query: {args.name}")
            return 2
        df = specs[args.name].fn(spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {spark.read.parquet(args.out).count()} rows to {args.out}")
        else:
            for line in df.limit(args.limit).toJSON().collect():
                print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
