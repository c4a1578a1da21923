"""Receipts-lake three-client concurrency receipt — the lake twin of
`concurrent_clients_receipt.py`: on ONE transactional lake root,

- a WRITER loop commits month batches (`write_receipts_parquet`
  transactional add-commits with exactly-once batch keys);
- a MAINTENANCE cron loop folds fragments (`compact_receipts_lake`,
  the remove+add rewrite commit) and vacuums (`keep_last=3`);
- READER loops resolve the pointer per call the whole time: a full
  count AND a month-ranged read that prunes whole segments from the
  committed stats.

CLAIMS (exit 1 if violated):
1. zero reader errors across compaction swaps and vacuum deletes;
2. full-count snapshots are monotone non-decreasing, and every
   month-ranged snapshot equals that month range's share of a
   COMMITTED prefix (it never exceeds the final truth, never
   regresses below a previously observed value);
3. totals exact at the end: full count = all batches, the ranged
   read value-equals the filter-only read;
4. exactly-once: every batch key recorded once; a replayed write of
   an old batch key during the churn is a no-op;
5. fsck clean.

Usage: python tools/lake_concurrent_receipt.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else None
N_MONTHS = 36
RANGE = ("1995-01", "1995-06")


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sinks.receipts import (
        compact_receipts_lake,
        read_receipts,
        write_receipts_parquet,
    )
    from fintech_etl_spark.sources.tables import load_table

    spark = build_session("lake_concurrent_receipt")
    work = tempfile.mkdtemp(prefix="lake_conc_")
    lake = os.path.join(work, "lake")
    receipts = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("receipt_id"),
        F.col("o_orderdate").cast("date").alias("transaction_date"),
        F.col("o_totalprice").alias("total_amount"),
    )
    receipts.persist()
    months = [
        r.m
        for r in receipts.select(
            F.date_format("transaction_date", "yyyy-MM").alias("m")
        )
        .distinct()
        .orderBy("m")
        .collect()
    ][:N_MONTHS]
    range_truth = receipts.filter(
        F.date_format("transaction_date", "yyyy-MM").between(*RANGE)
    ).count()
    total_truth = receipts.filter(
        F.date_format("transaction_date", "yyyy-MM").isin(months)
    ).count()

    stop = threading.Event()
    errors: dict[str, list[str]] = {"reader": [], "maint": []}
    full_counts: list[int] = []
    ranged_counts: list[int] = []

    def reader():
        while not stop.is_set():
            try:
                full_counts.append(read_receipts(spark, lake).count())
                ranged_counts.append(
                    read_receipts(spark, lake, months=RANGE).count()
                )
            except Exception as e:  # noqa: BLE001
                errors["reader"].append(repr(e)[:300])
            time.sleep(0.05)

    def maintenance():
        while not stop.is_set():
            try:
                compact_receipts_lake(spark, lake)
                mf.vacuum(lake, keep_last=3)
            except mf.StaleSegmentError:
                pass  # raced a writer's view; next cycle re-reads
            except Exception as e:  # noqa: BLE001
                errors["maint"].append(repr(e)[:300])
            time.sleep(0.4)

    # first batch before threads start so the lake exists
    write_receipts_parquet(
        receipts.filter(
            F.date_format("transaction_date", "yyyy-MM") == months[0]
        ),
        lake,
        batch_key=f"month-{months[0]}",
    )
    t_r = threading.Thread(target=reader)
    t_m = threading.Thread(target=maintenance)
    t_r.start()
    t_m.start()
    replay_noop_ok = True
    try:
        for i, m in enumerate(months[1:], start=1):
            write_receipts_parquet(
                receipts.filter(
                    F.date_format("transaction_date", "yyyy-MM") == m
                ),
                lake,
                batch_key=f"month-{m}",
            )
            if i % 7 == 0:
                # checkpoint-loss replay mid-churn: must be a no-op
                before = mf.current(lake)["version"]
                write_receipts_parquet(
                    receipts.filter(
                        F.date_format("transaction_date", "yyyy-MM")
                        == months[0]
                    ),
                    lake,
                    batch_key=f"month-{months[0]}",
                )
                replay_noop_ok = replay_noop_ok and (
                    mf.current(lake)["version"] == before
                )
    finally:
        stop.set()
        t_r.join(timeout=300)
        t_m.join(timeout=300)

    final_full = read_receipts(spark, lake).count()
    final_ranged = read_receipts(spark, lake, months=RANGE).count()
    final_filter = (
        read_receipts(spark, lake)
        .filter(F.col("transaction_month").between(*RANGE))
        .count()
    )
    monotone = all(a <= b for a, b in zip(full_counts, full_counts[1:]))
    ranged_monotone = all(
        a <= b for a, b in zip(ranged_counts, ranged_counts[1:])
    )
    ranged_bounded = all(c <= range_truth for c in ranged_counts)
    fsck = mf.fsck(lake)
    ok = (
        not errors["reader"]
        and not errors["maint"]
        and len(full_counts) >= 20
        and monotone
        and ranged_monotone
        and ranged_bounded
        and final_full == total_truth
        and final_ranged == final_filter == range_truth
        and replay_noop_ok
        and mf.ingested_count(lake) == N_MONTHS
        and fsck["ok"]
    )
    receipt = {
        "claim": "writer + compaction cron + snapshot readers live at "
        "once on one transactional receipt lake: zero reader errors "
        "across rewrite swaps and vacuum deletes, full and "
        "month-ranged snapshots monotone and bounded by truth, final "
        "totals exact with the pruned read value-equal to the "
        "filter-only read, mid-churn batch-key replay a no-op, fsck "
        "clean",
        "sf_dir": SF,
        "batches": N_MONTHS,
        "range": list(RANGE),
        "reader_snapshots": len(full_counts),
        "reader_errors": errors["reader"][:5],
        "maintenance_errors": errors["maint"][:5],
        "full_monotone": monotone,
        "ranged_monotone": ranged_monotone,
        "ranged_bounded_by_truth": ranged_bounded,
        "final_full": final_full,
        "total_truth": total_truth,
        "final_ranged": final_ranged,
        "final_filter_only": final_filter,
        "range_truth": range_truth,
        "replay_noop_ok": replay_noop_ok,
        "exactly_once_batches": mf.ingested_count(lake),
        "fsck_ok": fsck["ok"],
        "ok": ok,
    }
    receipts.unpersist()
    line = json.dumps(receipt)
    print(line)
    if OUT:
        with open(OUT, "w") as fh:
            fh.write(line + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
