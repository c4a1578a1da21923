"""Scale receipt for the transactional receipt lake (the manifest
layer's third client): a streaming-shaped lake — ONE committed batch
per calendar month of sf1 orders (~80 segments, time-ordered like a
real intake) — measured on the three claims that matter at 10⁴
batches:

1. commit cost stays flat as the lake fragments (median wall of the
   last 10 commits ≤ 3× the first 10 — the bucketed ingest index +
   O(segments) manifest write, same bound as
   SCALE_RECEIPT_r11_manifest_commit.json);
2. month-ranged reads prune at the MANIFEST level: a 3-month range
   admits only the matching segments from one pointer read (≤ 10% of
   the fragmented lake), the pruned read is no slower than the
   filter-only read, and both equal the ground-truth count computed
   from raw orders;
3. compaction (``compact_receipts_lake``) folds the fragments into
   one month-partitioned segment WITH month stats re-committed: the
   same ranged read stays exact afterwards.

Usage: python tools/lake_receipt.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else None
RANGE = ("1995-01", "1995-03")


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

    spark = build_session("lake_receipt")
    work = tempfile.mkdtemp(prefix="lake_receipt_")
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
    ]
    truth = receipts.filter(
        F.date_format("transaction_date", "yyyy-MM").between(*RANGE)
    ).count()

    commit_walls = []
    for m in months:
        batch = receipts.filter(
            F.date_format("transaction_date", "yyyy-MM") == m
        )
        t0 = time.time()
        write_receipts_parquet(batch, lake, batch_key=f"month-{m}")
        commit_walls.append(time.time() - t0)

    def med(xs):
        s = sorted(xs)
        return s[len(s) // 2]

    first10, last10 = med(commit_walls[:10]), med(commit_walls[-10:])

    pairs = mf.dataset_segments_with_stats(lake, "receipts")
    kept = [
        p
        for p, st in pairs
        if st is None
        or (st["transaction_month"][0] <= RANGE[1]
            and st["transaction_month"][1] >= RANGE[0])
    ]
    t0 = time.time()
    pruned_n = read_receipts(spark, lake, months=RANGE).count()
    pruned_wall = time.time() - t0
    t0 = time.time()
    filter_n = (
        read_receipts(spark, lake)
        .filter(F.col("transaction_month").between(*RANGE))
        .count()
    )
    filter_wall = time.time() - t0

    t0 = time.time()
    cstats = compact_receipts_lake(spark, lake)
    compact_wall = time.time() - t0
    post_pairs = mf.dataset_segments_with_stats(lake, "receipts")
    t0 = time.time()
    post_n = read_receipts(spark, lake, months=RANGE).count()
    post_wall = time.time() - t0

    ok = (
        last10 <= first10 * 3.0
        and pruned_n == filter_n == truth
        and len(kept) <= max(3, int(0.10 * len(pairs)))
        and pruned_wall <= filter_wall * 1.2
        and len(post_pairs) == 1
        and post_pairs[0][1]["transaction_month"]
        == [months[0], months[-1]]
        and post_n == truth
    )
    receipt = {
        "claim": "receipt-lake commits stay flat as the lake fragments; "
        "a month range admits only matching segments from one pointer "
        "read, no slower and value-equal vs the filter-only read; "
        "compaction folds to one stats-bearing segment with the ranged "
        "read still exact",
        "sf_dir": SF,
        "batches": len(months),
        "rows": receipts.count(),
        "commit_wall_first10_median_s": round(first10, 4),
        "commit_wall_last10_median_s": round(last10, 4),
        "commit_flat_ratio": round(last10 / max(first10, 1e-9), 2),
        "range": list(RANGE),
        "segments_total": len(pairs),
        "segments_admitted": len(kept),
        "rows_in_range": truth,
        "pruned_read_s": round(pruned_wall, 2),
        "filter_only_read_s": round(filter_wall, 2),
        "compact": cstats,
        "compact_s": round(compact_wall, 2),
        "post_compact_segments": len(post_pairs),
        "post_compact_read_s": round(post_wall, 2),
        "results_equal": pruned_n == filter_n == post_n == truth,
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
