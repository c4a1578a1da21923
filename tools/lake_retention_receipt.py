"""Retention receipt for the transactional receipt lake (r12 verdict
#6): vacuum and time travel both exist, this drives the FULL loop on
one lake at sf1 and measures that retention actually does its job:

1. N monthly append commits build a fragmented lake; compaction
   (remove+add rewrite commit) supersedes the fragments; one more
   append advances the log past it;
2. BEFORE vacuum, time travel reads are value-equal to their
   version's prefix ground truth (count + Σ total_amount computed
   from raw orders) — both a mid-history version and the
   pre-compaction snapshot;
3. vacuum(keep_last=H) RECLAIMS REAL BYTES (the superseded fragment
   segments — asserted ≥ 25% of the lake's on-disk size, measured
   with an os.walk byte count, not file counts);
4. AFTER vacuum: the live read and every version inside the horizon
   are still value-equal; versions past the horizon fail loudly with
   the documented retention error naming the vacuum contract.

Usage: python tools/lake_retention_receipt.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else None
N_MONTHS = 20
KEEP = 2


def _du(path: str) -> int:
    total = 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


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

    spark = build_session("lake_retention_receipt")
    work = tempfile.mkdtemp(prefix="lake_retention_")
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
    ][: N_MONTHS + 1]

    def fingerprint(df) -> tuple[int, float]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("total_amount"), 2).alias("s"),
        ).first()
        return (row.n, float(row.s or 0.0))

    def truth_prefix(k: int) -> tuple[int, float]:
        return fingerprint(
            receipts.filter(
                F.date_format("transaction_date", "yyyy-MM").isin(months[:k])
            )
        )

    versions_by_batch = {}
    for i, m in enumerate(months[:N_MONTHS]):
        batch = receipts.filter(
            F.date_format("transaction_date", "yyyy-MM") == m
        )
        write_receipts_parquet(batch, lake, batch_key=f"month-{m}")
        versions_by_batch[i + 1] = mf.current(lake)["version"]

    v_mid = versions_by_batch[N_MONTHS // 2]
    v_pre_compact = versions_by_batch[N_MONTHS]
    compact_receipts_lake(spark, lake)
    v_compacted = mf.current(lake)["version"]
    # one more append so keep_last=KEEP retains only POST-compaction
    # manifests and the fragment segments become reclaimable
    write_receipts_parquet(
        receipts.filter(
            F.date_format("transaction_date", "yyyy-MM") == months[N_MONTHS]
        ),
        lake,
        batch_key=f"month-{months[N_MONTHS]}",
    )

    # time travel BEFORE vacuum: value-equal to prefix ground truth
    tt_mid_pre = fingerprint(read_receipts(spark, lake, version=v_mid))
    tt_pre_compact = fingerprint(
        read_receipts(spark, lake, version=v_pre_compact)
    )
    truth_mid = truth_prefix(N_MONTHS // 2)
    truth_full = truth_prefix(N_MONTHS)
    pre_travel_ok = tt_mid_pre == truth_mid and tt_pre_compact == truth_full

    bytes_before = _du(lake)
    vac = mf.vacuum(lake, keep_last=KEEP, orphan_grace_sec=0.0)
    bytes_after = _du(lake)
    reclaimed_frac = (bytes_before - bytes_after) / max(bytes_before, 1)

    # AFTER vacuum: live + inside-horizon reads exact, past-horizon loud
    live = fingerprint(read_receipts(spark, lake))
    truth_live = truth_prefix(N_MONTHS + 1)
    inside = fingerprint(read_receipts(spark, lake, version=v_compacted))
    loud_past_horizon = False
    err_msg = None
    try:
        read_receipts(spark, lake, version=v_mid).count()
    except ValueError as e:
        loud_past_horizon = "vacuum" in str(e)
        err_msg = str(e)[:160]

    ok = (
        pre_travel_ok
        and live == truth_live
        and inside == truth_full
        and loud_past_horizon
        and reclaimed_frac >= 0.25
        and len(vac["removed_segments"]) >= N_MONTHS
    )
    receipt = {
        "claim": "the lake retention loop: time travel value-equal to "
        "prefix ground truth before vacuum; vacuum(keep_last=2) "
        "reclaims the superseded fragment bytes (>=25% of the lake); "
        "after vacuum the live read and in-horizon versions stay "
        "exact and past-horizon versions fail loudly with the "
        "retention contract",
        "sf_dir": SF,
        "batches": N_MONTHS + 1,
        "keep_last": KEEP,
        "rows_live": live[0],
        "time_travel_pre_vacuum_ok": pre_travel_ok,
        "bytes_before_vacuum": bytes_before,
        "bytes_after_vacuum": bytes_after,
        "reclaimed_fraction": round(reclaimed_frac, 3),
        "segments_reclaimed": len(vac["removed_segments"]),
        "manifests_reclaimed": len(vac["removed_manifests"]),
        "live_read_exact": live == truth_live,
        "in_horizon_version_exact": inside == truth_full,
        "past_horizon_is_loud": loud_past_horizon,
        "past_horizon_error": err_msg,
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
