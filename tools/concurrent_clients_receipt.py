"""Three-client concurrency receipt: the transactional layout's whole
operating story running AT ONCE on one manifest root —

- an INGEST loop (the real streaming path, exactly-once per file)
  appending batches, some drifted past the frozen curve so the drift
  marker trips mid-run;
- a MAINTENANCE cron loop (`run_due_compaction` for marked full
  re-freezes, bounded partial `zorder_compact(max_segments=)` folds,
  `vacuum(keep_last=3)` retention) rewriting underneath it;
- a READER loop resolving the pointer per call (`read_zorder` count +
  a z-order box query) the entire time.

CLAIMS (exit 1 if violated):
1. ZERO reader errors: every snapshot read succeeds — no torn file
   listings, no missing segments, even while compactions swap
   segments and vacuum deletes superseded ones;
2. reader counts are MONOTONE non-decreasing: appends only add rows,
   compaction preserves them, vacuum touches only superseded
   segments — any decrease is a lost update or a torn snapshot;
3. nothing lost end-to-end: final count = base + every ingested
   batch; exactly-once history holds one key per source file;
4. the drift story resolved itself: the marker tripped during the
   run (observed), and by the end maintenance cleared it with drift
   back to 0;
5. fsck is clean at the end.

Usage: python tools/concurrent_clients_receipt.py [out.json]
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

OUT = sys.argv[1] if len(sys.argv) > 1 else None
BASE_ROWS = 5_000_000
BATCH_ROWS = 40_000
ROUNDS = 12  # 2 files per round


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.operators import layout as lay
    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.streaming.layout import start_zorder_ingest

    spark = build_session("concurrent_clients_receipt")
    work = tempfile.mkdtemp(prefix="conc_clients_")
    root = os.path.join(work, "lay")
    land = os.path.join(work, "land")
    os.makedirs(land)

    def frame(n, offset=0, shift=0):
        return spark.range(offset, offset + n).select(
            F.col("id").alias("rowid"),
            (F.col("id") * 37 % 9973 + shift).cast("long").alias("x"),
            (F.col("id") * 91 % 9839 + shift).cast("long").alias("y"),
        )

    def write_jsonl(df, name):
        tmp = os.path.join(work, f"stage-{name}")
        df.coalesce(1).write.mode("overwrite").json(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        shutil.move(os.path.join(tmp, part), os.path.join(land, name))
        shutil.rmtree(tmp, ignore_errors=True)

    lay.zorder_write(frame(BASE_ROWS), ["x", "y"], root, num_files=16)

    stop = threading.Event()
    errors: dict[str, list[str]] = {"reader": [], "maint": []}
    counts: list[int] = []
    box_rows: list[int] = []
    marker_seen = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                if lay.compaction_due(root) is not None:
                    marker_seen.set()  # observed independently of the cron
                counts.append(lay.read_zorder(spark, root).count())
                box_rows.append(
                    lay.read_zorder_box(
                        spark, root, {"x": (100, 400), "y": (100, 400)}
                    ).count()
                )
            except Exception as e:  # noqa: BLE001
                errors["reader"].append(repr(e)[:300])
            time.sleep(0.1)

    def maintenance():
        while not stop.is_set():
            try:
                if lay.compaction_due(root) is not None:
                    marker_seen.set()
                    lay.run_due_compaction(spark, root, num_files=16)
                else:
                    # fold the fragment tail (partial: bounds frozen)
                    lay.zorder_compact(
                        spark, root, num_files=8, max_segments=4
                    )
                mf.vacuum(root, keep_last=3)
            except mf.StaleSegmentError:
                pass  # raced another rewrite; re-poll next cycle
            except Exception as e:  # noqa: BLE001
                errors["maint"].append(repr(e)[:300])
            time.sleep(0.3)

    t_r = threading.Thread(target=reader)
    t_m = threading.Thread(target=maintenance)
    t_r.start()
    t_m.start()

    schema = "rowid long, x long, y long"
    n_files = 0
    try:
        for rnd in range(ROUNDS):
            off = BASE_ROWS + rnd * 2 * BATCH_ROWS
            # one in-range file + (every 4th round) one drifted file
            write_jsonl(frame(BATCH_ROWS, offset=off), f"r{rnd:02d}a.jsonl")
            # ESCALATING drift: each drifted round shifts further out,
            # so a full re-freeze that covered the last excursion does
            # not silently cover the next one
            shift = 30_000 * (1 + rnd) if rnd % 4 == 1 else 0
            write_jsonl(
                frame(BATCH_ROWS, offset=off + BATCH_ROWS, shift=shift),
                f"r{rnd:02d}b.jsonl",
            )
            n_files += 2
            start_zorder_ingest(
                spark,
                os.path.join(land, "*.jsonl"),
                os.path.join(work, "ck"),
                root,
                schema,
                num_files=2,
                compact_when_drift_above=0.4,
            ).awaitTermination()
    finally:
        # let maintenance resolve any pending marker before stopping
        deadline = time.monotonic() + 120
        while (
            lay.compaction_due(root) is not None
            and time.monotonic() < deadline
        ):
            time.sleep(0.5)
        stop.set()
        t_r.join(timeout=300)
        t_m.join(timeout=300)

    final = lay.read_zorder(spark, root).count()
    expect = BASE_ROWS + ROUNDS * 2 * BATCH_ROWS
    monotone = all(a <= b for a, b in zip(counts, counts[1:]))
    drift_now = lay.zorder_drift(root)["drift"]
    fsck = mf.fsck(root)
    ok = (
        not errors["reader"]
        and not errors["maint"]
        and len(counts) >= 20
        and monotone
        and final == expect
        and mf.ingested_count(root) == n_files
        and marker_seen.is_set()
        and lay.compaction_due(root) is None
        and fsck["ok"]
    )
    receipt = {
        "claim": "ingest + maintenance cron + snapshot readers live at "
        "once on one manifest root: zero reader errors across "
        "compaction swaps and vacuum deletes, reader counts monotone "
        "non-decreasing, final count exact, exactly-once per file, "
        "the drift marker tripped mid-run and was resolved by the "
        "cron (drift back to 0), fsck clean",
        "base_rows": BASE_ROWS,
        "batches": ROUNDS * 2,
        "batch_rows": BATCH_ROWS,
        "reader_snapshots": len(counts),
        "reader_errors": errors["reader"][:5],
        "maintenance_errors": errors["maint"][:5],
        "counts_monotone": monotone,
        "first_count": counts[0] if counts else None,
        "last_count": counts[-1] if counts else None,
        "box_reads": len(box_rows),
        "final_rows": final,
        "expected_rows": expect,
        "exactly_once_files": mf.ingested_count(root),
        "drift_marker_tripped": marker_seen.is_set(),
        "drift_final": drift_now,
        "marker_final": lay.compaction_due(root),
        "fsck_ok": fsck["ok"],
        "ok": ok,
    }
    line = json.dumps(receipt)
    print(line)
    if OUT:
        with open(OUT, "w") as fh:
            fh.write(line + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
