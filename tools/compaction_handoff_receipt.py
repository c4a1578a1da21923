"""Compaction-handoff receipt (r12 verdict #1's done-criterion): the
streaming z-order ingest must NOT stall while the handed-off full
compaction rewrites the corpus. At sf-scale:

1. build a transactional z-order layout (~2M rows), trip the drift
   marker with one drifted batch through the REAL streaming ingest
   (compact_when_drift_above) — the stream signals and keeps going,
   it never rewrites;
2. start run_due_compaction (the maintenance half — the full
   re-freezing rewrite, tens of seconds at this scale) in a
   maintenance thread;
3. WHILE it runs, drain N in-range JSONL files through the ingest
   (one file per micro-batch) and record each batch's commit wall;
4. claims (exit 1 if violated):
   - the rewrite genuinely overlaps the drain: at least 3 ingest
     batches commit before the compactor thread finishes;
   - NO batch waits for the rewrite: max per-batch wall <= 0.7x the
     compaction wall (a serialized world — the r12 inline shape —
     would pin at least one batch behind the whole rewrite). Batches
     sharing the box with the compactor are allowed to run slower
     (CPU contention is honest and visible in the walls array); what
     is banned is the stop-the-world stall;
   - nothing is lost: final row count = base + drifted + all
     concurrent batches, exactly-once history intact, and the
     compactor's remove+add commit carried the concurrent appends
     forward (marker cleared, drift 0 on the re-frozen bounds for
     in-range appends).

Usage: python tools/compaction_handoff_receipt.py [out.json]
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
BASE_ROWS = 60_000_000
BATCH_ROWS = 25_000
N_BATCHES = 10


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.operators import layout as lay
    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.streaming.layout import start_zorder_ingest

    spark = build_session("compaction_handoff_receipt")
    work = tempfile.mkdtemp(prefix="handoff_")
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
        tmp = os.path.join(work, "stage")
        df.coalesce(1).write.mode("overwrite").json(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        shutil.move(os.path.join(tmp, part), os.path.join(land, name))

    lay.zorder_write(frame(BASE_ROWS), ["x", "y"], root, num_files=32)
    # one drifted file trips the signal through the real ingest path
    write_jsonl(
        frame(BATCH_ROWS, offset=BASE_ROWS, shift=50_000), "drift.jsonl"
    )
    schema = "rowid long, x long, y long"
    start_zorder_ingest(
        spark,
        os.path.join(land, "*.jsonl"),
        os.path.join(work, "ck"),
        root,
        schema,
        num_files=4,
        compact_when_drift_above=0.3,
    ).awaitTermination()
    marker = lay.compaction_due(root)
    assert marker is not None, "drift signal never committed"

    # stage the concurrent in-range batches BEFORE the compactor starts
    for i in range(N_BATCHES):
        write_jsonl(
            frame(BATCH_ROWS, offset=BASE_ROWS + (i + 1) * BATCH_ROWS),
            f"b{i:02d}.jsonl",
        )

    compact_done = {"t": None, "err": None, "t0": None}

    def maintain():
        compact_done["t0"] = time.monotonic()
        try:
            lay.run_due_compaction(spark, root, num_files=32)
        except BaseException as e:  # noqa: BLE001
            compact_done["err"] = repr(e)
        compact_done["t"] = time.monotonic()

    t = threading.Thread(target=maintain)

    walls = []
    stamps = []

    def on_batch(bid, n):
        stamps.append(time.monotonic())
        if len(stamps) == 1:
            t.start()  # compactor starts as the drain begins flowing

    t_start = time.monotonic()
    last = t_start
    start_zorder_ingest(
        spark,
        os.path.join(land, "*.jsonl"),
        os.path.join(work, "ck"),
        root,
        schema,
        num_files=4,
        max_files_per_trigger=1,
        on_batch=on_batch,
        compact_when_drift_above=0.3,
    ).awaitTermination()
    t.join(timeout=1200)
    for s in stamps:
        walls.append(s - last)
        last = s

    during = sum(1 for s in stamps if s < (compact_done["t"] or 0))
    med = sorted(walls)[len(walls) // 2]
    # the FIRST batch wall includes one-time stream startup (schema
    # inference, checkpoint init); the stall bound applies from batch 2
    mx = max(walls[1:])
    total = read_count = None
    from fintech_etl_spark.operators.layout import read_zorder

    read_count = read_zorder(spark, root).count()
    total = BASE_ROWS + (N_BATCHES + 1) * BATCH_ROWS
    compaction_wall = (compact_done["t"] or 0) - (compact_done["t0"] or 0)
    ok = (
        compact_done["err"] is None
        and len(stamps) == N_BATCHES
        and during >= 3
        and mx <= 0.7 * compaction_wall
        and read_count == total
        and lay.compaction_due(root) is None
        and mf.ingested_count(root) == N_BATCHES + 1
    )
    receipt = {
        "claim": "the drift handoff keeps ingest flowing: the stream "
        "signals compaction-due and keeps appending; the maintenance "
        "rewrite runs concurrently; >=3 ingest batches commit while "
        "the compactor is mid-rewrite and NO batch waits for it (max "
        "steady-state batch wall <= 0.7x the compaction wall — the "
        "r12 inline shape would pin a batch behind the whole "
        "rewrite; contention-sharing is allowed and visible in the "
        "walls array); the remove+add commit carries every "
        "concurrent append forward and clears the marker",
        "base_rows": BASE_ROWS,
        "batch_rows": BATCH_ROWS,
        "concurrent_batches": N_BATCHES,
        "marker": marker,
        "compaction_wall_s": round(
            (compact_done["t"] or 0) - (compact_done["t0"] or 0), 2
        ),
        "compaction_err": compact_done["err"],
        "ingest_batch_walls_s": [round(w, 3) for w in walls],
        "batch_wall_median_s": round(med, 3),
        "batch_wall_max_s": round(mx, 3),
        "batches_committed_during_compaction": during,
        "rows_expected": total,
        "rows_read": read_count,
        "marker_cleared": lay.compaction_due(root) is None,
        "exactly_once_files": mf.ingested_count(root),
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
