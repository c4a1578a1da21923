"""Fragmented-layout receipt for manifest-level segment pruning
(operators/layout.py prune_segments / read_zorder_box).

The lake shape this exists for: a transactional z-order layout that
has absorbed MANY streaming appends since its last compaction. Every
segment is tiny, and a box query's cost is dominated by touching
segments at all (listings + footers), not by scanning rows. The
manifest's per-segment min/max (committed with each append) lets the
planner drop whole segments from one pointer read.

Builds a base layout from sf lineitem, appends N_APPENDS disjoint
orderkey-banded batches (each its own segment, as a streaming ingest
would leave them), then answers a box over ONE band two ways:

- read_zorder().filter(...)    — every segment touched (footers still
                                 prune files inside each);
- read_zorder_box(...)         — manifest stats first.

CLAIMS (exit 1 if violated):
1. planning is tight: kept segments ≤ 3 of the N_APPENDS+1 total
   (the matching band + base if it overlaps + slack 1);
2. results identical to the unpruned filter;
3. pruned wall ≤ unpruned wall × 1.05 (it reads a strict subset; the
   1.05 absorbs timing noise).

Usage: python tools/manifest_prune_receipt.py [sf_dir] [out.json]
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
N_APPENDS = 100


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.operators.layout import (
        prune_segments,
        read_zorder,
        read_zorder_box,
        zorder_append,
        zorder_write,
    )
    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sources.tables import load_table

    spark = build_session("manifest_prune_receipt")
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    hi = li.agg(F.max("l_orderkey")).first()[0]
    # base = first half of the orderkey range; appends = disjoint bands
    # of the second half (the shape a banded ingest feed leaves)
    base = li.filter(F.col("l_orderkey") <= hi // 2)
    work = tempfile.mkdtemp(prefix="mprune_")
    root = os.path.join(work, "lay")
    res: dict = {"metric": "manifest_segment_prune", "sf_dir": SF}
    try:
        zorder_write(base, ["l_orderkey", "l_partkey"], root, num_files=16)
        band = (hi - hi // 2) // N_APPENDS + 1
        t0 = time.perf_counter()
        for i in range(N_APPENDS):
            lo = hi // 2 + 1 + i * band
            b = li.filter(F.col("l_orderkey").between(lo, lo + band - 1))
            zorder_append(b, root, num_files=1)
        res["append_total_wall_sec"] = round(time.perf_counter() - t0, 2)

        # the box: one band in the appended half, partkey unconstrained
        # enough to keep rows (orderkey is the pruning axis here)
        q_lo = hi // 2 + 1 + (N_APPENDS // 2) * band
        box = {"l_orderkey": (q_lo, q_lo + band - 1)}
        kept, total = prune_segments(root, box)
        res["segments_total"] = total
        res["segments_kept"] = len(kept)

        def agg(df):
            return tuple(
                df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("l_quantity"), 4).alias("sq"),
                ).first()
            )

        t0 = time.perf_counter()
        got_unpruned = agg(
            read_zorder(spark, root).filter(
                F.col("l_orderkey").between(*box["l_orderkey"])
            )
        )
        wall_unpruned = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        got_pruned = agg(read_zorder_box(spark, root, box))
        wall_pruned = round(time.perf_counter() - t0, 3)

        res.update(
            {
                "rows_in_box": got_pruned[0],
                "wall_unpruned_sec": wall_unpruned,
                "wall_pruned_sec": wall_pruned,
                "claims": {
                    "planning_tight": len(kept) <= 3,
                    "results_equal": got_pruned == got_unpruned
                    and got_pruned[0] > 0,
                    "pruned_not_slower": wall_pruned
                    <= wall_unpruned * 1.05,
                },
            }
        )
        res["pass"] = all(res["claims"].values())
        line = json.dumps(res)
        print(line)
        if OUT:
            with open(OUT, "w") as f:
                f.write(line + "\n")
        return 0 if res["pass"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
