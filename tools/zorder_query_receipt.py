"""Admitted-file receipt for the layout_zorder_box_query registry row.

Runs the registered query (which materializes the z-clustered layout
and answers the center box FROM it), then counts how many of the
layout's files a footer-stats scan admits for that exact box, and
verifies the answer equals the same box computed from the raw table.
The admitted count is the scan cost a stats-aware reader pays at
100 TB; the result parity is the end-to-end correctness claim.

Usage: python tools/zorder_query_receipt.py [sf_dir] [out.json]
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else None


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.operators.layout import layout_zorder_box_query
    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sources.tables import load_table

    spark = build_session("zorder_query_receipt")
    t0 = time.perf_counter()
    got = layout_zorder_box_query(spark, SF).first()
    wall = round(time.perf_counter() - t0, 3)

    li = load_table(spark, SF, "lineitem")
    b = li.agg(
        F.min("l_partkey").alias("plo"),
        F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"),
        F.max("l_suppkey").alias("shi"),
    ).first()
    p_lo = b.plo + (b.phi - b.plo) * 3 // 8
    p_hi = b.plo + (b.phi - b.plo) * 5 // 8
    s_lo = b.slo + (b.shi - b.slo) * 3 // 8
    s_hi = b.slo + (b.shi - b.slo) * 5 // 8

    # raw-table ground truth for the identical box
    want = (
        li.filter(
            F.col("l_partkey").between(p_lo, p_hi)
            & F.col("l_suppkey").between(s_lo, s_hi)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.min("l_orderkey").cast("long").alias("first_order"),
            F.max("l_orderkey").cast("long").alias("last_order"),
        )
        .first()
    )
    # integer fields must match exactly; the two double SUMS are
    # compared at 1e-9 relative tolerance — summing millions of
    # doubles in two different scan orders (z-clustered layout vs raw
    # table) legitimately drifts past the 4th decimal at sf10 (3.7M
    # box rows), which is accumulation-order noise, not data loss
    def _close(a, b):
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0)

    parity = (
        got.n == want.n
        and got.first_order == want.first_order
        and got.last_order == want.last_order
        and _close(got.sum_qty, want.sum_qty)
        and _close(got.sum_price, want.sum_price)
    )

    # footer-stats admission for the query's box over the layout the
    # query just wrote
    import pyarrow.parquet as pq

    path = os.path.join(
        tempfile.gettempdir(),
        "fintech_etl_zbox_"
        + hashlib.md5(os.path.abspath(SF).encode()).hexdigest()[:12],
    )
    from fintech_etl_spark.sinks import manifest as mf

    files = [
        f
        for seg in mf.dataset_segments(path, "layout")
        for f in glob.glob(os.path.join(seg, "*.parquet"))
    ]
    admitted = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        stats: dict = {}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema not in ("l_partkey", "l_suppkey"):
                    continue
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                lo, hi = stats.get(col.path_in_schema, (s.min, s.max))
                stats[col.path_in_schema] = (min(lo, s.min), max(hi, s.max))
        if (
            "l_partkey" not in stats
            or "l_suppkey" not in stats
            or (
                stats["l_partkey"][0] <= p_hi
                and stats["l_partkey"][1] >= p_lo
                and stats["l_suppkey"][0] <= s_hi
                and stats["l_suppkey"][1] >= s_lo
            )
        ):
            admitted += 1

    receipt = {
        "metric": "zorder_box_query_receipt",
        "sf_dir": SF,
        "box": {"l_partkey": [p_lo, p_hi], "l_suppkey": [s_lo, s_hi]},
        "rows_in_box": got.n,
        "result_parity_with_raw_table": parity,
        "layout_files": len(files),
        "files_admitted_by_footer_stats": admitted,
        "admitted_frac": round(admitted / max(len(files), 1), 3),
        "query_wall_sec_incl_write": wall,
        # aggregate claim only (RangePartitioner boundaries drift with
        # session history): the center box must prune at least half
        "passed": parity and admitted <= len(files) // 2,
    }
    line = json.dumps(receipt)
    print(line)
    if OUT:
        with open(OUT, "w") as fh:
            fh.write(line + "\n")
    return 0 if receipt["passed"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
