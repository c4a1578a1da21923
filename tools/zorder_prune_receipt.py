"""File-skipping receipt for the Z-order layout (operators/layout.py).

Writes sf0.1 lineitem (600k rows) two ways — 64 files range-sorted on
l_orderkey (the natural single-key layout) and 64 files z-clustered on
(l_partkey, l_suppkey) — then, for a grid of box predicates over both
keys, counts how many files each layout's parquet footer min/max stats
admit. This is the decision a stats-aware scan (Spark row-group
pruning, Delta/Iceberg file skipping) makes; at 100 TB the admitted
fraction IS the scan cost.

Usage: python tools/zorder_prune_receipt.py [sf_dir]
Prints one JSON line; exits 1 unless the z layout admits at most half
the files the natural layout admits (averaged over the grid).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N_FILES = 64
BOX_FRAC = 0.15  # each box spans 15% of each key's range
GRID = 9  # 3×3 box positions


def _file_stats(path: str, cols: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        stats: dict = {}
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema not in cols:
                    continue
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                lo, hi = stats.get(col.path_in_schema, (s.min, s.max))
                stats[col.path_in_schema] = (min(lo, s.min), max(hi, s.max))
        if all(c in stats for c in cols):
            out.append(stats)
        else:
            # a file with no usable stats can never be pruned — model
            # it as admitting every box
            out.append({c: (-(2**62), 2**62) for c in cols})
    return out


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.operators.layout import zorder_write
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sources.tables import load_table

    spark = build_session("zorder_prune_receipt")
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    b = li.agg(
        F.min("l_partkey").alias("plo"),
        F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"),
        F.max("l_suppkey").alias("shi"),
    ).first()

    work = tempfile.mkdtemp(prefix="zorder_receipt_")
    try:
        natural = os.path.join(work, "natural")
        li.repartitionByRange(N_FILES, "l_orderkey").write.parquet(natural)
        zpath = os.path.join(work, "zorder")
        n = zorder_write(
            li, ["l_partkey", "l_suppkey"], zpath, num_files=N_FILES
        )

        cols = ["l_partkey", "l_suppkey"]
        nat_stats = _file_stats(natural, cols)
        # the layout is one committed segment: its files are the layout's
        (zseg,) = mf.dataset_segments(zpath, "layout")
        z_stats = _file_stats(zseg, cols)

        def admitted(stats, plo, phi, slo, shi) -> int:
            return sum(
                1
                for s in stats
                if s["l_partkey"][0] <= phi
                and s["l_partkey"][1] >= plo
                and s["l_suppkey"][0] <= shi
                and s["l_suppkey"][1] >= slo
            )

        pspan, sspan = b.phi - b.plo, b.shi - b.slo
        nat_hits, z_hits = [], []
        for gi in range(3):
            for gj in range(3):
                plo = b.plo + int((0.1 + 0.3 * gi) * pspan)
                slo = b.slo + int((0.1 + 0.3 * gj) * sspan)
                phi = plo + int(BOX_FRAC * pspan)
                shi = slo + int(BOX_FRAC * sspan)
                nat_hits.append(admitted(nat_stats, plo, phi, slo, shi))
                z_hits.append(admitted(z_stats, plo, phi, slo, shi))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    nat_avg = sum(nat_hits) / len(nat_hits)
    z_avg = sum(z_hits) / len(z_hits)
    receipt = {
        "metric": "zorder_file_skipping",
        "sf_dir": SF,
        "rows": n,
        "n_files": N_FILES,
        "box_frac": BOX_FRAC,
        "boxes": GRID,
        "natural_files_admitted_avg": round(nat_avg, 2),
        "zorder_files_admitted_avg": round(z_avg, 2),
        "natural_admitted_frac": round(nat_avg / N_FILES, 3),
        "zorder_admitted_frac": round(z_avg / N_FILES, 3),
        "skip_improvement": round(nat_avg / max(z_avg, 1e-9), 1),
        "passed": z_avg <= nat_avg / 2,
    }
    print(json.dumps(receipt))
    return 0 if receipt["passed"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
