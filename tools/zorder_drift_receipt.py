"""Bound-drift receipt for transactional z-order layouts.

The question r11 left open: appends cluster against bounds frozen at
write time forever — keys drifting past them clamp to the curve's
edge cells, so HOW FAST does clustering degrade, and does a full
``zorder_compact`` (bounds re-frozen) restore it? This receipt
appends batches whose keys shift progressively outside the frozen
box and, after each append, records:

- ``zorder_drift(path)`` — the new manifest-only metric (one pointer
  read, zero data scanned) an operator cron polls to decide when to
  compact;
- the admitted-FILE fraction for a narrow box probe centered in the
  NEWEST batch's key region (manifest segment pruning + parquet
  footer stats — the same two layers the real scan uses). A clamped
  batch's files are not clustered by actual key, so the probe admits
  ~every file of that segment; the claim quantifies the decay.

Then a FULL ``zorder_compact`` re-freezes the bounds and the probe
re-runs: the receipt FAILS (exit 1) unless (a) drift returns to 0,
(b) the post-compact probe admits a strictly smaller file fraction
than the worst drifted probe, and (c) probe results are value-equal
pre/post compact (clustering is physical only).

Usage: python tools/zorder_drift_receipt.py [sf_dir] [out.json]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else None
N_BATCHES = 4


def _admitted_files(segs: list[str], box: dict) -> tuple[int, int]:
    """(files whose footer min/max intersect the box, total files)
    across the given segment dirs — footer-layer pruning, measured
    exactly as a scan would."""
    import pyarrow.parquet as pq

    admitted = total = 0
    for seg in segs:
        for f in glob.glob(os.path.join(seg, "*.parquet")):
            total += 1
            s: dict = {}
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if col.path_in_schema in box:
                        st = col.statistics
                        lo, hi = s.get(col.path_in_schema, (st.min, st.max))
                        s[col.path_in_schema] = (
                            min(lo, st.min),
                            max(hi, st.max),
                        )
            if all(
                s[c][0] <= bhi and s[c][1] >= blo
                for c, (blo, bhi) in box.items()
            ):
                admitted += 1
    return admitted, total


def main() -> int:
    from pyspark.sql import functions as F

    from fintech_etl_spark.operators.layout import (
        prune_segments,
        read_zorder_box,
        zorder_append,
        zorder_compact,
        zorder_drift,
        zorder_write,
    )
    from fintech_etl_spark.session import build_session
    from fintech_etl_spark.sinks import manifest as mf
    from fintech_etl_spark.sources.tables import load_table

    spark = build_session("zorder_drift_receipt")
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    b = li.agg(
        F.min("l_partkey").alias("plo"),
        F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"),
        F.max("l_suppkey").alias("shi"),
    ).first()
    pspan, sspan = b.phi - b.plo, b.shi - b.slo

    base = li.filter(F.col("l_orderkey") % (N_BATCHES + 1) == 0)
    work = tempfile.mkdtemp(prefix="zdrift_")
    root = os.path.join(work, "layout")
    zorder_write(base, ["l_partkey", "l_suppkey"], root, num_files=32)

    def probe_box(i: int) -> dict:
        # narrow box at the center of batch i's (shifted) key region —
        # each dimension shifts by i× ITS OWN span
        return {
            "l_partkey": (
                b.plo + i * pspan + int(0.45 * pspan),
                b.plo + i * pspan + int(0.55 * pspan),
            ),
            "l_suppkey": (
                b.slo + i * sspan + int(0.45 * sspan),
                b.slo + i * sspan + int(0.55 * sspan),
            ),
        }

    steps = []
    worst_admitted = 0.0
    for i in range(1, N_BATCHES + 1):
        shift_p, shift_s = i * pspan, i * sspan
        batch = li.filter(F.col("l_orderkey") % (N_BATCHES + 1) == i).select(
            "l_orderkey",
            (F.col("l_partkey") + shift_p).alias("l_partkey"),
            (F.col("l_suppkey") + shift_s).alias("l_suppkey"),
            "l_quantity",
        )
        zorder_append(batch, root, num_files=8)
        d = zorder_drift(root)
        box = probe_box(i)
        kept, total_segs = prune_segments(root, box)
        adm, tot = _admitted_files(kept, box)
        frac = adm / max(tot, 1)
        worst_admitted = max(worst_admitted, frac)
        steps.append(
            {
                "batch": i,
                "drift": round(d["drift"], 4),
                "segments_kept_by_manifest": len(kept),
                "segments_total": total_segs,
                "probe_admitted_files": adm,
                "probe_files_in_kept_segments": tot,
                "probe_admitted_fraction": round(frac, 4),
            }
        )

    # the probe's true answer before compaction (drifted region, batch N)
    last_box = probe_box(N_BATCHES)
    pre_rows = sorted(
        tuple(r)
        for r in read_zorder_box(spark, root, last_box)
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .collect()
    )
    pre_drift = zorder_drift(root)["drift"]

    t0 = time.time()
    zorder_compact(spark, root, num_files=32)  # FULL: re-freezes bounds
    compact_sec = time.time() - t0
    post_drift = zorder_drift(root)["drift"]
    segs = mf.dataset_segments(root, "layout")
    kept, _ = prune_segments(root, last_box)
    adm, tot_all = _admitted_files(segs, last_box)
    post_frac = adm / max(tot_all, 1)
    post_rows = sorted(
        tuple(r)
        for r in read_zorder_box(spark, root, last_box)
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .collect()
    )

    drift_monotone = all(
        steps[i]["drift"] > steps[i - 1]["drift"] for i in range(1, len(steps))
    )
    ok = (
        drift_monotone
        and pre_drift > 0.5
        and post_drift == 0.0
        and worst_admitted >= 0.9  # drifted batches really are unclustered
        and post_frac < worst_admitted / 2  # compact restores pruning
        and pre_rows == post_rows  # physical only
    )
    receipt = {
        "claim": "zorder_drift quantifies bound drift from the manifest "
        "alone; drifted appends degrade probe pruning to ~all files of "
        "their segment; a full zorder_compact re-freezes bounds, "
        "returns drift to 0 and restores pruning; results value-equal",
        "sf_dir": SF,
        "base_rows": base.count(),
        "steps": steps,
        "pre_compact_drift": round(pre_drift, 4),
        "post_compact_drift": post_drift,
        "worst_probe_admitted_fraction": round(worst_admitted, 4),
        "post_compact_probe_admitted_fraction": round(post_frac, 4),
        "post_compact_files": tot_all,
        "compact_sec": round(compact_sec, 2),
        "probe_rows": len(pre_rows),
        "results_equal": pre_rows == post_rows,
        "ok": ok,
    }
    line = json.dumps(receipt)
    print(line)
    if OUT:
        with open(OUT, "w") as fh:
            fh.write(line + "\n")
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
