"""Skew-adversarial receipt for the IVF-PQ index (the r10 verdict's
open item: dedup caps were proven under skew, the ANN family wasn't).

The adversarial corpus: N vectors, 64-dim, of which a HOT_FRAC share
are one tight content cluster (center + sigma=0.01 noise) carried by
the HIGHEST vec_ids — so none of kmeans_fit's deterministic seeds
(the k LOWEST vec_ids) start inside the cluster and Lloyd's collapses
the whole hot mass into ~one coarse cell. That is the worst case for
a probe: every hot query drags |cluster| rows through ADC instead of
~N/k.

Measured, uniform vs skewed-uncapped vs skewed-capped
(cell_cap = 4×512, i.e. 4× the auto-k target cell size):

- cell profile: max/mean cell size (the skew itself);
- per-query probe fan-out, split HOT vs BACKGROUND: the rows in the
  3 cells each query probes — the serving scan cost per query (batch-
  level dedup would dilute the hot cell's weight, so this is per
  query, the number that holds at any batch mix);
- warm serving wall: second drain of the same query file through
  start_ivf_pq_queries (fresh checkpoint per drain; informational at
  this N — task overheads dominate a local[32] run, fan-out is the
  scan-cost proxy that scales);
- recall@5 vs the exact brute-force cosine top-5 on the same corpus.
  (On the tight cluster recall is PQ-RESOLUTION-bound: every hot
  vector quantizes to nearly the same 8×4-bit code, so the ADC
  shortlist cannot rank inside the cluster — equally before and
  after capping. The cap must not make it worse; making it better
  is a codebook-resolution question, not a layout one.)

CLAIMS (exit 1 if violated):
1. uncapped skew is real: hot-query fan-out ≥ 4× background fan-out
   on the same index (the hot cell IS the probe cost);
2. the cap works: capped max cell ≤ cell_cap AND capped hot-query
   fan-out ≤ 0.5× uncapped hot-query fan-out;
3. recall holds: capped recall ≥ uncapped recall − 0.05 overall.

Usage: python tools/ann_skew_receipt.py [N] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
OUT = sys.argv[2] if len(sys.argv) > 2 else None
DIM = 64
HOT_FRAC = 0.10
CELL_CAP = 4 * 512
N_QUERIES = 10  # 5 hot + 5 background


def _make_corpus(path: str, skewed: bool) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    v = rng.normal(0.0, 1.0, (N, DIM)).astype(np.float32)
    if skewed:
        n_hot = int(N * HOT_FRAC)
        center = rng.normal(0.0, 1.0, DIM).astype(np.float32) * 2.0
        # highest vec_ids → no deterministic kmeans seed in the cluster
        v[N - n_hot:] = center + rng.normal(0.0, 0.01, (n_hot, DIM)).astype(
            np.float32
        )
    os.makedirs(path, exist_ok=True)
    pa_tab = pa.table(
        {
            "vec_id": pa.array(range(N), pa.int64()),
            "embedding": pa.array(v.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(N)], pa.int32()),
        }
    )
    pq.write_table(pa_tab, os.path.join(path, "embeddings.parquet"))


def _exact_top5(spark, sf, query_ids):
    """Brute-force cosine top-5 per query (ground truth)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from fintech_etl_spark.operators.dedup import cosine
    from fintech_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = q.crossJoin(emb).filter(F.col("vec_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(
        cosine(F.col("qv"), F.col("v")).desc(), F.col("vec_id")
    )
    top = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "vec_id")
        .collect()
    )
    out: dict[int, set] = {}
    for r in top:
        out.setdefault(int(r.query_id), set()).add(int(r.vec_id))
    return out


def _measure(spark, sf: str, idx: str, work: str, tag: str, cell_cap):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from fintech_etl_spark.operators.dedup import cosine
    from fintech_etl_spark.sources.tables import load_table
    from fintech_etl_spark.streaming.ann import (
        _read_ivf_dataset,
        build_ivf_pq_index,
        start_ivf_pq_queries,
    )

    t0 = time.time()
    counts = build_ivf_pq_index(spark, sf, idx, k=None, cell_cap=cell_cap)
    build_s = round(time.time() - t0, 3)

    # cell profile from the committed codes layout
    codes = _read_ivf_dataset(spark, idx, "codes")
    prof = (
        codes.groupBy("cell")
        .agg((F.count(F.lit(1)) / 8).alias("n"))  # 8 sub-rows per vector
        .agg(
            F.max("n").alias("mx"),
            F.avg("n").alias("mean"),
            F.count(F.lit(1)).alias("cells"),
        )
        .first()
    )

    # mixed query batch: 5 hot (top ids) + 5 background (low ids ≥ 10)
    query_ids = [10, 11, 12, 13, 14, N - 1, N - 2, N - 3, N - 4, N - 5]
    emb = load_table(spark, sf, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )

    # probe fan-out: rows in the cells this batch would probe — the
    # same nearest-3-centroids expression serving runs
    coarse = spark.read.parquet(idx + "/coarse")
    q = spark.createDataFrame(
        [(int(r.query_id), [float(x) for x in r.embedding]) for r in qrows],
        "query_id long, qv array<double>",
    )
    wq = W.partitionBy("query_id").orderBy(
        cosine(F.col("qv"), F.col("centroid")).desc(), F.col("cell")
    )
    probed = (
        q.join(F.broadcast(coarse))
        .withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= 3)
        .select("query_id", "cell")
    )
    sizes = codes.groupBy("cell").agg((F.count(F.lit(1)) / 8).alias("n"))
    per_q = {
        int(r.query_id): int(r.rows)
        for r in probed.join(sizes, "cell")
        .groupBy("query_id")
        .agg(F.sum("n").alias("rows"))
        .collect()
    }
    hot_ids = {N - 1, N - 2, N - 3, N - 4, N - 5}
    fan_hot = round(
        sum(v for k_, v in per_q.items() if k_ in hot_ids) / 5.0, 1
    )
    fan_bg = round(
        sum(v for k_, v in per_q.items() if k_ not in hot_ids) / 5.0, 1
    )

    # warm serving drain
    qdir = os.path.join(work, f"queries_{tag}")
    os.makedirs(qdir, exist_ok=True)
    with open(os.path.join(qdir, "q.jsonl"), "w") as f:
        for r in qrows:
            f.write(
                json.dumps(
                    {
                        "query_id": int(r.query_id),
                        "embedding": [float(x) for x in r.embedding],
                    }
                )
                + "\n"
            )
    got: dict[int, set] = {}

    def _drain() -> float:
        got.clear()

        def handler(df, _bid):
            for r in df.collect():
                got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))

        ck = tempfile.mkdtemp(prefix=f"ck_{tag}_")
        t = time.time()
        start_ivf_pq_queries(
            spark, os.path.join(qdir, "*.jsonl"), ck, idx, handler
        ).awaitTermination()
        shutil.rmtree(ck, ignore_errors=True)
        return round(time.time() - t, 3)

    _drain()  # cold
    serve_s = _drain()  # warm — the steady-state number

    truth = _exact_top5(spark, sf, query_ids)
    hits = sum(len(got.get(qid, set()) & truth[qid]) for qid in truth)
    recall = round(hits / (5 * len(truth)), 4)

    return {
        "build_s": build_s,
        "cells": int(prof.cells),
        "max_cell": int(prof.mx),
        "mean_cell": round(float(prof.mean), 1),
        "fanout_per_hot_query": fan_hot,
        "fanout_per_bg_query": fan_bg,
        "serve_warm_s": serve_s,
        "recall_at_5": recall,
        "indexed": counts["vectors"],
    }


def main() -> int:
    from fintech_etl_spark.session import build_session

    spark = build_session("ann_skew_receipt")
    work = tempfile.mkdtemp(prefix="ann_skew_")
    try:
        sf_u = os.path.join(work, "uniform")
        sf_s = os.path.join(work, "skewed")
        _make_corpus(sf_u, skewed=False)
        _make_corpus(sf_s, skewed=True)

        res = {
            "n": N,
            "dim": DIM,
            "hot_frac": HOT_FRAC,
            "cell_cap": CELL_CAP,
            "uniform": _measure(
                spark, sf_u, os.path.join(work, "iu"), work, "u", None
            ),
            "skewed_uncapped": _measure(
                spark, sf_s, os.path.join(work, "is"), work, "s", None
            ),
            "skewed_capped": _measure(
                spark, sf_s, os.path.join(work, "isc"), work, "sc", CELL_CAP
            ),
        }
        u, s, c = (
            res["uniform"],
            res["skewed_uncapped"],
            res["skewed_capped"],
        )
        res["claims"] = {
            "skew_is_real_4x": s["fanout_per_hot_query"]
            >= 4 * s["fanout_per_bg_query"],
            "cap_bounds_cells": c["max_cell"] <= CELL_CAP,
            "cap_halves_hot_fanout": c["fanout_per_hot_query"]
            <= 0.5 * s["fanout_per_hot_query"],
            "recall_vs_uncapped": c["recall_at_5"]
            >= s["recall_at_5"] - 0.05,
        }
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
