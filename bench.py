"""Benchmark runner — the driver's per-round performance probe.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints two
JSON lines: the per-query detail, then the compact summary
{"metric": ..., "value": N, "unit": "sec", ..., "queries": {...}}
whose ``queries`` maps each query to its warm time in integer ms (see
:func:`summary_line`).

Each query runs once to warm up and then three timed times, back to
back; the fastest timed run is recorded so JVM startup and
code-compilation noise don't swamp the numbers. ``value`` is the
summed warm wall-clock across the suite.
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = (
    "q1_pricing_summary",
    "q3_segment_topk_revenue",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q13_order_count_distribution",
    "q19_disjunctive_predicates",
    "q21_waiting_suppliers",
    "nation_order_totals",
    "window_topk_per_customer",
    "window_lag_sessionize",
    "asof_join_signup_before_purchase",
    "events_hourly_rollup",
    "receipt_order_rollup",
    "agg_percentiles",
    "doc_fingerprint",
    "quality_score",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_neardup",
    "ann_topk_cosine_brute",
    "ann_lsh_bucketed",
    "grouped_zscore_applyinpandas",
    "quality_repetition_signals",
    "media_feature_extract",
    # appended r3 (list is append-only so rounds stay comparable):
    # the production skew-safe dedup path and the cross-engine simhash
    "dedup_minhash_lsh_dfcap",
    "dedup_simhash",
    # appended r3, second wave: the corpus-construction / serving ops
    "corpus_span_dedup",
    "doc_chunk_sliding",
    "embedding_quantize_int8",
    "ann_topk_int8_rerank",
    "corpus_decontaminate",
    "tfidf_top_terms",
    # appended r3, third wave: end-to-end build + binary-kernel dedup
    "corpus_build_manifest",
    "media_phash_dedup",
    # appended r4: safety rewrite, boilerplate detection, and the
    # PQ train→encode→ADC→refine pipeline (the heaviest single query —
    # it is a full index build plus a search, kept headline because
    # that IS the production shape)
    "text_pii_redact",
    "text_boilerplate_report",
    "ann_pq_adc",
    # appended r4, second wave: the graph family's iterative showcase,
    # the DSIR selection pipeline, and the CDC merge primitive
    "graph_copurchase_pagerank",
    "corpus_dsir_select",
    "cdc_apply_tombstones",
    # appended r5: the bucket-capped production tier of the phash
    # dedup — the sf1 scaling run caught the exact tier going 46× at
    # 10× assets (quadratic pair list on aHash-biased buckets); the
    # capped tier is O(cap·n) by construction and this entry keeps it
    # measured
    "media_phash_dedup_capped",
    # appended r5, second wave: SemDeDup (cluster-then-prune semantic
    # dedup — kmeans + per-cell GEMM; 1.96 s at sf0.1, 3.3× at 10×)
    "dedup_semantic_semdedup",
    # appended r5, third wave: the dense-corpus MinHash tier (16×4
    # banding, cross-engine md5 signatures) — added after the sf1→sf10
    # run measured the 32×2 dfcap tier at 45× per decade on the
    # vocabulary-saturated corpus (candidates ×74); this tier is 7.9×
    # per decade with exactly-linear verified-pair output
    "dedup_minhash_lsh_dense",
    # appended r6: the xxhash64 production twin of the dense tier —
    # same _dense_band_verify pipeline, signature without the md5
    # replayability tax (~2× the md5 tier; parity-tested recall ≥0.95
    # at j≥0.8 in tests/test_operators.py)
    "dedup_minhash_lsh_dense_fast",
    # appended r7: the auto-k SemDeDup production twin — k = ceil(N/512)
    # pins expected cell size (per-cell GEMM) as the corpus grows;
    # receipt SCALE_RECEIPT_r07_semdedup.json (10× vectors: k 4→40,
    # max cell ×1.76, wall ×3.0); parity-pinned to the k=8 oracle tier
    "dedup_semantic_semdedup_auto",
    # appended r7, second wave: the df-capped candidate tier of the
    # exact n-gram Jaccard join — the sf1→sf10 receipt measured the
    # exact tier at 10.6× per data decade (Σdf² candidate growth on
    # the saturated corpus); this tier bounds candidates at O(cap·Σdf)
    # while emitting bit-identical jaccard values (full-set verify)
    "dedup_ngram_jaccard_capped",
    # appended r7, third wave: IVF-PQ — the composed lake-scale ANN
    # index shape (probe n_probe cells, ADC-score only their members,
    # exact-refine). Headline because it is the production search
    # plan at 10^9 vectors; oracle-checked end to end (both trainings
    # replayed in DuckDB)
    "ann_ivf_pq",
    # appended r7, fourth wave: the auto-k production twin — cells
    # sized ceil(N/512) so probe cost stays constant as the corpus
    # grows (the pinned k=8 tier's cells grow with N); bit-equal to
    # ann_pq_adc at smoke scale, recall-floored at sweep scale
    "ann_ivf_pq_auto",
    # appended r8: the vendored-GIF driver gate — LZW + palette +
    # 4-pass de-interlace through the same Arrow mapInPandas byte path
    # as the PNG/JPEG gates, closed-form oracle
    "media_gif_decode",
    # appended r8, second wave: exact ungrouped quantiles via the
    # distributed-ranking recipe — the lake-scale exact path whose
    # naive form (ungrouped percentile()) is a one-buffer aggregation
    "agg_quantiles_distributed_exact",
    # appended r8, third wave: the animated-GIF gate — multi-image
    # framing + compositing through the same byte path
    "media_gif_frames",
    # appended r8, fourth wave: grouped exact percentiles via grouped
    # distributed ranking (partition_by) — the skewed-few-groups case
    # where both percentile() buffers and Window.partitionBy serialize
    "agg_percentiles_distributed_exact",
    # appended r9: the many-small-groups exact tier completing the
    # quantile decision table — per-customer exact quartiles where the
    # aggregation buffer is bounded by the largest group
    "agg_percentiles_grouped_window",
    # appended r9, second wave: Morton-curve clustering profile — the
    # file-skipping layout math (min-max scale + bit interleave) as
    # exact shared BIGINT arithmetic
    "layout_zorder_buckets",
    # appended r10: the end-to-end z-order scan — zorder_write
    # the transactional twin: manifest-backed build (replace commit) +
    # staged-segment append (add commit) + pointer-resolved scan — the
    # lifecycle cost of the layout family's durable mode
    "layout_zorder_box_query_tx",
    # materializes the clustered layout and the box query is answered
    # FROM it (write + pruned read in one measured operation)
    "layout_zorder_box_query",
    # appended r12: the transactional receipt lake lifecycle — two
    # atomic month-partitioned commits + an exactly-once replay +
    # pointer-resolved pruned read, value-checked against raw orders
    "receipts_lake_tx_roundtrip",
    # appended r12: the bound-drift lifecycle — manifest-backed build,
    # worst-case drifted append (every key past the frozen box), the
    # manifest-only zorder_drift metric, full re-freezing compact, and
    # the post-compact drift=0 + losslessness check, all in one
    # measured operation (the compaction-cron decision path)
    "layout_zorder_drift_lifecycle",
)

# headline entries whose warm cost is dominated by per-invocation index
# TRAINING (k-means + PQ codebooks) rather than query execution — summed
# separately as headline_index_build_sec so the core suite stays
# round-over-round comparable
_INDEX_BUILD = frozenset({"ann_pq_adc", "ann_ivf_pq", "ann_ivf_pq_auto"})


def summary_record(
    timings: dict[str, float],
    medians: dict[str, float],
    sf: float,
    load_at_start: float | None,
    load_at_end: float | None,
) -> dict:
    """The suite totals of the summary line, from the per-query min
    (``timings``) and median (``medians``) warm seconds."""
    total = round(sum(timings.values()), 3)
    # r8 split (round-7 verdict #8): the ANN index-build entries train
    # both quantizers per invocation BY DESIGN (that is the production
    # build shape) — ~10 s of the suite that is training tax, not query
    # regression. Separate sums let round-over-round comparison track
    # the query core without eating the training cost.
    build_sum = round(
        sum(timings[n] for n in _INDEX_BUILD if n in timings), 3
    )
    return {
        "metric": "headline_suite_warm_sec",
        "value": total,
        "unit": "sec",
        "value_median": round(sum(medians.values()), 3),
        "headline_core_sec": round(total - build_sum, 3),
        "headline_index_build_sec": build_sum,
        "n_queries": len(timings),
        "sf": sf,
        "load_per_cpu_at_start": load_at_start,
        "load_per_cpu_at_end": load_at_end,
    }


def summary_line(summary: dict, timings: dict[str, float]) -> str:
    """The LAST stdout line, which the driver parses from a ~2000-char
    tail buffer: ``summary`` plus ``queries``, each query's min warm
    time in integer ms. A headline query is keyed by its position in
    ``HEADLINE`` (append-only, so a key names the same query in every
    round) and any other query by its name. Name keys overflowed the
    buffer by r9 (BENCH_r{9,10} parsed:null): the 60 headline names
    alone take 1,258 chars. The detail line and BENCH_DETAIL_r{N}.json
    carry the names."""
    pos = {n: str(i) for i, n in enumerate(HEADLINE)}
    ms = {pos.get(n, n): round(t * 1000) for n, t in timings.items()}
    return json.dumps({**summary, "queries": ms}, separators=(",", ":"))


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # Provenance: 1-minute load average BEFORE our own Spark session
    # spins up, normalized by CPU count. r3's driver-recorded bench
    # read 39 s where a solo rerun read 32 s — this field lets a reader
    # tell a contended run from a regression. > ~0.5 means another
    # full workload was already active on the box.
    try:
        load_per_cpu = round(os.getloadavg()[0] / (os.cpu_count() or 1), 3)
    except OSError:
        load_per_cpu = None

    from fintech_etl_spark.registry import queries
    from fintech_etl_spark.session import build_session

    spark = build_session("bench")
    qs = queries()
    names = [n for n in HEADLINE if n in qs]
    extra = os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "")
    names += [n for n in extra.split(",") if n and n in qs and n not in names]

    def _load() -> float | None:
        try:
            return round(os.getloadavg()[0] / (os.cpu_count() or 1), 3)
        except OSError:
            return None

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    query_load: dict[str, float | None] = {}
    for name in names:
        fn = qs[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        # min of three timed runs: this box has noisy neighbors
        # (±30-50% run-to-run on identical plans; driver-vs-idle spread
        # made r3 and r6 honest runs read as regressions), and min-of-n
        # is the standard robust estimator for "how fast does this plan
        # actually run". The per-query load average + the min/median
        # spread make a contended run self-diagnosing: high load +
        # median >> min = box contention, not the code.
        runs = []
        query_load[name] = _load()
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)

    detail = {
        "metric": "headline_suite_detail",
        "queries": timings,
        "queries_median": medians,
        "load_per_cpu_per_query": query_load,
    }
    summary = summary_record(timings, medians, sf, load_per_cpu, _load())
    # Medians + per-query load go to a sidecar AND an early stdout line:
    # round 7's driver bench came back parsed:null because everything
    # shared ONE final JSON line that outgrew the driver's tail buffer.
    # The driver parses the LAST JSON line — keep it compact.
    # The sidecar is PER-ROUND (BENCH_DETAIL_r{N}.json, r9 verdict #3):
    # a single mutable filename left the working tree dirty after every
    # driver bench and erased per-query history. The round number is
    # the next BENCH_r{N} slot (the driver writes BENCH_r{N}.json for
    # the round being benched AFTER running this), overridable via
    # SPARK_GRAFT_ROUND.
    here = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if not rnd:
        import re as _re

        done = [
            int(m.group(1))
            for f in os.listdir(here)
            if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        rnd = f"{(max(done) + 1) if done else 1:02d}"
    try:
        with open(
            os.path.join(here, f"BENCH_DETAIL_r{rnd}.json"),
            "w",
        ) as fh:
            json.dump(
                {
                    "metric": "headline_suite_full",
                    "detail": detail,
                    "summary": summary,
                },
                fh,
                indent=1,
            )
    except OSError:
        pass
    print(json.dumps(detail))
    print(summary_line(summary, timings))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
