"""Streaming Z-order lake maintenance: watch a landing glob for JSONL
row batches and cluster each micro-batch into a manifest-backed
z-order layout — the layout twin of the ANN vector ingest
(:func:`fintech_etl_spark.streaming.ann.start_vector_ingest`), riding
the same exactly-once machinery:

- the appended segment and its source-FILE keys land in ONE atomic
  manifest commit (``zorder_append(file_keys=...)`` →
  ``sinks/manifest.py``), so across a checkpoint loss a replayed file
  is skipped by the bucket-probing ingested-history check and a crash
  between staging and commit leaves only an invisible orphan
  (``manifest.vacuum`` collects it) — no append-to-marker window;
- dedup is keyed on the source file, Spark's own unit of file-stream
  work, never on batch ids (they restart at 0 per checkpoint) and
  never on whole-batch digests (a replay may recompose files into
  different batches); a MIXED batch appends only rows from
  unprocessed files;
- readers (``read_zorder`` / ``layout_zorder_box_query_tx``-style
  scans) resolve the pointer per call, so rows flow
  file → clustered segment → pruned box scans with no rebuild and no
  restart anywhere; each appended segment clusters against the
  layout's FROZEN curve bounds (batch-proportional cost, clamp at the
  curve edge for drifting keys); drift maintenance is SIGNAL-AND-
  HANDOFF: ``compact_when_drift_above=0.5`` polls ``zorder_drift``
  after each commit (one pointer read, zero data scanned) and, when
  the live keys have outgrown the frozen curve, commits a
  ``compaction_due`` marker (one more metadata commit, microseconds)
  — the ingest keeps appending against the old bounds while a
  maintenance entry point (``cli.py layout-maintain`` on a cron, or
  any ``run_due_compaction`` caller) owns the full re-freezing
  rewrite. The r12 shape ran ``zorder_compact`` INLINE here; at
  100 TB that stalls ``foreachBatch`` for the whole corpus rewrite
  the moment drift trips — the Iceberg posture is that maintenance
  is not the writer's job. Appends landing DURING the handed-off
  compaction are carried forward by its remove+add commit (pinned by
  tests/test_streaming_layout.py).

The reference engine's intake loop re-reads its whole inbox every
cycle and has no processed-marker at all
(/root/reference/main.py:181-183); this is the lake-scale shape of
that intake — checkpointed, exactly-once, and clustering as it lands.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fintech_etl_spark.operators.layout import (
    compaction_due,
    mark_compaction_due,
    zorder_append,
    zorder_bounds,
    zorder_drift,
)
from fintech_etl_spark.sinks import manifest as mf


def start_zorder_ingest(
    spark: SparkSession,
    rows_glob: str,
    checkpoint_dir: str,
    layout_path: str,
    schema: str,
    *,
    num_files: int = 4,
    max_files_per_trigger: int = 32,
    on_batch: Callable[[int, int], None] | None = None,
    compact_when_drift_above: float | None = None,
) -> StreamingQuery:
    """Stream JSONL row files matching ``rows_glob`` (fields per
    ``schema``, which must include the layout's z-order key columns)
    into the manifest-backed z-order layout at ``layout_path`` —
    exactly-once per source file (see module docstring).

    ``layout_path`` must be a :func:`zorder_write` layout: the
    exactly-once contract IS the manifest commit, so any other path
    raises ``ValueError`` before the stream starts. availableNow
    trigger (cron-style ingest)."""
    zorder_bounds(layout_path)  # raises unless a manifest layout
    if compact_when_drift_above is not None and not (
        0 < compact_when_drift_above <= 1
    ):
        raise ValueError(
            "start_zorder_ingest: compact_when_drift_above must be in "
            f"(0, 1], got {compact_when_drift_above!r}"
        )

    incoming = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(rows_glob)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        # tag rows with their source file BEFORE caching — both
        # inputFiles() and a post-cache input_file_name() come back
        # empty on a micro-batch frame (same note as the ANN ingest)
        tagged = batch_df.withColumn("_src", F.input_file_name()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            files = sorted(
                r["_src"] for r in tagged.select("_src").distinct().collect()
            )
            # bucket-probing membership: flat per-batch cost as the
            # lifetime file count grows
            done = mf.ingested_contains(layout_path, files)
            todo = [f for f in files if f not in done]
            if not todo:
                return  # crash-retry of files whose append committed
            b = tagged
            if len(todo) < len(files):
                # mixed replay: keep only rows from unprocessed files
                b = tagged.filter(F.col("_src").isin(todo))
            b = b.drop("_src")
            # NULL z-order keys fail the stream loudly BEFORE any
            # append (the vector ingest's fail-stop posture): a NULL
            # key row would land un-clusterable in some file forever —
            # silently worse than a halted ingest. zcols come from the
            # layout's own frozen meta, so the check tracks the curve.
            zcols = zorder_bounds(layout_path)["cols"]
            chk = b.agg(
                F.count(F.lit(1)).alias("n"),
                *[F.count(c).alias(f"n_{c}") for c in zcols],
            ).first()
            if chk["n"] == 0:
                return
            bad = {c: chk["n"] - chk[f"n_{c}"] for c in zcols}
            if any(bad.values()):
                raise ValueError(
                    f"zorder ingest batch {batch_id}: NULL z-order "
                    f"key(s) {dict((c, v) for c, v in bad.items() if v)} "
                    "(malformed JSONL line / schema drift?) — a NULL "
                    "key cannot be placed on the curve; fix the feed"
                )
            n = zorder_append(
                b, layout_path, num_files=num_files, file_keys=todo
            )
            if compact_when_drift_above is not None:
                # the drift poll is one pointer read (zero data) —
                # free per batch; when it trips, SIGNAL, don't rewrite:
                # one compaction-due metadata commit, then keep
                # ingesting. The rewrite belongs to the maintenance
                # cron (run_due_compaction / `layout-maintain`), whose
                # remove+add commit carries any appends this stream
                # lands meanwhile. Marker already up? Nothing to do —
                # re-signaling every batch would just churn versions.
                d = zorder_drift(layout_path)["drift"]
                if (
                    d > compact_when_drift_above
                    and compaction_due(layout_path) is None
                ):
                    mark_compaction_due(
                        layout_path,
                        drift=d,
                        threshold=compact_when_drift_above,
                    )
            if on_batch is not None:
                on_batch(batch_id, n)
        finally:
            tagged.unpersist()

    return (
        incoming.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
