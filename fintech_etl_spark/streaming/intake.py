"""Streaming invoice intake: file-arrival micro-batches.

The reference's trigger is an HTTP push per file with FastAPI
background tasks (/root/reference/intake/handlers.py:75-90) and its
backfill re-lists the bucket with no processed-marker, so the same
files reprocess forever (/root/reference/main.py:181-183 — SURVEY §2.6
known bug). Structured Streaming's file source is the Spark-native
replacement: the checkpoint records which files were consumed
(exactly-once source semantics), each discovered file becomes part of
a micro-batch, and the webhook/parquet sinks run in ``foreachBatch``.

Delivery: source exactly-once + sink at-least-once ⇒ end-to-end
at-least-once, with ``document_id`` as the receiver-side idempotency
key — strictly better than the reference's at-most-once (errors
swallowed, /root/reference/stream/util.py:59-60).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fintech_etl_spark.operators.receipts import build_receipts
from fintech_etl_spark.schemas import INVOICE_CSV_SCHEMA
from fintech_etl_spark.sources.invoice_csv import ROW_IDX, SOURCE_PATH

BatchHandler = Callable[[DataFrame, int], None]


def start_invoice_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    on_receipts: BatchHandler,
    *,
    gcs_bucket: str = "",
    run_date: _dt.date,
    run_ts: int = 0,
    max_files_per_trigger: int = 32,
) -> StreamingQuery:
    """Watch ``landing_dir`` for CSVs; emit receipt batches to ``on_receipts``.

    The streaming scan needs a declared schema (no inference mid-stream),
    which binds positionally — acceptable here because the landing zone
    is produced by our own intake writer (one vendor export format).
    A heterogeneous upload goes through the batch path one file at a
    time (``process-csv``), which binds by header name; a multi-file
    batch there refuses any file whose header differs from the
    batch's first file.

    ``maxFilesPerTrigger`` bounds micro-batch size so a backfill burst
    of thousands of files doesn't become one giant batch.
    """
    raw = (
        spark.readStream.schema(INVOICE_CSV_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(landing_dir)
        .withColumn(SOURCE_PATH, F.input_file_name())
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # monotonically_increasing_id is illegal on a streaming DF but
        # fine here: foreachBatch hands us a static micro-batch, and the
        # id preserves within-file row order for header extraction.
        # per_file: a micro-batch may span many files; the same invoice
        # number in two files must yield two receipts (reference parity).
        receipts = build_receipts(
            batch_df.withColumn(ROW_IDX, F.monotonically_increasing_id()),
            per_file=True,
            gcs_bucket=gcs_bucket,
            gcs_path="",
            run_date=run_date,
            run_ts=run_ts,
        )
        on_receipts(receipts, batch_id)

    return (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
