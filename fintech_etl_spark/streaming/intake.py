"""Streaming invoice intake: file-arrival micro-batches.

The reference's trigger is an HTTP push per file with FastAPI
background tasks (/root/reference/intake/handlers.py:75-90) and its
backfill re-lists the bucket with no processed-marker, so the same
files reprocess forever (/root/reference/main.py:181-183 — SURVEY §2.6
known bug). Structured Streaming's file source is the Spark-native
replacement: the checkpoint records which files were consumed, and
each micro-batch of newly landed files is handed on by path.

The stream only discovers files. What happens to them is the batch
pipeline's job (``cli.process_invoices``): it reads each file by its
own header, commits exactly once per source file — so a replay after
a lost checkpoint re-lists the files and commits nothing — and
delivers notifications through the lake's outbox.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

#: bounds a micro-batch, so a backfill burst of thousands of landed
#: files doesn't become one giant commit
_MAX_FILES_PER_TRIGGER = 32
#: the binaryFile source's fixed columns; a streaming source must be
#: given its schema
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def start_invoice_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    on_files: Callable[[list[str]], None],
) -> StreamingQuery:
    """Watch ``landing_dir`` for landed files and call ``on_files``
    with each micro-batch's file paths, at most 32 per batch, until
    every file present at start is consumed (``availableNow``).

    The source is the checkpointed ``binaryFile`` source with only
    ``path`` selected, so Spark lists the files but never reads their
    content; the callback reads them."""
    paths = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", _MAX_FILES_PER_TRIGGER)
        .load(landing_dir)
        .select("path")
    )

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        files = [r.path for r in batch_df.collect()]
        if files:
            on_files(files)

    return (
        paths.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
