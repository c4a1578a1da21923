"""Vendor-invoice CSV source.

Replaces the reference's eager ``pd.read_csv`` of a whole in-memory
payload (/root/reference/stream/util.py:97-100, :181-184) with a
declarative Spark CSV scan: declared schema (SURVEY §1.3/§1.5),
PERMISSIVE mode so garbage cells degrade instead of failing the file,
and a file-order row index so "first row of the group" semantics
(/root/reference/stream/processor.py:43) survive distribution.

The same reader works for local paths, ``gs://`` (GCS Hadoop
connector), ``s3a://`` — storage is a URI concern, not an operator
concern.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fintech_etl_spark.schemas import INVOICE_CSV_SCHEMA

ROW_IDX = "_row_idx"
SOURCE_PATH = "_source_path"


def _input_files(spark: SparkSession, paths: list[str]):
    """Yield ``(fs, path)`` for each input file in listing order: globs
    expanded with ``globStatus``, directories listed one level deep
    without Spark's hidden ``_``/``.`` files — the files Spark scans."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        jp = jvm.org.apache.hadoop.fs.Path(p)
        fs = jp.getFileSystem(conf)
        for st in fs.globStatus(jp) or []:
            if not st.isDirectory():
                yield fs, st.getPath()
                continue
            for child in fs.listStatus(st.getPath()):
                name = child.getPath().getName()
                if child.isFile() and not name.startswith(("_", ".")):
                    yield fs, child.getPath()


def _first_header(spark: SparkSession, paths: list[str]) -> list[str] | None:
    """The first non-blank line of the first input file that has one,
    parsed as a CSV record, read on the driver through the Hadoop
    ``FileSystem`` API (so ``gs://``/``s3a://`` and compressed files
    read as Spark reads them). ``None`` when there is no input file or
    no file has a non-blank line."""
    jvm = spark._jvm
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark._jsc.hadoopConfiguration()
    )
    for fs, jp in _input_files(spark, paths):
        stream = fs.open(jp)
        codec = codecs.getCodec(jp)
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        try:
            line = reader.readLine()
            # Spark skips lines that Java's trim() empties, and drops a
            # leading UTF-8 byte-order mark
            while line is not None and all(c <= " " for c in line):
                line = reader.readLine()
        finally:
            reader.close()
        if line is not None:
            return next(csv.reader([line.lstrip("\ufeff")]))
    return None


def _safe_header(names: list[str], case_sensitive: bool) -> list[str]:
    """Spark's header-to-column-name rules: an empty name becomes
    ``_c<i>``, and every occurrence of a name that appears more than
    once (case-insensitively unless ``spark.sql.caseSensitive``) gets
    its index appended."""
    fold = (lambda n: n) if case_sensitive else str.lower
    seen: dict[str, int] = {}
    for n in names:
        seen[fold(n)] = seen.get(fold(n), 0) + 1
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[fold(n)] > 1 else n
        for i, n in enumerate(names)
    ]


def read_invoice_csv(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Scan one or many vendor-invoice CSVs.

    The header is read on the driver: the first non-blank line of the
    first input file (globs and directories expanded as Spark expands
    them) becomes an all-string schema under Spark's own safe-name
    rules, so building the scan runs no Spark job. That one header
    serves the whole batch, and Spark checks every other file's header
    against it inside the scan (``enforceSchema=False``): a batch whose
    files disagree on column order or names raises, naming the file,
    instead of binding the other files' columns by position.

    Adds:
      - ``_row_idx``     — monotonically increasing within each file split,
        preserving CSV file order for first-row header extraction. CSVs are
        read as a single split per file (they are small push payloads), so
        this is total file order.
      - ``_source_path`` — originating file URI (drives ``source_file`` and
        per-file receipt grouping when many files are scanned at once).
    """
    paths = [path] if isinstance(path, str) else list(path)
    header = _first_header(spark, paths)
    if header is None:
        # no input file, or only blank ones: the declared schema lets
        # the scan raise Spark's own missing-path error or read 0 rows
        schema = INVOICE_CSV_SCHEMA
    else:
        case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
        schema = T.StructType([
            T.StructField(n, T.StringType(), True)
            for n in _safe_header(header, case_sensitive)
        ])
    df = (
        spark.read.option("header", True)
        .schema(schema)  # everything string, named from the header
        .option("enforceSchema", False)  # every file's header must match
        .option("mode", "PERMISSIVE")
        # utf-8 decode with replacement, same stance as the reference's
        # bytes.decode(errors="replace").
        .option("encoding", "UTF-8")
        .csv(paths)
    )
    # Match the declared columns BY HEADER NAME, not position: the
    # reference reads by name with per-column defaults (row.get(key,
    # default)), tolerating reordered or partial exports. Missing columns
    # become nulls (the rule expressions supply defaults); unknown extra
    # columns are dropped. Catalyst still prunes unused columns out of
    # the scan, and the per-file header check covers the columns read.
    present = set(df.columns)
    cols = [
        F.col(f.name) if f.name in present else F.lit(None).cast(f.dataType).alias(f.name)
        for f in INVOICE_CSV_SCHEMA.fields
    ]
    return df.select(*cols).withColumn(
        ROW_IDX, F.monotonically_increasing_id()
    ).withColumn(SOURCE_PATH, F.input_file_name())
