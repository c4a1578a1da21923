"""Star-schema table loader (driver testdata / any parquet lake).

Parquet is the engine's canonical columnar format: Catalyst pushes
filters and prunes columns into the scan, and at 100 TB the row-group
statistics give partition pruning for free. No schema inference — the
parquet footers carry the schema, and STAR_SCHEMAS documents the
contract for other formats.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from fintech_etl_spark.schemas import TABLE_NAMES
from fintech_etl_spark.session import ensure_nanos_as_long

#: Inferred-schema memo per live SparkSession:
#: {(abs path, st_mtime_ns, st_size) -> StructType}.
#: ``spark.read.parquet(path)`` re-infers the schema from parquet
#: footers on EVERY call (~60-85 ms per table on local testdata, paid
#: once per load_table call per query invocation); an unchanged table
#: keeps its schema, so the first call infers and every later call
#: against the same mtime and size passes the memoized schema
#: back through ``spark.read.schema(...)`` — identical analyzed schema
#: (the memo IS the inference result), no footer re-read, and the file
#: LISTING still happens per read (fresh attribute ids per call keep
#: self-joins unambiguous; Spark's own FileStatusCache makes the
#: relisting cheap). This is metadata memoization only — every action
#: still scans the parquet data files; results are never cached. The
#: same role is played by a table catalog (HMS/Iceberg) in production:
#: schema from metadata, not a per-query footer sniff.
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _read_parquet_memoized(spark: SparkSession, path: str) -> DataFrame:
    try:
        memo = _SCHEMA_MEMO.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable (mock/stub)
        return spark.read.parquet(path)
    # key on the ABSOLUTE path: a relative sf_dir + a later chdir must
    # not let two different files share one memo entry (a wrong
    # user-supplied schema silently nulls mismatched columns); mtime and
    # size invalidate the entry when the table is rewritten in-session
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # let the reader name the error
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    sch = memo.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        memo[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright. We read it as raw INT64 nanos
    (``nanosAsLong``) and truncate to microseconds with integer ``div``
    — double division would lose precision above 2^53 ns (~1970+104
    days), and truncation (not rounding) matches how engines that do
    read NANOS (DuckDB, Arrow→Python) surface it at µs precision.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet_memoized(spark, path)
    ensure_nanos_as_long(spark)
    df = _read_parquet_memoized(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    ts_fields = [
        f.name
        for f in df.schema.fields
        if f.name == "ts" and isinstance(f.dataType, LongType)
    ]
    for c in ts_fields:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every star-schema table present under ``sf_dir``.

    Delegates to :func:`load_table` so every table — notably ``events``
    with its TIMESTAMP(NANOS) column — gets identical handling whether
    loaded individually or in bulk (no order-dependent behavior).
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def list_objects(spark: SparkSession, path_glob: str) -> DataFrame:
    """Object-store listing as a DataFrame (SURVEY S3): the reference
    pages a GCS bucket client-side (/root/reference/main.py:172-192);
    Spark's binaryFile source distributes the listing and yields typed
    metadata columns (path, modificationTime, length) plus the payload,
    which we drop here so only the footer-level metadata is read."""
    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "length", "modificationTime")
    )


def write_documents_jsonl(df: DataFrame, path: str) -> None:
    """Documents as JSON-lines — the interchange format every LLM-data
    pipeline speaks. One file per partition; compression left to conf
    (spark.sql.json.*)."""
    df.write.mode("overwrite").json(path)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL document source with the declared schema (no inference —
    a malformed line nulls its row in PERMISSIVE mode instead of
    poisoning the scan's inferred types)."""
    from fintech_etl_spark.schemas import STAR_SCHEMAS

    return (
        spark.read.schema(STAR_SCHEMAS["documents"])
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every star-schema table as a temp view so users can
    query the engine with plain ``spark.sql("SELECT ... FROM lineitem")``
    — the SQL half of the API surface. Views are lazy: no data is read
    until a query runs, and each view carries the same declared-schema /
    nanos-timestamp handling as :func:`load_table`. Returns the names."""
    names = []
    for t in TABLE_NAMES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
            names.append(t)
    return names
