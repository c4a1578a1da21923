"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same config names hold on a real
cluster (shuffle partitions and maxPartitionBytes are re-derived from
cluster size there). AQE is always on: it coalesces post-shuffle
partitions at small SF and splits skewed joins at large SF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
#: parquet reader rejects outright; with this legacy flag the column
#: surfaces as raw INT64 nanos instead (callers truncate to µs with
#: integer div). Single source of truth for the config key — set at
#: build time below and ensured at read time by
#: :func:`ensure_nanos_as_long` for externally-built sessions.
NANOS_AS_LONG_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Set ``nanosAsLong`` on an already-running session if unset.

    ``build_session`` bakes it into the builder; the round driver and
    other embedders hand query functions an externally built
    SparkSession that never went through ``build_session`` — for those
    this runtime ensure is load-bearing, not duplication. Guarded so a
    session that already has it is left untouched.
    """
    if spark.conf.get(NANOS_AS_LONG_KEY, "false") != "true":
        spark.conf.set(NANOS_AS_LONG_KEY, "true")


def build_session(
    app_name: str = "fintech_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-aware defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. On a cluster,
    pass ``master=None`` and let spark-submit own it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB split targets keep scan tasks balanced at any SF.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Runtime bloom filters: a selective join side injects a bloom
        # filter into the other side's scan — at 100 TB this prunes
        # shuffle input the static optimizer can't see.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Footer-stats pushdown: filterless count/min/max aggregates
        # read parquet metadata instead of data pages.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # see NANOS_AS_LONG_KEY: session-wide so behavior doesn't
        # depend on which table was loaded first.
        .config(NANOS_AS_LONG_KEY, "true")
        # Reliable checkpoints (the barrier module's "reliable"/"auto"
        # strategy on checkpoint-dir clusters) are never deleted by
        # Spark by default — iterative operators (pagerank, connected
        # components, k-means/PQ fits) would leave one materialized
        # copy per iteration per job in the checkpoint dir forever.
        # With the context cleaner tracking them, checkpoint files are
        # removed once the DataFrame is garbage-collected.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # planner-level filter pushdown into Python DataSources
        # (sources/inbox.py implements pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Partition discovery: above this many paths Spark delegates
        # leaf-file listing to a distributed job, whose fixed schedule+
        # collect latency (~0.1-0.2 s) dwarfs a driver-side listing of
        # O(100) directories on any filesystem. Our manifest-backed
        # lakes bound what a read ever lists — segments are resolved
        # from the manifest pointer and each segment holds at most a
        # few hundred partition dirs by commit granularity — so the
        # default of 32 fired a listing JOB per segment read (measured
        # 0.50 s -> 0.17 s on the month-partitioned receipts lake read
        # at sf0.1). 1024 keeps the distributed path for genuinely
        # wide layouts (foreign tables, no manifest) where parallel
        # listing is the right call.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "1024"
        )
        # Generated-code cache: every whole-stage and expression class
        # is compiled once and reused while it stays cached. The
        # default keeps 100 classes, below the engine's working set
        # (distinct classes, measured with a large cache: 167 for the
        # 12-query perfbench star mix, 868 for the 60-query headline
        # suite and 2,350 for the full 214-query registry, both at
        # sf0.01), so an interleaved mix evicted and recompiled nearly
        # every class on every pass and re-warmed the JIT for each.
        # 4096 covers the whole registry with ~1.7x margin. This is a
        # static, per-JVM setting: the driver and every executor JVM
        # hold their own cache, the first session in a JVM fixes its
        # size, and at 100 TB an evicted class is recompiled in each
        # executor that runs the next stage needing it. Metaspace is
        # the cost: 208 MiB after a full-registry pass with every class
        # cached, and 188 MiB (vs 200 MiB at the default, whose evicted
        # classes churn through new class loaders) after two headline
        # passes; driver VmHWM 2.96 GB vs 3.07 GB at the default.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
