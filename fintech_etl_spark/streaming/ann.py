"""Streaming ANN serving: the online half of the similarity-search
tier. Query vectors arrive continuously as JSONL micro-batches; each
batch probes a PREBUILT LSH bucket index of the static corpus (the
same 12-band × 4-sign-bit scheme as the batch ``ann_lsh_bucketed``
operator, same deterministic hyperplanes) and emits per-query top-k
cosine neighbors.

Index/layout contract (the 100 TB shape):

- ``build_lsh_index`` materializes the corpus side ONCE: unit-
  normalized vectors exploded to (band, bucket, neighbor_id, u),
  written as parquet **partitioned by band** — at lake scale the
  layout upgrade is (band, bucket-prefix) directory partitioning so a
  probe becomes a pruned partition read; rebuilding the index is a
  linear pass, never part of the query path.
- per micro-batch, the QUERY side is tiny and broadcasts: bucket the
  batch with one Arrow matmul (identical kernel to the batch tier),
  broadcast-join it against the index on (band, bucket), score one
  dot per candidate, window-rank to top-k. Only (ids, double) rows
  shuffle; the corpus vectors never leave their scan.

Batch-parity: for the same query vectors, the emitted neighbor sets
equal ``ann_lsh_bucketed``'s — pinned by
``tests/test_streaming_sinks.py::test_streaming_ann_matches_batch_lsh``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fintech_etl_spark.operators.layout import _footer_rows
from fintech_etl_spark.operators.similarity import (
    _DIM,
    _KM_K,
    _N_BANDS,
    _N_PLANES,
    _TOP_K,
    _deterministic_hyperplanes,
    dot,
)
from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sources.tables import load_table

ResultHandler = Callable[[DataFrame, int], None]

_QUERY_SCHEMA = f"query_id long, embedding array<double>"

# empty-dataset schemas for manifest-backed reads (partition columns
# come back as ints from directory inference, so pin them the same way)
_LSH_SCHEMA = "neighbor_id long, u array<double>, band int, bucket int"
_IVF_SCHEMAS = {
    "codes": "vec_id long, sub int, pq_cell int, cell int",
    "vectors": "vec_id long, v array<double>, cell int",
}


def _read_lsh_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The index scan both the serve stream and build-count use: it
    resolves the `_current` pointer (a consistent snapshot no
    compaction can tear); a path without a manifest raises
    ``ValueError``."""
    return mf.read_dataset(spark, index_path, "index", _LSH_SCHEMA)


def _read_ivf_dataset(
    spark: SparkSession, index_path: str, name: str
) -> DataFrame:
    """The manifest-resolved scan of an IVF-PQ index's ``codes`` or
    ``vectors`` dataset (``ValueError`` without a manifest)."""
    return mf.read_dataset(spark, index_path, name, _IVF_SCHEMAS[name])


def _bucketed_units(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(id…, u, bks): unit-normalize + all 48 plane projections in one
    Arrow matmul — the identical kernel as ann_lsh_bucketed, factored
    for reuse by the index build and the per-batch query path."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    P = np.array(
        _deterministic_hyperplanes(_N_PLANES * _N_BANDS, _DIM), dtype=np.float64
    ).T
    weights = 1 << np.arange(_N_PLANES)

    def _buckets(u):  # (pd.Series) -> pd.Series
        U = np.stack(u.to_numpy())
        bits = (U @ P >= 0).astype(np.int64)
        packed = bits.reshape(len(U), _N_BANDS, _N_PLANES) @ weights
        return pd.Series(list(packed))

    buckets_udf = pandas_udf(_buckets, "array<long>")
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return df.withColumn("u", F.transform(v, lambda x: x / norm)).withColumn(
        "bks", buckets_udf(F.col("u"))
    )


def build_lsh_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
) -> int:
    """Materialize the corpus LSH index: (band, bucket, neighbor_id, u)
    parquet partitioned by (band, bucket) — with 4 sign bits per band
    the bucket space is 12 × 16 = 192 directories, so a probe of a
    query batch's (band, bucket) pairs is a DIRECTORY-level prune
    (the serving path pushes the collected pairs as literal filters;
    at a wider bucket space the second key becomes a bucket PREFIX,
    same mechanics). Returns the number of index rows (= corpus size ×
    bands). Linear single pass.

    The index is a manifest dataset (sinks/manifest.py): data lands in
    an immutable staged segment and becomes visible via one atomic
    ``replace`` pointer swap, so compaction is a race-free snapshot
    swap and ingest is exactly-once per source file. A rebuild also
    resets the ingested-file history (``reset_ingested``)."""
    mf.refuse_orphaning_commit(index_path, "build_lsh_index")
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _bucketed_units(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        "u",
        F.posexplode("bks").alias("band", "bucket"),
    )
    seg = mf.new_segment_path(index_path)
    idx.write.mode("overwrite").partitionBy("band", "bucket").parquet(seg)
    # a REBUILD from the corpus tables discards previously STREAMED
    # vectors, so the ingest dedup history must reset with it —
    # otherwise a checkpoint-loss replay of those source files is
    # skipped as "already processed" and the vectors stay missing
    # forever
    mf.commit(index_path, replace={"index": [seg]}, reset_ingested=True)
    # the replace-commit makes this segment the whole index, so its
    # footers carry the exact row count — no re-scan
    return _footer_rows(seg)


def append_lsh_index(
    new_vectors: DataFrame,
    index_path: str,
    *,
    file_keys: list[str] | None = None,
) -> int:
    """Incremental LSH index maintenance — the lake-scale shape where
    an index is APPENDED, never rebuilt. The hyperplanes are
    deterministic and data-independent, so hashing a new batch needs
    nothing from the existing index: bucket the batch with the same
    Arrow matmul, explode to (band, bucket, neighbor_id, u), and stage
    it as a new (band, bucket)-partitioned segment. Cost is linear in
    the BATCH (one narrow pass + a partitioned write); the corpus-side
    index is never read or rewritten, and serving probes see the new
    rows at their next pointer resolution.

    Bit-equality contract (pinned by tests/test_index_append.py):
    ``build(A ∪ B) == append(B) ∘ build(A)`` — exactly, because every
    index row is a pure per-vector function of deterministic planes.

    Caller contract: ``new_vectors`` (vec_id, embedding) must carry ids
    not already indexed — LSH rows are per-(vector, band), so a re-sent
    id would duplicate its 12 rows (the serving dedup collapses them,
    but the index grows). Route re-sends through the Pub/Sub-style
    idempotency ledger upstream. Returns appended index rows
    (batch × bands).

    The staged segment is committed with one atomic pointer swap —
    ``file_keys`` (source-file identities, supplied by the ingest
    stream) land in the same commit, making append + dedup-marker a
    single transaction. A path without a manifest raises
    ``ValueError`` before anything is written."""
    mf.current(index_path)  # refuses a path that is not an index
    n = new_vectors.count()
    if n == 0:
        return 0
    new_rows = (
        _bucketed_units(new_vectors)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "u",
            F.posexplode("bks").alias("band", "bucket"),
        )
    )
    seg = mf.new_segment_path(index_path)
    new_rows.write.mode("overwrite").partitionBy("band", "bucket").parquet(seg)
    mf.commit(index_path, add={"index": [seg]}, file_keys=file_keys)
    return n * _N_BANDS


def start_vector_ingest(
    spark: SparkSession,
    vectors_glob: str,
    checkpoint_dir: str,
    index_path: str,
    *,
    family: str = "lsh",
    max_files_per_trigger: int = 32,
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """The online half of index maintenance: watch ``vectors_glob``
    for JSONL files of new vectors ({vec_id, embedding}) and append
    each micro-batch into the index at ``index_path`` via
    :func:`append_lsh_index` / :func:`append_ivf_pq_index`. The
    streaming checkpoint makes file processing exactly-once in normal
    operation; across a CHECKPOINT LOSS, dedup is keyed on the SOURCE
    FILE — Spark's own unit of file-stream work — never on the batch
    id (ids restart at 0 for any new checkpoint, so a fresh stream
    over new files would have its first batches silently swallowed by
    a bare-batch-id ledger) and never on whole-batch digests (a replay
    may recompose the same files into different batches). A batch
    whose files are all in the manifest's ingested history
    (``ingested_contains``) is skipped; a MIXED batch appends only the
    rows from unprocessed files. The appended segment and its file
    keys land in ONE atomic pointer-swap commit — exactly-once per
    file with no append-to-marker window at all. A crash before the
    commit leaves an invisible orphan segment (``manifest.vacuum``
    collects it); the retry appends cleanly. ``index_path`` must be a
    built index: a path without a manifest raises ``ValueError``
    before the stream starts.

    Serve streams re-resolve the index per batch, so vectors flow
    file → index → query results with no rebuild and no restart
    anywhere. availableNow trigger (cron-style ingest).

    Within-batch duplicate or NULL vec_ids, and NULL embeddings, fail
    the stream loudly BEFORE any append (the same fail-stop posture as
    the Pub/Sub ledger): an appended duplicate would serve twice
    forever, and a silently dropped row would be lost from the index
    forever — both strictly worse than a halted ingest."""
    if family not in ("lsh", "ivf-pq"):
        raise ValueError(f"unknown index family {family!r}")
    mf.current(index_path)  # refuses a path that is not an index

    incoming = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(vectors_glob)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        # tag rows with their source file BEFORE caching — both
        # inputFiles() and a post-cache input_file_name() come back
        # empty on a micro-batch frame
        tagged = batch_df.withColumn("_src", F.input_file_name()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            files = sorted(
                r["_src"] for r in tagged.select("_src").distinct().collect()
            )
            # bucket-probing membership: loads |history|/buckets keys per
            # probe, so this per-batch check stays flat as the lifetime
            # file count grows (mf.ingested_keys would reload the whole
            # history every micro-batch)
            done = mf.ingested_contains(index_path, files)
            todo = [f for f in files if f not in done]
            if not todo:
                return  # crash-retry of files whose append committed
            b = tagged
            if len(todo) < len(files):
                # mixed replay: keep only rows from unprocessed files
                b = tagged.filter(F.col("_src").isin(todo))
            b = b.drop("_src")
            chk = b.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("vec_id").alias("n_id"),
                F.count("embedding").alias("n_emb"),
                F.countDistinct("vec_id").alias("d"),
            ).first()
            if chk["n_id"] != chk["n"] or chk["n_emb"] != chk["n"]:
                raise ValueError(
                    f"vector ingest batch {batch_id}: "
                    f"{chk['n'] - min(chk['n_id'], chk['n_emb'])} row(s) "
                    "with NULL vec_id/embedding (malformed JSONL line?) "
                    "— dropping one silently would lose it from the "
                    "index forever; fix the feed"
                )
            if chk["d"] != chk["n"]:
                raise ValueError(
                    f"vector ingest batch {batch_id}: "
                    f"{chk['n'] - chk['d']} duplicate vec_id(s) — an "
                    "appended duplicate would serve twice forever; "
                    "dedup upstream (ids must be unique per corpus)"
                )
            if chk["n"] == 0:
                return
            if family == "lsh":
                n = append_lsh_index(b, index_path, file_keys=todo)
            else:
                n = append_ivf_pq_index(
                    spark, b, index_path, file_keys=todo
                )["appended_vectors"]
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


def start_ann_queries(
    spark: SparkSession,
    queries_glob: str,
    checkpoint_dir: str,
    index_path: str,
    on_results: ResultHandler,
    *,
    top_k: int = _TOP_K,
    max_files_per_trigger: int = 32,
) -> StreamingQuery:
    """Watch ``queries_glob`` for JSONL query files ({query_id,
    embedding}); per micro-batch emit (query_id, neighbor_id, cos,
    rank) top-k rows to ``on_results``. availableNow trigger — drains
    pending files then stops (cron-style serving; swap the trigger for
    continuous). The index is re-resolved per micro-batch (the read
    sits inside the handler and resolves the ``_current`` pointer) — so
    rows landed by ``append_lsh_index``, or a compacted layout, are
    served WITHOUT a stream restart, and a compaction can even commit
    WHILE a batch scans (snapshot isolation — the race is pinned in
    tests/test_manifest.py). Listing cost is bounded by the
    bucket directory count, not the corpus."""
    from pyspark.sql.window import Window as W

    incoming = (
        spark.readStream.schema(_QUERY_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(queries_glob)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # fresh manifest-pointer resolution per batch
        index = _read_lsh_index(spark, index_path)
        q = _bucketed_units(batch_df.filter(F.col("embedding").isNotNull()))
        qx = q.select(
            "query_id",
            F.col("u").alias("q_u"),
            F.posexplode("bks").alias("band", "bucket"),
        )
        # collect the batch's probed (band, bucket) pairs (≤ 12 per
        # query — tiny) so they become LITERAL filters on the index's
        # partition columns: the probe is a directory prune, reading
        # only the probed buckets' files instead of every band. The
        # join below would drop the other rows anyway; the filter
        # moves that drop from post-scan to the directory listing.
        pairs = {
            (int(r.band), int(r.bucket))
            for r in qx.select("band", "bucket").distinct().collect()
        }
        if not pairs:
            on_results(
                spark.createDataFrame(
                    [], "query_id long, neighbor_id long, cos double, rank int"
                ),
                batch_id,
            )
            return
        # EXACT pair-set prune on an encoded band·NBUCKETS+bucket key
        # (both operands are partition columns, so the expression still
        # folds to a partition filter). The earlier band.isin × bucket.
        # isin Cartesian relaxation saturated once a modest batch
        # touched most buckets — 12 bands × 16 buckets meant "prune"
        # read nearly all 192 directories; the exact set reads only
        # the probed ones.
        n_buckets = 1 << _N_PLANES
        pair_keys = sorted(b * n_buckets + k for b, k in pairs)
        pruned = index.filter(
            (F.col("band") * n_buckets + F.col("bucket")).isin(pair_keys)
        )
        scored = (
            pruned.join(F.broadcast(qx), ["band", "bucket"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(dot(F.col("q_u"), F.col("u")), 4).alias("c"),
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.first("c").alias("cos"))
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id")
        )
        on_results(
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("query_id", "neighbor_id", "cos", "rank"),
            batch_id,
        )

    return (
        incoming.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# IVF-PQ index + serving (the quantized tier of the online ANN stack)
# ---------------------------------------------------------------------------


def _split_hot_cells(
    emb: DataFrame,
    coarse_cent: DataFrame,
    coarse_assign: DataFrame,
    cell_cap: int,
    max_rounds: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Cap IVF cell sizes by re-clustering oversized cells in place —
    the FAISS-style answer to a SKEWED corpus (a hot content cluster
    whose vectors all land in one coarse cell, making every probe of
    that cell a |cluster|-row scan instead of ~N/k).

    Each round: collect cells with > ``cell_cap`` members (≤ k tiny
    rows — the same bounded driver-side step as the probe collect),
    run the SAME deterministic ``kmeans_fit`` on each hot cell's
    members with k = ⌈2·n/cap⌉ (targets half-cap average so Lloyd's
    imbalance rarely re-trips the cap), and renumber the sub-cells
    past the current max id. Probing and appends need NO changes: the
    split only grows the coarse centroid table, and both already take
    nearest-of-whatever-coarse/-holds. Rounds bound the recursion; a
    cell that stays hot after ``max_rounds`` is geometrically
    unsplittable (near-identical vectors — a dedup problem, not a
    layout one) and is left with a loud warning rather than looping.
    Receipted adversarially in SCALE_RECEIPT_r11_ann_skew.json.
    """
    from fintech_etl_spark.operators.similarity import kmeans_fit

    for _ in range(max_rounds):
        sizes = coarse_assign.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        )
        hot = sizes.filter(F.col("n") > cell_cap).collect()
        if not hot:
            return coarse_cent, coarse_assign
        next_id = coarse_cent.agg(F.max("cell")).first()[0]
        hot_ids = [int(r.cell) for r in hot]
        keep_cent = coarse_cent.filter(~F.col("cell").isin(hot_ids))
        keep_assign = coarse_assign.filter(~F.col("cell").isin(hot_ids))
        new_cents, new_assigns = [], []
        for r in hot:
            members = emb.join(
                coarse_assign.filter(F.col("cell") == int(r.cell)).select(
                    "vec_id"
                ),
                "vec_id",
                "semi",
            )
            sub_k = max(2, -(-2 * int(r.n) // cell_cap))
            sub_cent, sub_assign = kmeans_fit(members, k=sub_k)
            new_cents.append(
                sub_cent.select(
                    (F.col("cell") + next_id).alias("cell"), "centroid"
                )
            )
            new_assigns.append(
                sub_assign.select(
                    "vec_id", (F.col("cell") + next_id).alias("cell"), "dist"
                )
            )
            next_id += sub_k
        for d in new_cents:
            keep_cent = keep_cent.unionByName(d)
        for d in new_assigns:
            keep_assign = keep_assign.unionByName(d)
        coarse_cent, coarse_assign = keep_cent, keep_assign
    still = (
        coarse_assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cell_cap)
        .count()
    )
    if still:
        import warnings

        warnings.warn(
            f"_split_hot_cells: {still} cell(s) still exceed "
            f"cell_cap={cell_cap} after {max_rounds} split rounds — "
            "their members are geometrically inseparable (near-"
            "identical vectors); dedup the corpus instead of "
            "re-splitting",
            stacklevel=2,
        )
    return coarse_cent, coarse_assign


def build_ivf_pq_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    k: int | None = _KM_K,
    *,
    cell_cap: int | None = None,
) -> dict:
    """Materialize the IVF-PQ index the batch ``ann_ivf_pq`` trains per
    invocation, as a SERVABLE on-disk layout (train once, probe many —
    the deployment shape the per-query training cost amortizes into):

    - ``codes/``    (vec_id, sub, pq_cell) parquet **partitioned by the
      IVF cell** — a probe of n_probe cells is a pruned directory read,
      never a corpus scan;
    - ``vectors/``  (vec_id, v) partitioned the same way — the exact
      refine reads raw vectors only from probed cells;
    - ``coarse/``   the k IVF centroids (tiny);
    - ``codebooks/`` the subs×k_pq PQ codebooks (tiny).

    Training is the IDENTICAL deterministic kmeans_fit + pq_fit the
    batch tier runs, so a served query must reproduce the batch tier's
    rows bit-for-bit — pinned by the streaming parity test. Returns
    layout counts for assertions.

    ``cell_cap`` bounds the largest IVF cell by splitting oversized
    cells with a second deterministic kmeans pass (the skewed-corpus
    posture — see :func:`_split_hot_cells`); probing and the frozen-
    quantizer append contract are unchanged because both take
    nearest-of-whatever-``coarse/``-holds. Default ``None`` keeps the
    build bit-identical to the batch ``ann_ivf_pq`` tier.

    codes/ and vectors/ are manifest datasets under ONE commit log at
    the index root, published by one ``replace`` commit that also
    resets the ingested-file history (coarse/codebooks stay immutable
    parquet files — the append contract freezes them, so they need no
    transaction): appends stage both datasets and commit them
    atomically together, and compaction is a race-free snapshot swap.
    See sinks/manifest.py.
    """
    from fintech_etl_spark.operators.similarity import kmeans_fit, pq_fit

    # coarse/ and codebooks/ are this index's own: a first build that
    # crashed before its commit may have left them, and a retry must
    # still build
    mf.refuse_orphaning_commit(
        index_path, "build_ivf_pq_index", own=("coarse", "codebooks")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    if k is None:  # the auto-k lake contract, as in ivf_pq_search
        k = max(1, -(-emb.count() // 512))
    # the two trainings are independent — overlap their per-iteration
    # driver actions on two threads, exactly as ivf_pq_search does
    # (guide §2.6); bit-identical results, both are deterministic
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(kmeans_fit, emb, k)
        f_pq = pool.submit(pq_fit, emb)
        coarse_cent, coarse_assign = f_coarse.result()
        pq_cent, codes = f_pq.result()
    if cell_cap is not None:
        # skewed-corpus posture: cap cell sizes by splitting hot cells
        # (see _split_hot_cells). Opt-in — the default build stays
        # bit-identical to the batch ann_ivf_pq tier (serving parity).
        coarse_cent, coarse_assign = _split_hot_cells(
            emb, coarse_cent, coarse_assign, cell_cap
        )

    ivf = coarse_assign.select("vec_id", F.col("cell").alias("ivf_cell"))
    codes_out = (
        codes.withColumnRenamed("cell", "pq_cell")
        .join(ivf, "vec_id")
        .withColumnRenamed("ivf_cell", "cell")
    )
    vecs_out = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .join(ivf, "vec_id")
        .withColumnRenamed("ivf_cell", "cell")
    )
    # quantizers land BEFORE the commit that makes codes visible, so
    # on-disk coarse/codebooks are never older than any committed
    # assignment (a rebuild under live serving still needs a serving
    # restart — streams freeze quantizers at start)
    coarse_cent.write.mode("overwrite").parquet(index_path + "/coarse")
    pq_cent.write.mode("overwrite").parquet(index_path + "/codebooks")
    seg_c = mf.new_segment_path(index_path)
    seg_v = mf.new_segment_path(index_path)
    codes_out.write.mode("overwrite").partitionBy("cell").parquet(seg_c)
    vecs_out.write.mode("overwrite").partitionBy("cell").parquet(seg_v)
    # rebuild-resets-history: see build_lsh_index — the replaced
    # datasets no longer hold the streamed vectors the ingest history
    # describes
    mf.commit(
        index_path,
        replace={"codes": [seg_c], "vectors": [seg_v]},
        reset_ingested=True,
    )
    # exact counts from the footers of what was just written, no job
    return {
        "codes": _footer_rows(seg_c),
        "vectors": _footer_rows(seg_v),
        "coarse_cells": _footer_rows(index_path + "/coarse"),
        "codebook_rows": _footer_rows(index_path + "/codebooks"),
    }


def append_ivf_pq_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    index_path: str,
    *,
    barrier: str = "auto",
    file_keys: list[str] | None = None,
) -> dict:
    """Incremental IVF-PQ index maintenance: assign a NEW vector batch
    against the index's FROZEN coarse centroids and PQ codebooks —
    quantizers are never retrained on append — and stage the codes and
    raw vectors as two new per-cell partitioned segments, committed
    together in ONE pointer swap (with ``file_keys`` in the same
    commit), so they become visible together or not at all.

    This is the production cadence at lake scale: train once (or
    re-train on a slow schedule), then every arriving batch pays one
    assignment pass over the BATCH — k·d + subs·k_pq doubles of frozen
    parameters are the only thing read from the index side; the
    existing codes/vectors segments are untouched. Serving probes
    see appended vectors at their next pointer resolution with no index
    restart (``start_ivf_pq_queries`` reads coarse/codebooks at start;
    those are exactly the files append never modifies).

    Assignment math is the SAME code the trainer runs (the
    ``_assign_step`` / ``_pq_assign_step`` expressions from
    operators/similarity.py, here fed the FROZEN parameter frames), so
    an appended vector lands in precisely the cell a served query's
    probe ranks against — including the scorer-tier behavior: past
    ``_KM_HIER_MIN`` cells ``_assign_step`` is the two-level
    top-2-probe scorer whose assignment can differ from exact argmin
    near coarse-group boundaries, for append exactly as for training
    (consistency with the trainer is the contract; exact argmin is
    not promised at that tier). Parity pinned by
    tests/test_index_append.py at the exact-scorer tiers: appended
    assignments equal an independent NumPy replay of
    argmin-squared-distance with the smallest-cell tie-break, append
    is batch-decomposable (``append(B1 ∪ B2) == append(B2) ∘
    append(B1)``), and existing index rows are bit-unchanged.

    Note the deliberate asymmetry with LSH: a full rebuild RETRAINS
    quantizers on the union, so ``build(A ∪ B)`` is a different (also
    valid) index than ``append(B) ∘ build(A)`` — frozen-parameter
    assignment is the append contract, exactly as in FAISS's
    ``IVF.add()`` after ``train()``.

    Caller contract: ids must be fresh (an appended duplicate would
    serve twice). A path without a manifest raises ``ValueError``
    before anything is read or written. Returns per-batch counts.

    ``barrier`` picks the materialization strategy for the
    twice-consumed assignment frame via the shared policy in
    :mod:`fintech_etl_spark.barrier` (``"auto"`` → a RELIABLE
    checkpoint whenever the SparkContext has a checkpoint dir — the
    executor-loss-safe cluster posture; executor-local truncation only
    as the local-mode fast path). The blast radius of a lost barrier
    is one batch-sized frame, and the manifest's ingested-file history
    makes a retry safe — but the append path rides the same posture switch as the
    ranking family rather than hard-coding the local tier."""
    from fintech_etl_spark.barrier import materialization_barrier
    from fintech_etl_spark.operators.similarity import (
        _assign_step,
        _pq_assign_step,
        _pq_subslices,
    )

    from fintech_etl_spark.operators.similarity import _PQ_SUBS

    mf.current(index_path)  # refuses a path that is not an index
    n = new_vectors.count()
    if n == 0:
        return {"appended_vectors": 0, "appended_code_rows": 0}
    coarse = spark.read.parquet(index_path + "/coarse")
    codebooks = spark.read.parquet(index_path + "/codebooks")
    k = coarse.count()  # tiny parameter frame

    vecs = new_vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the assignment is consumed by BOTH writes — barrier it so the
    # coarse scoring pass runs once per batch, not once per write
    ivf = materialization_barrier(
        _assign_step(vecs, coarse, k).select(
            "vec_id", F.col("cell").alias("ivf_cell")
        ),
        barrier,
    )
    codes = _pq_assign_step(_pq_subslices(vecs), codebooks).select(
        "vec_id", "sub", F.col("cell").alias("pq_cell")
    )
    vecs_out = vecs.join(ivf, "vec_id").withColumnRenamed("ivf_cell", "cell")
    codes_out = codes.join(ivf, "vec_id").withColumnRenamed("ivf_cell", "cell")
    # stage BOTH datasets, then one atomic commit — codes and vectors
    # become visible together or not at all
    seg_v = mf.new_segment_path(index_path)
    seg_c = mf.new_segment_path(index_path)
    vecs_out.write.mode("overwrite").partitionBy("cell").parquet(seg_v)
    codes_out.write.mode("overwrite").partitionBy("cell").parquet(seg_c)
    mf.commit(
        index_path,
        add={"vectors": [seg_v], "codes": [seg_c]},
        file_keys=file_keys,
    )
    return {"appended_vectors": n, "appended_code_rows": n * _PQ_SUBS}


def ivf_pq_query_batch(
    spark: SparkSession,
    index_path: str,
    q: DataFrame,
    *,
    n_probe: int | None = None,
    top_k: int = _TOP_K,
    coarse: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    pq_cand: int | None = None,
) -> DataFrame:
    """One batch of IVF-PQ queries against a built index layout —
    the scoring core the streaming server runs per micro-batch,
    callable directly for batch serving and for ``calibrate_n_probe``
    sweeps. ``q`` is ``(query_id, qv array<double>)``; returns
    ``(query_id, neighbor_id, approx_dist, dist, rank)`` — the batch
    ``ann_ivf_pq`` row shape, bit-for-bit.

    Probe the ``n_probe`` nearest IVF cells per query (the coarse
    table is k tiny rows, broadcast), COLLECT the probed cell ids
    (bounded by queries × n_probe — this is the one driver-side step,
    and it exists precisely so the cell set becomes a literal ``IN``
    filter Spark can push to directory-level partition pruning),
    ADC-score only the pruned codes, refine only the pruned vectors.
    At 10^9 indexed vectors a batch of queries reads n_probe cells'
    files and nothing else. ``n_probe=None`` uses the module default
    (``_N_PROBE``); pick a value for a recall target with
    ``calibrate_n_probe`` + ``auto_n_probe``. ``coarse``/``codebooks``
    take preloaded quantizer frames (frozen by the append contract) so
    a server loads them once across batches.

    ``pq_cand`` sizes the ADC shortlist the exact re-rank refines
    (default: the batch tier's ``_PQ_CAND`` = 50, bit-parity with the
    registry row). This is the OTHER serving lever, and on noisy
    corpora the binding one: the r12 calibration receipt measured
    recall DECREASING in n_probe because a fixed 50-deep shortlist of
    an ADC ranking dilutes as wider probes add candidates — the r13
    attribution (``calibrate_n_probe``'s ``ceiling`` field) pins the
    gap to this cut, not to cell assignment. Cost scales with the
    exact-refine row count (pq_cand raw-vector rows per query), still
    bounded by the probed cells.

    ``pq_cand="exact"`` is the EXACT-REFINE serving mode (the r13
    audit ask): skip the codes read, the per-sub ADC join, and the
    shortlist window entirely, and exact-score every probed-cell
    member. On corpora where the picker lands on pq_cand ≥ the probe
    fan-out — the r13 grid receipt chose 16384 against a fan-out of
    ~3,026 on the noise corpus — the ADC stage prunes nothing and is
    pure overhead (a scan of the codes dataset plus a window, paid to
    pass every candidate through); this mode serves the same results
    (recall == the probe ceiling, ranks bit-equal to a
    wider-than-fan-out shortlist) for less: no codes I/O, one window
    instead of two. ``approx_dist`` equals ``dist`` in this mode (no
    approximation happened)."""
    from pyspark.sql.window import Window as W

    from fintech_etl_spark.operators.similarity import (
        _N_PROBE,
        _PQ_CAND,
        _PQ_SUBDIM,
        _PQ_SUBS,
        _sq_dist,
        cosine,
    )

    if n_probe is None:
        n_probe = _N_PROBE
    exact_mode = pq_cand == "exact"
    if pq_cand is None:
        pq_cand = _PQ_CAND
    if coarse is None:
        coarse = spark.read.parquet(index_path + "/coarse")
    if codebooks is None and not exact_mode:
        codebooks = spark.read.parquet(index_path + "/codebooks")
    # exact mode never touches the codes dataset — that is the point
    codes = None if exact_mode else _read_ivf_dataset(spark, index_path, "codes")
    vectors = _read_ivf_dataset(spark, index_path, "vectors")
    # --- probe: identical expression shape to the batch tier ---
    qc = q.join(F.broadcast(coarse)).select(
        "query_id",
        "qv",
        "cell",
        cosine(F.col("qv"), F.col("centroid")).alias("ccos"),
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell")
    )
    probes = (
        qc.withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "cell")
    )
    probe_rows = probes.collect()  # ≤ batch queries × n_probe
    probed_cells = sorted({int(r.cell) for r in probe_rows})
    if not probed_cells:
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, approx_dist double,"
            " dist double, rank int",
        )

    w = W.partitionBy("query_id")
    if exact_mode:
        # exact refine over every probed-cell member: one
        # partition-pruned vectors scan, one distance, one window —
        # no codes I/O, no ADC join, no shortlist cut to dilute
        nv = vectors.filter(F.col("cell").isin(probed_cells)).select(
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
        )
        exact_all = (
            F.broadcast(probes)
            .join(nv, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(_sq_dist(F.col("qv"), F.col("nv")), 4).alias("dist"),
            )
        )
        return (
            exact_all.withColumn(
                "rank",
                F.row_number().over(
                    w.orderBy(F.col("dist").asc(), "neighbor_id")
                ),
            )
            .filter(F.col("rank") <= top_k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("dist").alias("approx_dist"),
                "dist",
                "rank",
            )
        )

    # --- ADC table: batch queries × subs × pq cells (tiny) ---
    qsubs = q.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice(
                            "qv", s * _PQ_SUBDIM + 1, _PQ_SUBDIM
                        ).alias("qsv"),
                    )
                    for s in range(_PQ_SUBS)
                ]
            )
        ).alias("x"),
    ).select("query_id", "x.sub", "x.qsv")
    qtab = qsubs.join(F.broadcast(codebooks), "sub").select(
        "query_id",
        "sub",
        F.col("cell").alias("pq_cell"),
        _sq_dist(F.col("qsv"), F.col("centroid")).alias("tdist"),
    )

    # --- probed cells only: literal IN filter → directory prune ---
    cand = (
        F.broadcast(probes)
        .join(codes.filter(F.col("cell").isin(probed_cells)), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = (
        cand.join(F.broadcast(qtab), ["query_id", "sub", "pq_cell"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("tdist"), 4).alias("approx_dist"))
    )
    shortlist = scored.withColumn(
        "crank",
        F.row_number().over(
            w.orderBy(F.col("approx_dist").asc(), "neighbor_id")
        ),
    ).filter(F.col("crank") <= pq_cand)

    nv = vectors.filter(F.col("cell").isin(probed_cells)).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    exact = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "approx_dist",
            F.round(_sq_dist(F.col("qv"), F.col("nv")), 4).alias("dist"),
        )
    )
    return (
        exact.withColumn(
            "rank",
            F.row_number().over(
                w.orderBy(F.col("dist").asc(), "neighbor_id")
            ),
        )
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "approx_dist", "dist", "rank")
    )


def start_ivf_pq_queries(
    spark: SparkSession,
    queries_glob: str,
    checkpoint_dir: str,
    index_path: str,
    on_results: ResultHandler,
    *,
    top_k: int = _TOP_K,
    n_probe: int | None = None,
    pq_cand: int | None = None,
    max_files_per_trigger: int = 32,
) -> StreamingQuery:
    """Serve JSONL query vectors against a :func:`build_ivf_pq_index`
    layout; per micro-batch emit (query_id, neighbor_id, approx_dist,
    dist, rank) — the batch ``ann_ivf_pq`` row shape, bit-for-bit.

    The scoring core is :func:`ivf_pq_query_batch` (see its docstring
    for the probe→ADC→refine scale posture); this wrapper adds the
    checkpointed stream, reloads codes/vectors per micro-batch (so
    appended or compacted cells are served without a stream restart —
    quantizers are frozen and load once), and forwards the two serving
    levers: ``n_probe`` (cell routing; ``calibrate_n_probe`` /
    ``auto_n_probe``) and ``pq_cand`` (ADC shortlist depth;
    ``calibrate_pq_cand`` / ``auto_pq_cand`` — on noisy corpora the
    binding one, see the r13 attribution).
    """
    coarse = spark.read.parquet(index_path + "/coarse")
    codebooks = spark.read.parquet(index_path + "/codebooks")

    incoming = (
        spark.readStream.schema(_QUERY_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(queries_glob)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        q = batch_df.filter(F.col("embedding").isNotNull()).select(
            "query_id", F.col("embedding").cast("array<double>").alias("qv")
        )
        on_results(
            ivf_pq_query_batch(
                spark,
                index_path,
                q,
                n_probe=n_probe,
                top_k=top_k,
                coarse=coarse,
                codebooks=codebooks,
                pq_cand=pq_cand,
            ),
            batch_id,
        )

    return (
        incoming.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def calibrate_n_probe(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    *,
    n_probes: tuple[int, ...] = (1, 2, 3, 4, 6, 8),
    at_k: tuple[int, ...] = (1, 5, 10),
    pq_cand: int | None = None,
) -> list[dict]:
    """The n_probe → recall calibration curve for a built IVF-PQ
    index — the receipt the r11 audit asked for: relative claims
    ("the cap didn't hurt recall") say nothing about SERVING quality,
    so before quoting an index, sweep it.

    For each value in ``n_probes``, run :func:`ivf_pq_query_batch`
    over ``queries`` (``(query_id, embedding)`` rows — a SAMPLE; the
    sweep is O(|queries| · corpus) for the exact ground truth, so
    calibrate on hundreds of queries, not millions) and score
    recall@k against the exact squared-L2 top-k over the index's OWN
    vectors dataset (the metric the refine stage ranks by). Each
    point also records the mean probe fan-out — the rows ADC actually
    scans per query, i.e. the serving cost the recall is bought at —
    so two indexes (capped vs uncapped) compare at EQUAL COST, not
    equal n_probe.

    Each point also carries ``ceiling`` — the recall@k an EXACT refine
    of every probed-cell member would achieve, i.e. the fraction of
    ground-truth@k neighbors whose assigned cell is among the query's
    probed cells. This is the attribution the r12 receipt lacked: the
    gap between ``ceiling`` and ``recall`` is loss at the ADC
    shortlist cut (``pq_cand`` — widen it), while a LOW ceiling means
    the coarse quantizer never routes the query to its neighbors'
    cells (more/better cells, or the corpus has no neighborhood
    structure to exploit) — nobody can tune what isn't attributed.
    ``pq_cand`` passes through to :func:`ivf_pq_query_batch` (None =
    the batch tier's 50).

    Returns ``[{n_probe, recall: {k}, ceiling: {k}, mean_fanout,
    queries}, ...]``; feed it to :func:`auto_n_probe`."""
    from pyspark.sql.window import Window as W

    from fintech_etl_spark.operators.similarity import _sq_dist, cosine

    kmax = max(at_k)
    q = queries.select(
        "query_id", F.col("embedding").cast("array<double>").alias("qv")
    )
    n_queries = q.count()
    if n_queries == 0:
        raise ValueError(
            "calibrate_n_probe: the query sample is EMPTY — recall@k "
            "would divide by zero and the curve would be meaningless; "
            "pass a non-empty (query_id, embedding) sample (hundreds "
            "of rows is the intended scale)"
        )
    vectors = _read_ivf_dataset(spark, index_path, "vectors")
    coarse = spark.read.parquet(index_path + "/coarse")
    codebooks = spark.read.parquet(index_path + "/codebooks")

    # exact ground truth BY THE SERVING METRIC (squared L2): one pass
    # over the corpus with the tiny query sample broadcast
    w = W.partitionBy("query_id")
    truth = (
        vectors.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(F.col("qv"), F.col("v")).alias("tdist"),
        )
        .withColumn(
            "trank",
            F.row_number().over(w.orderBy(F.col("tdist").asc(), "neighbor_id")),
        )
        .filter(F.col("trank") <= kmax)
        .select("query_id", "neighbor_id", "trank")
    )
    truth.persist()
    truth.count()

    # cell population sizes once — fan-out is Σ sizes of probed cells
    cell_sizes = vectors.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cell_n")
    )
    qc = q.join(F.broadcast(coarse)).select(
        "query_id", "cell", cosine(F.col("qv"), F.col("centroid")).alias("ccos")
    )
    ranked_cells = qc.withColumn(
        "prank", F.row_number().over(w.orderBy(F.col("ccos").desc(), "cell"))
    ).filter(F.col("prank") <= max(n_probes))
    ranked = ranked_cells.join(cell_sizes, "cell").select(
        "query_id", "prank", "cell_n"
    )
    ranked.persist()
    ranked.count()

    # ground truth joined to its neighbors' CELL assignment + the
    # probe rank at which that cell would be reached: one tiny frame,
    # from which every n_probe's exact-refine-all ceiling falls out as
    # a filter+count (truth is n_queries × kmax rows)
    truth_probe = (
        truth.join(
            vectors.select(F.col("vec_id").alias("neighbor_id"), "cell"),
            "neighbor_id",
        )
        .join(
            ranked_cells.select("query_id", "cell", "prank"),
            ["query_id", "cell"],
            "left",
        )
        .select("query_id", "trank", "prank")
    )
    truth_probe.persist()
    truth_probe.count()

    curve = []
    for np_ in sorted(n_probes):
        res = ivf_pq_query_batch(
            spark,
            index_path,
            q,
            n_probe=np_,
            top_k=kmax,
            coarse=coarse,
            codebooks=codebooks,
            pq_cand=pq_cand,
        ).select("query_id", "neighbor_id", "rank")
        res.persist()
        recall = {}
        ceiling = {}
        for k in at_k:
            hits = (
                res.filter(F.col("rank") <= k)
                .join(
                    truth.filter(F.col("trank") <= k),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            recall[k] = hits / float(n_queries * k)
            reachable = truth_probe.filter(
                (F.col("trank") <= k) & (F.col("prank") <= np_)
            ).count()
            ceiling[k] = reachable / float(n_queries * k)
        fanout = (
            ranked.filter(F.col("prank") <= np_)
            .agg((F.sum("cell_n") / n_queries).alias("f"))
            .first()
            .f
        )
        res.unpersist()
        curve.append(
            {
                "n_probe": np_,
                "recall": recall,
                "ceiling": ceiling,
                "mean_fanout": float(fanout or 0.0),
                "queries": n_queries,
            }
        )
    truth.unpersist()
    ranked.unpersist()
    truth_probe.unpersist()
    return curve


def auto_n_probe(
    curve: list[dict],
    target_recall: float,
    at_k: int = 5,
    strict: bool = False,
) -> int:
    """The target-recall picker over a :func:`calibrate_n_probe`
    curve: the SMALLEST swept n_probe whose measured recall@``at_k``
    reaches ``target_recall`` — minimal serving fan-out for the
    quality bar. If no swept point reaches the target the curve is
    saturated (recall is bound by the shortlist cut or corpus
    geometry, not by probe width): ``strict=True`` raises with the
    best achieved value, the default returns the HIGHEST-RECALL swept
    point (smallest n_probe among ties) — NOT the widest probe: at a
    fixed shortlist cut recall can DECREASE in n_probe (the r12
    dilution artifact this round attributed), so "widest" can be the
    worst recall at the highest cost. Fix the pq_cand cut, not the
    probe."""
    if not curve:
        raise ValueError(
            "auto_n_probe: the calibration curve is EMPTY — run "
            "calibrate_n_probe with at least one n_probe point first"
        )
    best = None
    for point in sorted(curve, key=lambda p: p["n_probe"]):
        r = point["recall"].get(at_k, point["recall"].get(str(at_k)))
        if r is None:
            raise ValueError(f"curve has no recall@{at_k} measurements")
        if best is None or r > best[1]:
            best = (point["n_probe"], r)
        if r >= target_recall:
            return point["n_probe"]
    if strict:
        raise ValueError(
            f"auto_n_probe: no swept n_probe reaches recall@{at_k} >= "
            f"{target_recall} (best: {best[1]:.3f} at n_probe={best[0]}) "
            "— the curve is saturated; widen the sweep or improve the "
            "PQ codebook"
        )
    return best[0]  # highest measured recall, smallest probe among ties

def _pq_cand_order(pc) -> float:
    """Sort/tie-break key for pq_cand values: integers ascending,
    ``"exact"`` last — it behaves like an infinite shortlist (and is
    priced separately: no ADC scan at all)."""
    return float("inf") if pc == "exact" else float(pc)


def calibrate_pq_cand(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    *,
    pq_cands: tuple[int, ...] = (50, 100, 200, 400, 800, 1600),
    n_probe: int | None = None,
    at_k: tuple[int, ...] = (1, 5, 10),
) -> list[dict]:
    """The OTHER serving calibration: sweep the ADC shortlist size at
    a fixed probe width. The r13 attribution
    (:func:`calibrate_n_probe`'s ``ceiling``) showed that on noisy
    corpora the fixed 50-deep shortlist — not cell routing — caps
    recall (skew corpus: ceiling@5 0.95 at n_probe=1 while recall@5
    sat at 0.18; pq_cand=2000 recovered 0.93). Each swept point runs
    one :func:`ivf_pq_query_batch` and scores against the same exact
    ground truth, plus ``mean_refined`` — the raw vectors the exact
    re-rank actually reads per query (min(pq_cand, probed
    candidates)), the cost this recall is bought at. A ``pq_cand``
    at or past the probe fan-out makes the ADC stage a no-op (recall
    == the probe ceiling): on corpora where that is the only way to
    reach the target, serve by exact refine over probed cells and
    skip the codes read entirely.

    Returns ``[{pq_cand, recall: {k}, mean_refined, queries}, ...]``;
    feed it to :func:`auto_pq_cand`."""
    from pyspark.sql.window import Window as W

    from fintech_etl_spark.operators.similarity import _N_PROBE, _sq_dist

    if n_probe is None:
        n_probe = _N_PROBE
    kmax = max(at_k)
    q = queries.select(
        "query_id", F.col("embedding").cast("array<double>").alias("qv")
    )
    n_queries = q.count()
    if n_queries == 0:
        raise ValueError(
            "calibrate_pq_cand: the query sample is EMPTY — pass a "
            "non-empty (query_id, embedding) sample"
        )
    vectors = _read_ivf_dataset(spark, index_path, "vectors")
    coarse = spark.read.parquet(index_path + "/coarse")
    codebooks = spark.read.parquet(index_path + "/codebooks")
    w = W.partitionBy("query_id")
    truth = (
        vectors.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(F.col("qv"), F.col("v")).alias("tdist"),
        )
        .withColumn(
            "trank",
            F.row_number().over(w.orderBy(F.col("tdist").asc(), "neighbor_id")),
        )
        .filter(F.col("trank") <= kmax)
        .select("query_id", "neighbor_id", "trank")
    )
    truth.persist()
    truth.count()
    # per-query probed-candidate counts (for the refine-cost metric):
    # probe ranking identical to the serving expression, cell sizes
    # summed over the n_probe nearest cells
    from fintech_etl_spark.operators.similarity import cosine

    cell_sizes = vectors.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    qc = q.join(F.broadcast(coarse)).select(
        "query_id", "cell", cosine(F.col("qv"), F.col("centroid")).alias("ccos")
    )
    cand_q = (
        qc.withColumn(
            "prank", F.row_number().over(w.orderBy(F.col("ccos").desc(), "cell"))
        )
        .filter(F.col("prank") <= n_probe)
        .join(cell_sizes, "cell")
        .groupBy("query_id")
        .agg(F.sum("cell_n").alias("cand_n"))
    )
    cand_q.persist()
    cand_q.count()
    curve = []
    for pc in sorted(pq_cands, key=_pq_cand_order):
        res = ivf_pq_query_batch(
            spark,
            index_path,
            q,
            n_probe=n_probe,
            top_k=kmax,
            coarse=coarse,
            codebooks=codebooks,
            pq_cand=pc,
        )
        res.persist()
        # the raw vectors the exact re-rank reads per query: the ADC
        # shortlist, capped by what the probe actually yielded —
        # measured from cell populations, not assumed. Exact mode
        # refines everything probed (but scans no codes at all)
        refined_expr = (
            F.avg("cand_n")
            if pc == "exact"
            else F.avg(F.least(F.lit(pc), F.col("cand_n")))
        )
        refined = cand_q.agg(refined_expr.alias("r")).first().r
        recall = {}
        for k in at_k:
            hits = (
                res.filter(F.col("rank") <= k)
                .join(
                    truth.filter(F.col("trank") <= k),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            recall[k] = hits / float(n_queries * k)
        res.unpersist()
        curve.append(
            {
                "pq_cand": pc,
                "recall": recall,
                "mean_refined": float(refined or 0.0),
                "queries": n_queries,
            }
        )
    truth.unpersist()
    cand_q.unpersist()
    return curve


def auto_pq_cand(
    curve: list[dict],
    target_recall: float,
    at_k: int = 5,
    strict: bool = False,
) -> int:
    """Pick the SMALLEST swept ``pq_cand`` whose recall@``at_k``
    reaches ``target_recall`` — minimal exact-refine cost for the
    quality bar, the shortlist twin of :func:`auto_n_probe`. Saturated
    target (no swept cut reaches it): ``strict=True`` raises with the
    best achieved, default returns the SMALLEST cut achieving the best
    measured recall (recall is non-decreasing in the cut, so that is
    the cheapest point on the frontier) — past it the shortlist
    already covers every probed candidate and the remaining loss is
    cell routing (widen n_probe) or corpus geometry."""
    if not curve:
        raise ValueError(
            "auto_pq_cand: the calibration curve is EMPTY — run "
            "calibrate_pq_cand with at least one pq_cand point first"
        )
    best = None
    for point in sorted(curve, key=lambda p: _pq_cand_order(p["pq_cand"])):
        r = point["recall"].get(at_k, point["recall"].get(str(at_k)))
        if r is None:
            raise ValueError(f"curve has no recall@{at_k} measurements")
        if best is None or r > best[1]:
            best = (point["pq_cand"], r)
        if r >= target_recall:
            return point["pq_cand"]
    if strict:
        raise ValueError(
            f"auto_pq_cand: no swept pq_cand reaches recall@{at_k} >= "
            f"{target_recall} (best: {best[1]:.3f} at pq_cand={best[0]}) "
            "— the shortlist is no longer the binding stage; widen "
            "n_probe or accept the corpus ceiling"
        )
    return best[0]  # best measured recall at the smallest (cheapest) cut

def calibrate_serving_grid(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    *,
    n_probes: tuple[int, ...] = (1, 2, 4, 8),
    pq_cands: tuple[int, ...] = (50, 200, 800),
    at_k: tuple[int, ...] = (5,),
) -> list[dict]:
    """Joint sweep of the TWO serving levers. The r13 attribution
    proved they interact: wider probes raise the routing ceiling but
    dilute a fixed ADC shortlist (r12's decreasing-recall artifact),
    so calibrating them independently can land on a config neither
    sweep would pick. One grid point = one :func:`ivf_pq_query_batch`
    over the sample, scored against the exact ground truth computed
    once; each point carries both cost metrics — ``mean_fanout`` (ADC
    rows scanned per query, monotone in n_probe) and ``mean_refined``
    (raw vectors exact-re-ranked per query, min(pq_cand, fan-out)).

    Returns ``[{n_probe, pq_cand, recall: {k}, mean_fanout,
    mean_refined, queries}, ...]`` (n_probe-major order); feed it to
    :func:`pick_serving_config`."""
    from pyspark.sql.window import Window as W

    from fintech_etl_spark.operators.similarity import _sq_dist, cosine

    kmax = max(at_k)
    q = queries.select(
        "query_id", F.col("embedding").cast("array<double>").alias("qv")
    )
    n_queries = q.count()
    if n_queries == 0:
        raise ValueError(
            "calibrate_serving_grid: the query sample is EMPTY — pass "
            "a non-empty (query_id, embedding) sample"
        )
    vectors = _read_ivf_dataset(spark, index_path, "vectors")
    coarse = spark.read.parquet(index_path + "/coarse")
    codebooks = spark.read.parquet(index_path + "/codebooks")
    w = W.partitionBy("query_id")
    truth = (
        vectors.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(F.col("qv"), F.col("v")).alias("tdist"),
        )
        .withColumn(
            "trank",
            F.row_number().over(w.orderBy(F.col("tdist").asc(), "neighbor_id")),
        )
        .filter(F.col("trank") <= kmax)
        .select("query_id", "neighbor_id", "trank")
    )
    truth.persist()
    truth.count()
    cell_sizes = vectors.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    qc = q.join(F.broadcast(coarse)).select(
        "query_id", "cell", cosine(F.col("qv"), F.col("centroid")).alias("ccos")
    )
    ranked = (
        qc.withColumn(
            "prank", F.row_number().over(w.orderBy(F.col("ccos").desc(), "cell"))
        )
        .filter(F.col("prank") <= max(n_probes))
        .join(cell_sizes, "cell")
        .select("query_id", "prank", "cell_n")
    )
    ranked.persist()
    ranked.count()

    grid = []
    for np_ in sorted(n_probes):
        costs = (
            ranked.filter(F.col("prank") <= np_)
            .groupBy("query_id")
            .agg(F.sum("cell_n").alias("cand_n"))
        )
        costs.persist()
        fanout = costs.agg(F.avg("cand_n").alias("f")).first().f
        for pc in sorted(pq_cands, key=_pq_cand_order):
            res = ivf_pq_query_batch(
                spark,
                index_path,
                q,
                n_probe=np_,
                top_k=kmax,
                coarse=coarse,
                codebooks=codebooks,
                pq_cand=pc,
            ).select("query_id", "neighbor_id", "rank")
            res.persist()
            recall = {}
            for k in at_k:
                hits = (
                    res.filter(F.col("rank") <= k)
                    .join(
                        truth.filter(F.col("trank") <= k),
                        ["query_id", "neighbor_id"],
                    )
                    .count()
                )
                recall[k] = hits / float(n_queries * k)
            refined_expr = (
                F.avg("cand_n")
                if pc == "exact"
                else F.avg(F.least(F.lit(pc), F.col("cand_n")))
            )
            refined = costs.agg(refined_expr.alias("r")).first().r
            res.unpersist()
            grid.append(
                {
                    "n_probe": np_,
                    "pq_cand": pc,
                    "recall": recall,
                    "mean_fanout": float(fanout or 0.0),
                    "mean_refined": float(refined or 0.0),
                    "queries": n_queries,
                }
            )
        costs.unpersist()
    truth.unpersist()
    ranked.unpersist()
    return grid


def _default_serving_cost(point: dict) -> float:
    """Per-query work in ADC-candidate equivalents: scanning one ADC
    candidate costs ~subs(=8) table-lookup adds; exact-refining one
    shortlist row costs a full 64-dim distance (~64 mul-adds ≈ 8× an
    ADC candidate). So cost ≈ fanout + 8 × refined — a documented
    default, injectable where the deployment's real constants differ
    (e.g. refine reads hitting cold storage weigh far more).

    ``pq_cand="exact"`` pays NO ADC scan (the codes dataset is never
    read) and refines every probed candidate: cost = 8 × fanout —
    strictly below the ADC-no-op point (pq_cand ≥ fanout costs
    fanout + 8 × fanout) at identical recall, which is exactly why
    the grid should always include it."""
    if point.get("pq_cand") == "exact":
        return 8.0 * point["mean_fanout"]
    return point["mean_fanout"] + 8.0 * point["mean_refined"]


def pick_serving_config(
    grid: list[dict],
    target_recall: float,
    at_k: int = 5,
    cost_fn=None,
    strict: bool = False,
) -> dict:
    """The joint picker over a :func:`calibrate_serving_grid`: the
    CHEAPEST grid point whose recall@``at_k`` reaches
    ``target_recall``, under ``cost_fn`` (default
    :func:`_default_serving_cost`; ties broken by smaller n_probe
    then smaller pq_cand for operational simplicity). Saturated
    target: ``strict=True`` raises with the best achieved; default
    returns the highest-recall point (cheapest among equals) — the
    best this index can serve."""
    if not grid:
        raise ValueError(
            "pick_serving_config: the grid is EMPTY — run "
            "calibrate_serving_grid first"
        )
    cost = cost_fn or _default_serving_cost

    def r(p):
        return p["recall"].get(at_k, p["recall"].get(str(at_k)))

    if any(r(p) is None for p in grid):
        raise ValueError(f"grid has no recall@{at_k} measurements")
    def key(p):
        return (cost(p), p["n_probe"], _pq_cand_order(p["pq_cand"]))

    feasible = [p for p in grid if r(p) >= target_recall]
    if feasible:
        return min(feasible, key=key)
    if strict:
        best = max(grid, key=r)
        raise ValueError(
            f"pick_serving_config: no grid point reaches recall@{at_k} "
            f">= {target_recall} (best: {r(best):.3f} at "
            f"n_probe={best['n_probe']}, pq_cand={best['pq_cand']}) — "
            "widen the sweep, or the corpus/quantizer caps out here"
        )
    top = max(r(p) for p in grid)
    return min((p for p in grid if r(p) == top), key=key)
