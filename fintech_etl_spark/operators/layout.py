"""Physical-layout operators: Z-order (Morton-curve) clustering.

The lake-scale problem: parquet scans skip files/row-groups via
column min/max statistics, but data sorted by ONE key gives tight
stats only for that key — a predicate on a second column prunes
nothing. Interleaving the bits of k columns into one Morton z-value
and range-partitioning + sorting on it gives every file a compact
HYPER-RECTANGLE of the key space, so a box predicate on ANY of the
interleaved columns skips most files (the technique behind Delta/
Iceberg `OPTIMIZE ZORDER BY`; Morton 1966 — public literature).

Everything is exact BIGINT arithmetic shared verbatim between Spark
and the DuckDB oracle: each key is min-max scaled to ``bits`` with
integer math — ``(k − min) · (2^bits − 1) div (max − min)`` — then the
scaled keys' bits interleave with shifts/masks. No UDFs, no doubles,
no engine-specific rounding.

Durability: every layout is a manifest dataset (the manifest layer's
SECOND client). ``zorder_write`` stages the clustered files as an
immutable manifest segment and commits them together with the frozen
curve bounds in ONE atomic pointer swap (``sinks/manifest.py``) — so a
reader racing an append or re-cluster sees the old layout or the new
one, never a partial batch, and the bounds can never be observed out
of sync with the segments they cluster. ``zorder_compact`` re-clusters
with the remove+add commit shape, so a concurrent append is carried
forward, never lost. A path without a manifest is refused with
``ValueError``; it is never read as a plain parquet directory.

The reference engine has no layout surface at all (CSV-in, JSON-out —
/root/reference/stream/processor.py); this is lake-scale gap-fill,
same as the rest of the analytics registry.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from fintech_etl_spark.registry import register
from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sources.tables import load_table

#: curve resolution: 12 bits/key → a 4096×4096 grid, 24-bit z-values.
_Z_BITS = 12

#: ``percentile_approx`` accuracy of the z-value cuts that split a
#: layout into files (rank error ≤ 1/accuracy of the rows)
_CUT_ACCURACY = 10_000

#: the manifest dataset name a layout lives under
_LAYOUT_DS = "layout"


def scaled_expr(
    col: str, lo: str, hi: str, bits: int = _Z_BITS, idiv: str = "div"
) -> str:
    """SQL text mapping ``col`` from [lo, hi] onto [0, 2^bits) with
    exact integer math. The ONLY engine-divergent token is the integer
    division spelling (Spark ``div``, DuckDB ``//``) — passed in as
    ``idiv`` so the arithmetic itself is shared verbatim; the
    ``greatest`` guards the degenerate single-value column."""
    return (
        f"(cast({col} as bigint) - cast({lo} as bigint)) * {(1 << bits) - 1} "
        f"{idiv} greatest(cast({hi} as bigint) - cast({lo} as bigint), 1)"
    )


def interleave_expr(xs: list[str], bits: int = _Z_BITS) -> str:
    """SQL text interleaving the low ``bits`` of each expression in
    ``xs`` into one Morton z-value: bit i of column c lands at
    position ``i·len(xs) + c`` (column 0 owns the least-significant
    lane). Pure shifts/masks/ors — identical semantics both engines."""
    n = len(xs)
    # every term FULLY parenthesized: shift/and/or precedence differs
    # between engines (DuckDB binds | tighter than <<)
    terms = [
        f"(((({x}) >> {i}) & 1) << {i * n + c})"
        for i in range(bits)
        for c, x in enumerate(xs)
    ]
    return "(" + " | ".join(terms) + ")"


def with_zvalue(
    df: DataFrame,
    cols: list[str],
    out: str = "z",
    bits: int = _Z_BITS,
    bounds: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Add the Morton z-value of ``cols`` (min-max scaled per column —
    one tiny agg pass collects the bounds, then the curve is a pure
    projection). Pass ``bounds`` ({col: (lo, hi)}) to scale against
    FROZEN bounds instead (the incremental-append path): values
    outside the frozen range clamp to the curve's edge cells, so a
    batch that drifts past the layout-time min/max still lands on the
    curve (re-clustering refreshes the bounds)."""
    if bounds is None:
        agg = df.agg(
            *[F.min(c).cast("long").alias(f"lo_{c}") for c in cols],
            *[F.max(c).cast("long").alias(f"hi_{c}") for c in cols],
        ).first()
        # fail here with the real cause: interpolating a None bound
        # would emit the bare token `None` into the SQL and surface as
        # an unresolved-identifier AnalysisException far from this call
        missing = [c for c in cols if agg[f"lo_{c}"] is None]
        if missing:
            raise ValueError(
                "with_zvalue: no min/max bounds for column(s) "
                f"{missing} — input is empty or the column is all-NULL; "
                "z-ordering needs at least one non-NULL value per key"
            )
        bounds = {c: (agg[f"lo_{c}"], agg[f"hi_{c}"]) for c in cols}
        clamp = False
    else:
        clamp = True  # frozen bounds: out-of-range keys hit edge cells
    # scale into named intermediates FIRST so the interleave's 2·bits
    # terms reference a plain column, not 2·bits copies of the division
    d = df
    names = []
    for c in cols:
        names.append(f"_zs_{c}")
        lo, hi = bounds[c]
        expr = scaled_expr(c, str(lo), str(hi), bits)
        if clamp:
            expr = f"least(greatest({expr}, 0), {(1 << bits) - 1})"
        d = d.withColumn(names[-1], F.expr(expr))
    return d.withColumn(out, F.expr(interleave_expr(names, bits))).drop(*names)


def _freeze_bounds(df: DataFrame, cols: list[str], who: str) -> dict:
    agg = df.agg(
        *[F.min(c).cast("long").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("long").alias(f"hi_{c}") for c in cols],
    ).first()
    missing = [c for c in cols if agg[f"lo_{c}"] is None]
    if missing:
        raise ValueError(
            f"{who}: no bounds for {missing} — empty input or "
            "all-NULL key column"
        )
    return {c: (agg[f"lo_{c}"], agg[f"hi_{c}"]) for c in cols}


@functools.lru_cache(maxsize=None)
def _spread_keys(n: int) -> tuple[int, ...]:
    """``keys[i]`` is a long that Spark's hash partitioning over ``n``
    partitions — ``pmod(hash(key), n)``, the same in every session —
    sends to partition ``i``, so ``repartition(n, keys[part])`` gives
    every part a partition of its own (two parts sharing one would
    become one file with the bounding box of both)."""
    rows = (
        SparkSession.active()
        .range(64 * n)
        .groupBy(F.pmod(F.hash("id"), F.lit(n)).alias("p"))
        .agg(F.min("id").alias("k"))
        .collect()
    )
    got = {r.p: r.k for r in rows}
    return tuple(got[i] for i in range(n))


def _cluster_write(
    df: DataFrame, meta: dict, out_path: str, num_files: int
) -> None:
    """The shared physical step: z-value against frozen ``meta``
    bounds, cut the z-range at its ``num_files``-quantiles, sort each
    part by z and write it as one file into the fresh segment
    ``out_path``. The cuts come from ``percentile_approx`` over the
    data, not from ``repartitionByRange``'s boundary sample, which
    Spark seeds with the session's RDD counter: the same rows give the
    same files in any session, and on small inputs the cuts are exact.
    An empty frame has no cuts and writes no rows."""
    bounds = {c: tuple(v) for c, v in meta["bounds"].items()}
    z = with_zvalue(df, meta["cols"], out="_z", bits=meta["bits"], bounds=bounds)
    probs = [i / num_files for i in range(1, num_files)]
    cuts = []
    if probs:
        cuts = z.agg(F.percentile_approx("_z", probs, _CUT_ACCURACY)).first()[0]
    part = F.lit(0)
    for c in cuts or []:
        part = part + (F.col("_z") >= F.lit(int(c))).cast("int")
    keys = F.array(*[F.lit(k).cast("long") for k in _spread_keys(num_files)])
    (
        z.repartition(num_files, F.element_at(keys, part + 1))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def _parquet_files(root: str):
    """Every data parquet file at ``root`` — which may be a directory
    tree (segment/layout dirs) OR a single ``.parquet`` FILE (the
    testdata star tables are plain files; ``os.walk`` on a file yields
    nothing, which silently turned every footer fold over such a root
    into its scan fallback). A root that does not exist, or is a file
    that is not ``.parquet``, raises: a mistyped path must not read as
    an empty table."""
    if os.path.isfile(root):
        if not root.endswith(".parquet"):
            raise ValueError(f"{root!r} is a file but not a .parquet file")
        if not os.path.basename(root).startswith(("_", ".")):
            yield root
        return
    if not os.path.isdir(root):
        raise FileNotFoundError(f"parquet root {root!r} does not exist")
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(dirpath, f)


def _footer_rows(*roots: str) -> int:
    """Exact row count of the parquet files under ``roots`` from their
    FOOTER metadata — a few driver-side file reads instead of a Spark
    job (guide §1/§6: a filterless count is answerable from metadata;
    this is the manual twin of parquet aggregate pushdown, without the
    job-scheduling round-trip). Parquet's ``num_rows`` is exact, so
    callers returning "rows written" keep bit-identical values."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for root in roots
        for f in _parquet_files(root)
    )


def _footer_bounds(root: str, cols: list[str]) -> dict | None:
    """Exact per-column min/max of the parquet files under ``root``
    from their FOOTER statistics — the write's own metadata instead of
    a second full pass over the batch (the row-count twin is
    ``_footer_rows``; int32/int64 footer stats are exact, never
    truncated). Returns None when any row group lacks usable stats for
    a needed column (stats disabled, all-NULL group, non-integer key)
    — the caller must fall back to the aggregation."""
    import pyarrow.parquet as pq

    out: dict[str, tuple[int, int]] = {}
    for fpath in _parquet_files(root):
        md = pq.ParquetFile(fpath).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if any(c not in idx for c in cols):
            return None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for c in cols:
                st = row_group.column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    return None
                try:
                    lo, hi = int(st.min), int(st.max)
                except (TypeError, ValueError):
                    return None
                cur = out.get(c)
                out[c] = (
                    (lo, hi)
                    if cur is None
                    else (min(cur[0], lo), max(cur[1], hi))
                )
    return out or None


def zorder_bounds(path: str) -> dict:
    """The layout's frozen curve metadata ``{cols, bits, bounds}``,
    from the live manifest — the same pointer read that names the
    segments. Loud when ``path`` has no manifest or its manifest is not
    a zorder_write layout."""
    meta = mf.get_dataset_meta(path, _LAYOUT_DS)
    if meta is None:
        raise ValueError(
            f"zorder_bounds: {path!r} is manifest-backed but its "
            f"{_LAYOUT_DS!r} dataset carries no zbounds meta — not "
            "a zorder_write layout"
        )
    return meta


def zorder_drift(path: str) -> dict:
    """How far the layout's LIVE data has drifted outside its frozen
    curve bounds — the operator signal for WHEN to run a full
    ``zorder_compact`` (which re-freezes the bounds from the data).

    Appends cluster against bounds frozen at write time; keys past
    them clamp to the curve's edge cells, so a drifted batch's files
    are not clustered by actual key at all and box queries over the
    drifted region admit essentially every file of that batch
    (quantified in SCALE_RECEIPT_r12_zorder_drift.json). This metric
    is computed from the manifest alone — one pointer read, the
    committed per-segment min/max stats, zero data scanned — so a
    cron can poll it for free at any fragmentation level.

    Returns ``{cols: {col: {frozen, actual, out_of_bounds_fraction}},
    drift, segments, segments_without_stats, unassessed_conservative}``
    where each column's ``out_of_bounds_fraction`` is the share of its
    live value range lying OUTSIDE the frozen box — ``1 -
    overlap/span``, always in [0, 1] even when the live range no
    longer intersects the frozen box at all — and ``drift`` is the
    worst column's. 0.0 = every committed value inside the frozen
    curve; 1.0 = the curve covers none of the data.

    Segments WITHOUT stats cannot be assessed, and they are exactly
    the ones most likely to have drifted (appends predating
    segment-stats support, foreign commits). Silence there would be
    the failure mode: a fully-drifted layout reporting 0.0 and the
    cron never compacting (the r12 ADVICE finding). So any
    unassessable segment forces the CONSERVATIVE verdict — ``drift``
    is pinned to 1.0 and ``unassessed_conservative`` is True. The
    same rule applies PER COLUMN (the r13 audit's latent edge): a
    stats dict that exists but lacks one of the layout's z-columns —
    a foreign writer, an older stats schema — leaves that column
    unassessable in that segment, and a drifted append could hide
    exactly there; any such column is listed in
    ``unassessed_columns`` and pins drift to 1.0 the same way. The
    state converges: a compaction rewrite commits stats for
    everything it writes, after which drift is measured again."""
    if not mf.is_transactional(path):
        raise ValueError(
            f"zorder_drift: {path!r} is not manifest-backed — drift is "
            "computed from committed segment stats; build the layout "
            "with zorder_write"
        )
    meta = zorder_bounds(path)
    pairs = mf.dataset_segments_with_stats(path, _LAYOUT_DS)
    actual: dict[str, tuple[int, int]] = {}
    no_stats = 0
    # per-column blind spots: a segment whose stats exist but miss a
    # z-column is as unassessable FOR THAT COLUMN as a stat-less
    # segment is for all of them — count it the same way
    col_unassessed: dict[str, int] = {c: 0 for c in meta["cols"]}
    for _p, st in pairs:
        if st is None:
            no_stats += 1
            continue
        for c in meta["cols"]:
            if c in st:
                lo, hi = int(st[c][0]), int(st[c][1])
                cur = actual.get(c)
                actual[c] = (
                    (lo, hi)
                    if cur is None
                    else (min(cur[0], lo), max(cur[1], hi))
                )
            else:
                col_unassessed[c] += 1
    per_col: dict[str, dict] = {}
    worst = 0.0
    for c in meta["cols"]:
        flo, fhi = (int(v) for v in meta["bounds"][c])
        if c not in actual:
            continue  # no assessable segment carries this column
        alo, ahi = actual[c]
        span = ahi - alo
        if span <= 0:
            # degenerate live range (single value): inside or not
            frac = 0.0 if flo <= alo and ahi <= fhi else 1.0
        else:
            # 1 - overlap/span ≡ the old out/span when the ranges
            # intersect, but stays ≤ 1.0 when the live range has left
            # the frozen box entirely (out/span could exceed 1)
            overlap = max(0, min(ahi, fhi) - max(alo, flo))
            frac = 1.0 - overlap / span
        per_col[c] = {
            "frozen": [flo, fhi],
            "actual": [alo, ahi],
            "out_of_bounds_fraction": frac,
        }
        worst = max(worst, frac)
    unassessed_cols = sorted(c for c, n in col_unassessed.items() if n > 0)
    if no_stats or unassessed_cols:
        worst = 1.0  # unassessable ⇒ must-compact, never silent 0.0
    return {
        "cols": per_col,
        "drift": worst,
        "segments": len(pairs),
        "segments_without_stats": no_stats,
        "unassessed_columns": unassessed_cols,
        "unassessed_conservative": bool(no_stats or unassessed_cols),
    }


#: meta-only manifest namespace for maintenance markers — no segments
#: ever live under it; it exists so signal commits don't overwrite the
#: layout dataset's own meta (the frozen curve bounds)
_MAINT_DS = "_maintenance"


def mark_compaction_due(
    path: str, *, drift: float, threshold: float, lock=None
) -> None:
    """Publish the COMPACTION-DUE marker — one CAS metadata commit, no
    data touched. This is the writer half of the signal-and-handoff
    split (the Iceberg "maintenance is not the writer's job" shape):
    an ingest stream that measures drift past its threshold commits
    this marker and KEEPS APPENDING against the old bounds, while a
    maintenance entry point (``cli.py layout-maintain``, a cron) owns
    the actual corpus rewrite. At 100 TB the full re-freezing
    ``zorder_compact`` is minutes-to-hours; running it inline in
    ``foreachBatch`` (the r12 shape) stalls ingest for exactly that
    long the moment drift trips — the marker costs microseconds
    instead. The marker rides the same atomic pointer swap as
    everything else and is cleared by the commit of the next FULL
    bounds-refreshing compaction, so signal and resolution are both
    transactional."""
    mf.commit(
        path,
        dataset_meta={
            _MAINT_DS: {
                "compaction_due": {
                    "drift": float(drift),
                    "threshold": float(threshold),
                }
            }
        },
        **({"lock": lock} if lock is not None else {}),
    )


def compaction_due(path: str) -> dict | None:
    """The live compaction-due marker, or None — one pointer read."""
    m = mf.current(path)
    return ((m.get("dataset_meta") or {}).get(_MAINT_DS) or {}).get(
        "compaction_due"
    )


def run_due_compaction(
    spark: SparkSession,
    path: str,
    num_files: int = 32,
    max_retries: int = 3,
    lock=None,
) -> dict | None:
    """The maintenance half of the handoff: if the layout carries a
    compaction-due marker, run the full re-freezing
    :func:`zorder_compact` (whose commit also clears the marker) and
    return ``{rows, marker}``; return None when nothing is due — safe
    to cron at any frequency. A :class:`~fintech_etl_spark.sinks.
    manifest.StaleSegmentError` means a concurrent committer
    (a racing compactor, or an ingest append landing mid-rewrite in a
    pathological interleaving) superseded our read — re-poll the
    marker and retry from a fresh read, up to ``max_retries``.

    After the rewrite commits, drift is RE-MEASURED from the fresh
    manifest (one pointer read): a drifted append landing mid-rewrite
    is carried forward clustered on the OLD curve, so the compact's
    bounds — frozen from what it read — can still miss it while its
    commit cleared the marker. If the re-measured drift exceeds the
    marker's threshold, the marker is re-committed and the rewrite
    runs again, so a maintenance invocation never returns with the
    signal swallowed but the condition live (the race the
    three-client concurrency receipt caught)."""
    for _ in range(max_retries):
        marker = compaction_due(path)
        if marker is None:
            return None  # nothing due (or a racing compactor resolved it)
        try:
            rows = zorder_compact(
                spark, path, num_files=num_files, lock=lock
            )
        except mf.StaleSegmentError:
            continue
        d = zorder_drift(path)["drift"]
        if d > marker["threshold"]:
            # concurrent drifted append carried forward past our
            # re-frozen bounds: re-signal and rewrite again
            mark_compaction_due(
                path, drift=d, threshold=marker["threshold"], lock=lock
            )
            continue
        return {"rows": rows, "marker": marker}
    raise RuntimeError(
        f"run_due_compaction: {path!r} still due after {max_retries} "
        "attempts, each losing the rewrite race to another committer — "
        "a foreign compactor is thrashing; back off and re-run"
    )


def read_zorder(
    spark: SparkSession, path: str, version: int | None = None, lock=None
) -> DataFrame:
    """Scan a z-ordered layout. The manifest pointer is resolved per
    call — an append or re-cluster landing mid-stream is seen
    atomically at the next read, and a racing reader can never observe
    a partial batch. Footer pruning works inside every segment:
    segments are just parquet files, the manifest only names which
    ones are live.

    ``version`` time-travels the layout to an earlier committed
    snapshot (within the vacuum retention window) — the manifest log
    makes this free: version-named immutable manifests + superseded
    segments kept on disk until vacuum. ``lock`` names the layout's
    lock provider so a CAS-locked layout's phantom versions
    disambiguate via the store's claim ledger (see
    ``manifest.manifest_at``). A path without a manifest raises
    ``ValueError``."""
    m = mf.current(path) if version is None else mf.manifest_at(
        path, version, lock=lock
    )
    segs = [os.path.join(path, s) for s in m["datasets"].get(_LAYOUT_DS, [])]
    if not segs:
        raise ValueError(
            f"read_zorder: version {m['version']} of {path!r} names no "
            f"{_LAYOUT_DS!r} segments — not a zorder_write layout (or "
            "every segment was removed)"
        )
    return mf.read_segments(spark, segs)


def prune_segments(
    path: str, box: dict[str, tuple[int, int]]
) -> tuple[list[str], int]:
    """Manifest-level segment pruning (the Iceberg manifest-stats
    shape): from ONE pointer read, keep only the segments whose
    committed column min/max intersect ``box`` ({col: (lo, hi)}).
    Returns ``(kept absolute paths, total live segments)``.

    This prunes BEFORE any file listing or parquet footer is opened —
    at 10⁴ ingest segments between compactions, the difference between
    one small JSON read and 10⁴ object-store LISTs. Footer-stats
    pruning still applies inside every kept segment (the layers
    compose: manifest stats skip segments, footers skip files, the
    curve makes both tight). A segment without stats is always kept —
    missing stats mean must-scan, never may-skip."""
    pairs = mf.dataset_segments_with_stats(path, _LAYOUT_DS)
    kept = []
    for p, st in pairs:
        excluded = st is not None and any(
            c in st and (st[c][1] < lo or st[c][0] > hi)
            for c, (lo, hi) in box.items()
        )
        if not excluded:
            kept.append(p)
    return kept, len(pairs)


def read_zorder_box(
    spark: SparkSession, path: str, box: dict[str, tuple[int, int]]
) -> DataFrame:
    """Box-predicate scan of a z-ordered layout with every pruning
    layer engaged: segments are excluded driver-side from the
    manifest's stats (:func:`prune_segments`), then the box filter is
    pushed into the scan of the kept segments (footer min/max skip
    files inside them). Results are EXACTLY the unpruned filter's —
    pinned by parity tests. A path without a manifest raises
    ``ValueError``."""
    filt = None
    for c, (lo, hi) in box.items():
        cond = F.col(c).between(lo, hi)
        filt = cond if filt is None else (filt & cond)
    if filt is None:
        raise ValueError("read_zorder_box: empty box")
    kept, _total = prune_segments(path, box)
    if kept:
        return mf.read_segments(spark, kept).filter(filt)
    # every segment excluded: scan nothing — one segment with an
    # always-false filter keeps the schema without a hand-written DDL
    # (footers of one segment, no row reads)
    segs = mf.dataset_segments(path, _LAYOUT_DS)
    if not segs:
        raise ValueError(
            f"read_zorder_box: {path!r} is manifest-backed but its live "
            f"manifest names no {_LAYOUT_DS!r} segments — not a "
            "zorder_write layout (or every segment was removed)"
        )
    return mf.read_segments(spark, segs[:1]).filter(F.lit(False))


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = _Z_BITS,
    num_files: int = 32,
    lock=None,
    bounds: dict[str, tuple[int, int]] | None = None,
) -> int:
    """Write ``df`` as ``num_files`` parquet files clustered along the
    Morton curve of ``cols``: split the z-range at its quantiles, sort
    each part on the z-value, drop it, write. Each output file then covers a compact box of the
    key space, so min/max stats prune it for predicates on ANY of the
    interleaved columns — pinned by the footer-stats pruning test in
    tests/test_layout.py and receipted at sf0.1
    (SCALE_RECEIPT_r09_zorder.json). Returns the row count.

    The layout is a manifest dataset: the clustered files are staged
    as an immutable segment under ``path/segments/`` and committed —
    segments AND frozen bounds — in one atomic ``replace`` pointer
    swap, so readers racing this write (or any later append/
    re-cluster) see a consistent snapshot, and :func:`zorder_append`
    clusters LATER batches against the same frozen curve. The first
    write creates the manifest log; on an existing layout a write is a
    full REBUILD (superseded segments stay on disk for in-flight
    readers until ``sinks.manifest.vacuum``). Like an ANN rebuild, it
    defines the layout's entire new content — don't run concurrent
    appends across one; their segments would be dropped from the list
    (orphaned, vacuumed), which is the rebuild contract, not a race.

    ``lock`` injects the manifest commit-lock provider — a layout
    whose other committers serialize through a CAS/object-store lease
    must pass the SAME provider here, the receipts-lake contract
    extended to the layout client.

    ``bounds`` optionally passes pre-computed ``{col: (lo, hi)}``
    min/max to freeze (they MUST be the frame's true bounds — callers
    that already ran the identical min/max agg, like the box-query
    operators, skip the duplicate full-scan pass; anything else would
    clamp keys and corrupt the curve)."""
    mf.refuse_orphaning_commit(path, "zorder_write")
    if bounds is None:
        bounds = _freeze_bounds(df, cols, "zorder_write")
    meta = {"cols": cols, "bits": bits, "bounds": bounds}
    seg = mf.new_segment_path(path)
    _cluster_write(df, meta, seg, num_files)
    mf.commit(
        path,
        replace={_LAYOUT_DS: [seg]},
        dataset_meta={_LAYOUT_DS: meta},
        # manifest-level stats: this segment holds the whole frame, so
        # its min/max ARE the frozen bounds
        segment_stats={
            _LAYOUT_DS: {seg: {c: list(v) for c, v in bounds.items()}}
        },
        **({"lock": lock} if lock is not None else {}),
    )
    # the replace-commit makes this segment the ENTIRE layout, so its
    # parquet footers carry the exact row count — no re-scan
    return _footer_rows(seg)


def zorder_append(
    df: DataFrame,
    path: str,
    num_files: int = 4,
    file_keys: list[str] | None = None,
    lock=None,
) -> int:
    """Incremental Z-order maintenance — the layout twin of the ANN
    index append contract (frozen parameters, batch-proportional
    cost): cluster a NEW batch along the EXISTING layout's curve
    (bounds frozen at write time) and append it as ``num_files``
    box-compact files. Nothing from the existing layout is read or
    rewritten — cost is linear in the BATCH — and footer-stats pruning
    is per-file, so the appended files prune exactly like the
    originals (pinned by tests/test_layout.py). Keys that drift past
    the frozen bounds clamp to the curve's edge cells (their files
    stay prunable for in-range predicates; a periodic re-cluster
    refreshes the bounds — the same rhythm as index compaction).

    The batch stages as a NEW segment and lands via an ``add`` commit
    — invisible until the pointer swap, so a reader mid-append sees
    the old layout or old+batch, never a partial file listing.
    ``file_keys`` records source-file identities into the manifest's
    ingested history IN THE SAME COMMIT as the segment — the
    exactly-once hook the streaming ingest rides. A path without a
    manifest raises ``ValueError``. Returns appended row count."""
    meta = zorder_bounds(path)
    seg = mf.new_segment_path(path)
    _cluster_write(df, meta, seg, num_files)
    # the batch's ACTUAL min/max (not the clamped curve bounds), read
    # from the staged files' own parquet footers — no second pass over
    # the batch. Fallback to the agg when footer stats are unusable;
    # both paths raise on an all-NULL/empty batch, which could not be
    # placed on the curve anyway (the staged segment is then an
    # uncommitted orphan, reclaimed by vacuum)
    batch_bounds = _footer_bounds(seg, meta["cols"])
    if batch_bounds is None:
        batch_bounds = _freeze_bounds(df, meta["cols"], "zorder_append")
    mf.commit(
        path,
        add={_LAYOUT_DS: [seg]},
        file_keys=file_keys,
        segment_stats={
            _LAYOUT_DS: {seg: {c: list(v) for c, v in batch_bounds.items()}}
        },
        **({"lock": lock} if lock is not None else {}),
    )
    # footers of the staged segment == rows appended (exact), no
    # recompute of the batch lineage just to return a count
    return _footer_rows(seg)


def _stats_bounds(
    path: str, segs: list[str], cols: list[str]
) -> dict | None:
    """Exact min/max bounds of ``segs`` from the manifest's committed
    per-segment stats — zero data scanned (the same metadata
    ``zorder_drift`` trusts for its actual-bounds arithmetic; every
    stats entry was itself a ``_freeze_bounds`` result, so folding
    them reproduces the full-scan agg bit for bit). Returns None when
    any selected segment misses stats for any required column — the
    caller must fall back to the scan."""
    by_seg = dict(mf.dataset_segments_with_stats(path, _LAYOUT_DS))
    out: dict[str, tuple[int, int]] = {}
    for seg in segs:
        st = by_seg.get(seg)
        if st is None:
            return None
        for c in cols:
            if c not in st:
                return None
            lo, hi = int(st[c][0]), int(st[c][1])
            cur = out.get(c)
            out[c] = (
                (lo, hi)
                if cur is None
                else (min(cur[0], lo), max(cur[1], hi))
            )
    return out or None


def zorder_compact(
    spark: SparkSession,
    path: str,
    num_files: int = 32,
    refresh_bounds: bool = True,
    max_segments: int | None = None,
    lock=None,
) -> int:
    """Re-cluster a manifest-backed layout FROM ITSELF: read the live
    segments, z-write one fresh segment (bounds re-frozen from the
    data unless ``refresh_bounds=False``), and commit REMOVE(read
    segments) + ADD(rewrite) — the Iceberg rewrite-commit shape shared
    with ``compact_transactional``. A concurrent ``zorder_append``
    landing between the read and the commit is carried forward (its
    segment stays in the list, clustered against the pre-compaction
    bounds — still box-compact parquet, prunable as written); a
    concurrent COMPACTION of the same segments raises
    ``StaleSegmentError`` and this rewrite aborts as an invisible
    orphan. Serving reads racing the commit resolve old or new
    snapshot, never a mix. Returns the compacted row count.

    ``max_segments`` bounds the rewrite to the N SMALLEST live
    segments (by on-disk bytes) — incremental compaction, the Iceberg
    partial-``rewriteDataFiles`` shape: after a streaming day leaves
    10⁴ tiny append segments, a cron of bounded compactions folds the
    fragmentation tail at flat per-run cost instead of one
    corpus-sized rewrite. A partial compaction NEVER re-freezes the
    curve bounds (the untouched segments are clustered on the current
    curve; changing it under them would lie to the next append), so
    ``refresh_bounds`` only applies to full compactions. A PARTIAL
    compaction whose ``max_segments`` selection lands on ≤1 segment is
    a no-op returning 0 (folding one segment into itself changes
    nothing); a FULL compaction always rewrites, even of a
    single-segment layout — that is exactly how a drift-degraded
    layout re-freezes its curve bounds from the live data."""
    if not mf.is_transactional(path):
        raise ValueError(
            f"zorder_compact: {path!r} is not manifest-backed — build "
            "the layout with zorder_write"
        )
    old_segs = mf.dataset_segments(path, _LAYOUT_DS)
    meta = zorder_bounds(path)
    if max_segments is not None and max_segments < len(old_segs):
        def _bytes(seg: str) -> int:
            total = 0
            for dirpath, _d, files in os.walk(seg):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
            return total

        old_segs = sorted(old_segs, key=_bytes)[:max_segments]
        if len(old_segs) <= 1:
            return 0  # nothing to fold
        refresh_bounds = False  # partial: the curve stays frozen
    cur = mf.read_segments(spark, old_segs)
    actual = _stats_bounds(path, old_segs, meta["cols"])
    if actual is None:
        # a selected segment lacks (full) stats — the one case that
        # still needs a scan to know the data's true min/max
        actual = _freeze_bounds(cur, meta["cols"], "zorder_compact")
    if refresh_bounds:
        meta = {"cols": meta["cols"], "bits": meta["bits"], "bounds": actual}
    seg = mf.new_segment_path(path)
    _cluster_write(cur, meta, seg, num_files)
    dm: dict[str, dict] = {_LAYOUT_DS: meta}
    if refresh_bounds:
        # a full bounds-refreshing compaction RESOLVES any pending
        # compaction-due marker — clearing it rides the same atomic
        # commit as the rewrite (signal and resolution can never be
        # observed out of sync); a partial compaction leaves both the
        # curve and the marker alone. Caveat: a drifted append landing
        # BETWEEN this rewrite's read and its commit is carried
        # forward past the re-frozen bounds — the clear then swallows
        # a live signal until the next ingest poll re-marks. Bare
        # callers must re-check drift afterwards if that matters;
        # run_due_compaction (the maintenance entry point) does.
        dm[_MAINT_DS] = {}
    mf.commit(
        path,
        remove={_LAYOUT_DS: old_segs},
        add={_LAYOUT_DS: [seg]},
        dataset_meta=dm,
        # stats are the data's actual min/max even under keep-bounds
        segment_stats={
            _LAYOUT_DS: {seg: {c: list(v) for c, v in actual.items()}}
        },
        **({"lock": lock} if lock is not None else {}),
    )
    return _footer_rows(seg)


def _box_source_bounds(sf_dir: str, li: DataFrame) -> dict:
    """Exact (l_partkey, l_suppkey) min/max of the SOURCE lineitem
    table — folded from the parquet footers' column statistics
    (``_footer_bounds``: int stats are exact and, like the agg, ignore
    nulls) instead of a full min/max scan job per invocation; any file
    with unusable stats falls back to the identical aggregation
    (guide §6: metadata over data — the same fold zorder_append/compact
    already trust for committed segments). Box arithmetic and the
    frozen write bounds both consume this, so the values MUST be the
    table's true min/max — which footer stats are by definition."""
    cols = ["l_partkey", "l_suppkey"]
    got = _footer_bounds(os.path.join(sf_dir, "lineitem.parquet"), cols)
    if got is not None and all(c in got for c in cols):
        return got
    return _freeze_bounds(li, cols, "box_source_bounds")


def _box_edges(bounds: dict) -> tuple:
    """The center-quarter box per key from exact integer bounds —
    Python ``//`` ≡ Spark ``div`` ≡ DuckDB ``//`` (the shared-arithmetic
    contract the oracle replays)."""
    plo, phi = bounds["l_partkey"]
    slo, shi = bounds["l_suppkey"]
    return (
        (plo + (phi - plo) * 3 // 8, plo + (phi - plo) * 5 // 8),
        (slo + (shi - slo) * 3 // 8, slo + (shi - slo) * 5 // 8),
    )


_Z_ORACLE = f"""
    WITH b AS (SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
                      min(l_suppkey) AS slo, max(l_suppkey) AS shi
               FROM lineitem),
    sc AS (SELECT {scaled_expr('l_partkey', 'plo', 'phi', idiv='//')} AS sp,
                  {scaled_expr('l_suppkey', 'slo', 'shi', idiv='//')} AS ss,
                  l_partkey, l_suppkey
           FROM lineitem CROSS JOIN b),
    zv AS (SELECT {interleave_expr(['sp', 'ss'])} AS z, l_partkey, l_suppkey
           FROM sc)
    SELECT CAST(z >> {2 * _Z_BITS - 8} AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT)   AS n,
           CAST(min(l_partkey) AS BIGINT) AS part_lo,
           CAST(max(l_partkey) AS BIGINT) AS part_hi,
           CAST(min(l_suppkey) AS BIGINT) AS supp_lo,
           CAST(max(l_suppkey) AS BIGINT) AS supp_hi
    FROM zv GROUP BY z_bucket
"""


@register(
    "layout_zorder_buckets",
    _Z_ORACLE,
    doc=(
        "Morton (Z-order) clustering profile of lineitem on "
        "(l_partkey, l_suppkey): min-max scale each key to 12 bits "
        "with exact integer division, interleave into a 24-bit "
        "z-value, and report per-top-8-bit-bucket row counts and the "
        "min/max box of BOTH keys — the statistics a z-clustered "
        "writer's file footers would carry, demonstrating that every "
        "curve bucket is a compact hyper-rectangle (tight stats on "
        "ALL interleaved columns at once, which is exactly why a box "
        "predicate on either key prunes most files at 100 TB; "
        "single-key sorting gives this for one column only). The "
        "interleave/scale SQL text is generated once and shared "
        "verbatim with the DuckDB oracle — no UDF, no doubles. "
        "zorder_write materializes the layout itself; footer-stats "
        "pruning pinned in tests/test_layout.py."
    ),
    tags=("layout", "scale"),
)
def layout_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = with_zvalue(li, ["l_partkey", "l_suppkey"])
    return z.groupBy(
        F.shiftright(F.col("z"), 2 * _Z_BITS - 8).cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_partkey").cast("long").alias("part_lo"),
        F.max("l_partkey").cast("long").alias("part_hi"),
        F.min("l_suppkey").cast("long").alias("supp_lo"),
        F.max("l_suppkey").cast("long").alias("supp_hi"),
    )


# the end-to-end box query: the center box [3/8, 5/8] of each key's
# range, derived with the SAME integer arithmetic on both engines
# (Python // on positive spans ≡ Spark div ≡ DuckDB //)
_ZQ_ORACLE = """
    WITH b AS (SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
                      min(l_suppkey) AS slo, max(l_suppkey) AS shi
               FROM lineitem),
    box AS (SELECT (plo + (((phi - plo) * 3) // 8)) AS p_lo,
                   (plo + (((phi - plo) * 5) // 8)) AS p_hi,
                   (slo + (((shi - slo) * 3) // 8)) AS s_lo,
                   (slo + (((shi - slo) * 5) // 8)) AS s_hi
            FROM b)
    SELECT CAST(count(*) AS BIGINT)        AS n,
           round(sum(l_quantity), 4)       AS sum_qty,
           round(sum(l_extendedprice), 4)  AS sum_price,
           CAST(min(l_orderkey) AS BIGINT) AS first_order,
           CAST(max(l_orderkey) AS BIGINT) AS last_order
    FROM lineitem CROSS JOIN box
    WHERE l_partkey BETWEEN p_lo AND p_hi
      AND l_suppkey BETWEEN s_lo AND s_hi
"""


@register(
    "layout_zorder_box_query",
    _ZQ_ORACLE,
    doc=(
        "End-to-end Z-order scan: zorder_write materializes lineitem "
        "as a single-commit manifest layout of 32 parquet files "
        "clustered on the Morton curve of "
        "(l_partkey, l_suppkey), then a box predicate spanning the "
        "center quarter of BOTH key ranges is answered FROM THE "
        "Z-CLUSTERED LAYOUT — the read path a stats-aware scan prunes "
        "(each file covers a compact hyper-rectangle, so most files' "
        "footer min/max exclude the box; admitted-file counts receipted "
        "in SCALE_RECEIPT_r10_zorder_query.json and pinned by "
        "tests/test_layout.py). The oracle runs the same box query on "
        "the raw table: the layout is a physical detail, so the "
        "answers must match exactly — proving the clustered write is "
        "lossless AND the pruned scan is correct. Box bounds derive "
        "from min/max with shared integer arithmetic (Python // ≡ "
        "Spark div ≡ DuckDB //)."
    ),
    tags=("layout", "scale"),
)
def layout_zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    bounds = _box_source_bounds(sf_dir, li)
    (p_lo, p_hi), (s_lo, s_hi) = _box_edges(bounds)

    # materialize the clustered layout (a fresh single-commit layout,
    # one path per sf_dir — wiped first so repeated calls do not pile
    # up superseded segments) and answer the box from IT, not from the
    # source table
    path = os.path.join(
        tempfile.gettempdir(),
        "fintech_etl_zbox_"
        + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    shutil.rmtree(path, ignore_errors=True)
    # the box agg above already computed the exact min/max — hand the
    # bounds to zorder_write so it skips its own identical agg pass
    zorder_write(
        li,
        ["l_partkey", "l_suppkey"],
        path,
        num_files=32,
        bounds=bounds,
    )
    z = read_zorder(spark, path)
    return z.filter(
        F.col("l_partkey").between(p_lo, p_hi)
        & F.col("l_suppkey").between(s_lo, s_hi)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.min("l_orderkey").cast("long").alias("first_order"),
        F.max("l_orderkey").cast("long").alias("last_order"),
    )


@register(
    "layout_zorder_box_query_tx",
    _ZQ_ORACLE,
    doc=(
        "The multi-commit twin of layout_zorder_box_query: the "
        "z-clustered layout is built from 7/8 of the rows (zorder_write "
        "— clustered files staged as an immutable segment, committed "
        "with the frozen curve bounds in one atomic pointer swap, "
        "sinks/manifest.py), an incremental "
        "zorder_append lands a second segment via an add commit, and "
        "the box is answered through read_zorder_box — manifest-level "
        "segment-stats pruning first (the Iceberg manifest-file-stats "
        "shape: whole segments excluded from one pointer read, "
        "receipted at 43x on a 101-segment fragmented layout in "
        "SCALE_RECEIPT_r11_manifest_prune.json), then footer pruning "
        "inside kept segments. The oracle runs the same box on the "
        "raw table, so this row proves END-TO-END that the "
        "transactional lifecycle — replace commit, staged append, "
        "pointer-resolved pruned scan — is lossless AND every pruning "
        "layer is correct. Race/crash atomicity is pinned by "
        "tests/test_layout_manifest.py (a reader never sees a partial "
        "batch; a crashed commit leaves the old snapshot)."
    ),
    tags=("layout", "scale", "transactional"),
)
def layout_zorder_box_query_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    bounds = _box_source_bounds(sf_dir, li)
    (p_lo, p_hi), (s_lo, s_hi) = _box_edges(bounds)

    # fresh root each invocation: build (replace commit) from 7/8 of
    # the rows, then append the held-out 1/8 as an add commit — the
    # manifest-resolved read must see exactly the whole table
    path = os.path.join(
        tempfile.gettempdir(),
        "fintech_etl_zboxtx_"
        + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    shutil.rmtree(path, ignore_errors=True)
    seed = li.filter(F.col("l_orderkey") % 8 != 0)
    batch = li.filter(F.col("l_orderkey") % 8 == 0)
    zorder_write(seed, ["l_partkey", "l_suppkey"], path, num_files=28)
    zorder_append(batch, path, num_files=4)
    # the box goes through read_zorder_box, so the driver's oracle gate
    # exercises ALL pruning layers every round: manifest segment stats
    # (committed with the build and the append above) → parquet footer
    # stats inside kept segments → the curve's box-compactness
    z = read_zorder_box(
        spark, path, {"l_partkey": (p_lo, p_hi), "l_suppkey": (s_lo, s_hi)}
    )
    return z.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.min("l_orderkey").cast("long").alias("first_order"),
        F.max("l_orderkey").cast("long").alias("last_order"),
    )


# shared integer arithmetic: frozen bounds = seed (l_orderkey % 8 <> 0)
# min/max; the drifted batch shifts each key by ITS frozen span; actual
# bounds = least/greatest over both; out-of-bounds fraction = clipped
# overhang / live span (Python float div ≡ DuckDB * 1.0 /)
_ZDRIFT_ORACLE = """
    WITH fb AS (SELECT min(l_partkey) AS fplo, max(l_partkey) AS fphi,
                       min(l_suppkey) AS fslo, max(l_suppkey) AS fshi
                FROM lineitem WHERE l_orderkey % 8 <> 0),
    bb AS (SELECT min(l_partkey) AS bplo, max(l_partkey) AS bphi,
                  min(l_suppkey) AS bslo, max(l_suppkey) AS bshi
           FROM lineitem WHERE l_orderkey % 8 = 0),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS rows_total FROM lineitem),
    m AS (
      SELECT 'l_partkey' AS key_col,
             CAST(fplo AS BIGINT) AS frozen_lo,
             CAST(fphi AS BIGINT) AS frozen_hi,
             CAST(least(fplo, bplo + (fphi - fplo)) AS BIGINT) AS actual_lo,
             CAST(greatest(fphi, bphi + (fphi - fplo)) AS BIGINT) AS actual_hi
      FROM fb CROSS JOIN bb
      UNION ALL
      SELECT 'l_suppkey',
             CAST(fslo AS BIGINT), CAST(fshi AS BIGINT),
             CAST(least(fslo, bslo + (fshi - fslo)) AS BIGINT),
             CAST(greatest(fshi, bshi + (fshi - fslo)) AS BIGINT)
      FROM fb CROSS JOIN bb
    )
    SELECT key_col, frozen_lo, frozen_hi, actual_lo, actual_hi,
           round((CASE WHEN frozen_lo > actual_lo
                       THEN frozen_lo - actual_lo ELSE 0 END
                + CASE WHEN actual_hi > frozen_hi
                       THEN actual_hi - frozen_hi ELSE 0 END)
                * 1.0 / greatest(actual_hi - actual_lo, 1), 4) AS oob_frac,
           0.0 AS drift_after_compact,
           rows_total
    FROM m CROSS JOIN tot
"""


@register(
    "layout_zorder_drift_lifecycle",
    _ZDRIFT_ORACLE,
    doc=(
        "The bound-drift lifecycle, driver-checked end-to-end: build a "
        "manifest-backed z-layout from 7/8 of lineitem (bounds frozen "
        "at the seed's min/max), append the held-out 1/8 with every "
        "key shifted past the frozen box by its own span (the "
        "worst-case drifted batch — its keys all clamp to the curve's "
        "edge cells), then read the NEW zorder_drift metric straight "
        "off the manifest: per-column frozen vs actual bounds and the "
        "out-of-bounds fraction, computed from one pointer read and "
        "the committed per-segment stats with ZERO data scanned. A "
        "full zorder_compact re-freezes the curve from the live data; "
        "the row carries the post-compact drift (must be exactly 0) "
        "and the post-compact row count (losslessness). The oracle "
        "reproduces every number from raw lineitem with the shared "
        "exact integer arithmetic — so the driver gate re-proves each "
        "round that the drift metric an operator's compaction cron "
        "polls is ARITHMETICALLY correct, not just plausible. Decay "
        "and restore receipted at sf1/sf10 in "
        "SCALE_RECEIPT_r12_zorder_drift{,_sf10}.json."
    ),
    tags=("layout", "scale", "transactional"),
)
def layout_zorder_drift_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    path = os.path.join(
        tempfile.gettempdir(),
        "fintech_etl_zdrift_"
        + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    shutil.rmtree(path, ignore_errors=True)
    seed = li.filter(F.col("l_orderkey") % 8 != 0)
    zorder_write(seed, ["l_partkey", "l_suppkey"], path, num_files=8)
    fb = zorder_bounds(path)["bounds"]
    shift_p = fb["l_partkey"][1] - fb["l_partkey"][0]
    shift_s = fb["l_suppkey"][1] - fb["l_suppkey"][0]
    batch = li.filter(F.col("l_orderkey") % 8 == 0).select(
        "l_orderkey",
        (F.col("l_partkey") + shift_p).alias("l_partkey"),
        (F.col("l_suppkey") + shift_s).alias("l_suppkey"),
    )
    zorder_append(batch, path, num_files=2)
    drifted = zorder_drift(path)
    zorder_compact(spark, path, num_files=8)  # full: re-freezes bounds
    after = zorder_drift(path)["drift"]
    # manifest-resolved live segments, counted from parquet footers —
    # exact, and no fourth full-scan job in the lifecycle
    rows_total = _footer_rows(*mf.dataset_segments(path, _LAYOUT_DS))
    out = [
        (
            c,
            int(st["frozen"][0]),
            int(st["frozen"][1]),
            int(st["actual"][0]),
            int(st["actual"][1]),
            round(st["out_of_bounds_fraction"], 4),
            float(after),
            rows_total,
        )
        for c, st in sorted(drifted["cols"].items())
    ]
    return spark.createDataFrame(
        out,
        "key_col string, frozen_lo bigint, frozen_hi bigint, "
        "actual_lo bigint, actual_hi bigint, oob_frac double, "
        "drift_after_compact double, rows_total bigint",
    )
