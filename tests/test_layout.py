"""Z-order layout (operators/layout.py): curve math unit-pinned, and
the claim that matters — a z-clustered write gives parquet footer
min/max stats that prune files for box predicates on EITHER
interleaved column, where a single-key sort prunes only its own key.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from fintech_etl_spark.operators.layout import (
    interleave_expr,
    read_zorder,
    with_zvalue,
    zorder_write,
)
from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_interleave_bit_positions(spark):
    """Hand-computed Morton values: x=0b101, y=0b011 → bits of x at
    even positions (x_i → 2i), y at odd (y_i → 2i+1):
    y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1 → 0b011011 = 27; plus the axis
    unit vectors land at positions 0 and 1."""
    rows = spark.sql(
        f"""SELECT {interleave_expr(['x', 'y'], bits=3)} AS z
            FROM VALUES (5, 3), (1, 0), (0, 1), (7, 7) AS t(x, y)"""
    ).collect()
    assert [r.z for r in rows] == [0b011011, 1, 2, 0b111111]


def test_with_zvalue_scales_before_interleaving(spark):
    """Min-max scaling: the extreme corners of the key space map to
    the extreme z-values regardless of the raw ranges."""
    df = spark.createDataFrame(
        [(100, 7), (100, 9), (300, 7), (300, 9)], "a long, b long"
    )
    z = {(r.a, r.b): r.z for r in with_zvalue(df, ["a", "b"], bits=4).collect()}
    assert z[(100, 7)] == 0
    assert z[(300, 9)] == (1 << 8) - 1  # both lanes saturated
    assert z[(300, 7)] == 0b01010101  # only the a-lane (even bits)
    assert z[(100, 9)] == 0b10101010  # only the b-lane (odd bits)


def _parquet_in(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def _layout_files(zpath):
    """The parquet files of a z-order layout's live segments."""
    return [
        f for seg in mf.dataset_segments(zpath, "layout") for f in _parquet_in(seg)
    ]


def _files_overlapping_box(files, plo, phi, slo, shi):
    """Count parquet files whose footer min/max stats admit rows in
    the box — exactly the pruning decision a stats-aware scan makes.
    Empty files (range repartitioning may emit empty partitions) prune
    trivially and are excluded; a non-empty file missing stats could
    never be pruned and counts as admitted."""
    hit, total = 0, 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        if meta.num_rows == 0:
            continue
        stats = {}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                lo, hi = stats.get(name, (s.min, s.max))
                stats[name] = (min(lo, s.min), max(hi, s.max))
        total += 1
        if "l_partkey" not in stats or "l_suppkey" not in stats:
            hit += 1  # no stats → unprunable → always admitted
            continue
        if (
            stats["l_partkey"][0] <= phi
            and stats["l_partkey"][1] >= plo
            and stats["l_suppkey"][0] <= shi
            and stats["l_suppkey"][1] >= slo
        ):
            hit += 1
    return hit, total


def test_zorder_write_prunes_box_predicates_on_both_keys(spark, tmp_path):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    n = li.count()
    b = li.agg(
        F.min("l_partkey").alias("plo"),
        F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"),
        F.max("l_suppkey").alias("shi"),
    ).first()
    pspan, sspan = b.phi - b.plo, b.shi - b.slo

    natural = str(tmp_path / "natural")
    li.repartitionByRange(16, "l_orderkey").write.parquet(natural)
    zpath = str(tmp_path / "zorder")
    assert zorder_write(li, ["l_partkey", "l_suppkey"], zpath, num_files=16) == n

    # A 3×3 grid of ~15% boxes, asserted ON AVERAGE: file boundaries
    # come from RangePartitioner's sampled bounds (seeded by the
    # session-global RDD id), so any SINGLE box's admitted count can
    # wobble ±1-2 with where boundaries land relative to curve seams —
    # the central box especially (all four Morton quadrants meet
    # there). The aggregate claim is what the layout guarantees.
    nat_hits, z_hits, totals = [], [], []
    for gi in range(3):
        for gj in range(3):
            plo = b.plo + int((0.1 + 0.3 * gi) * pspan)
            slo = b.slo + int((0.1 + 0.3 * gj) * sspan)
            box = (plo, plo + int(0.15 * pspan), slo, slo + int(0.15 * sspan))
            nh, nt = _files_overlapping_box(_parquet_in(natural), *box)
            zh, zt = _files_overlapping_box(_layout_files(zpath), *box)
            nat_hits.append(nh)
            z_hits.append(zh)
            totals.append((nt, zt))
    assert all(nt >= 8 and zt >= 8 for nt, zt in totals)
    # orderkey-sorted files carry the full (partkey, suppkey) spread —
    # the box predicates prune (almost) nothing
    assert sum(nat_hits) >= sum(nt for nt, _ in totals) - len(totals)
    # z-clustered files are compact boxes — most files prune away
    assert sum(z_hits) <= sum(nat_hits) / 2, (z_hits, nat_hits)

    # and the layouts hold identical data
    got = read_zorder(spark, zpath)
    assert got.count() == n
    assert got.exceptAll(li).count() == 0 and li.exceptAll(got).count() == 0


def test_zorder_files_are_equal_quantile_parts_in_any_session(spark, tmp_path):
    """The z-range is cut at its quantiles computed from the data, not
    at a boundary sample Spark seeds with the session's RDD counter:
    the same rows give the same files whatever ran before, and each of
    the ``num_files`` files holds an equal share of the rows."""
    df = spark.range(20000).select(
        F.col("id").alias("rowid"),
        (F.abs(F.xxhash64("id")) % 997).cast("long").alias("x"),
        (F.abs(F.xxhash64("id", F.lit(1))) % 983).cast("long").alias("y"),
    )

    def footer(f):
        md = pq.ParquetFile(f).metadata
        st = [md.row_group(0).column(i).statistics for i in (1, 2)]
        return (md.num_rows, *[(s.min, s.max) for s in st])

    layouts = []
    for i in range(2):
        spark.sparkContext.parallelize(range(i + 1)).count()  # advance RDD ids
        root = str(tmp_path / f"z{i}")
        zorder_write(df, ["x", "y"], root, num_files=16)
        layouts.append(sorted(footer(f) for f in _layout_files(root)))
    assert layouts[0] == layouts[1]
    assert len(layouts[0]) == 16
    assert all(abs(n - 1250) <= 10 for n, *_ in layouts[0]), layouts[0]


def test_zorder_box_query_results_unchanged(spark, tmp_path):
    """Pruning is a physical detail: the box query returns identical
    rows from either layout."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    zpath = str(tmp_path / "z")
    zorder_write(li, ["l_partkey", "l_suppkey"], zpath, num_files=8)
    pred = (
        (F.col("l_partkey").between(50, 90))
        & (F.col("l_suppkey").between(3, 7))
    )
    want = sorted(map(tuple, li.filter(pred).collect()))
    got = sorted(map(tuple, read_zorder(spark, zpath).filter(pred).collect()))
    assert got == want and want, "box must be non-empty"


def test_with_zvalue_empty_or_all_null_raises(spark):
    """Empty input / all-NULL key → a descriptive ValueError at the
    bounds agg, not an unresolved-`None`-token AnalysisException deep
    inside the generated SQL."""
    empty = spark.createDataFrame([], "a long, b long")
    with pytest.raises(ValueError, match="empty or the column is all-NULL"):
        with_zvalue(empty, ["a", "b"])
    nullish = spark.createDataFrame([(1, None), (2, None)], "a long, b long")
    with pytest.raises(ValueError, match=r"\['b'\]"):
        with_zvalue(nullish, ["a", "b"])


def test_zorder_append_preserves_data_and_box_queries(spark, tmp_path):
    """Frozen-bounds incremental clustering: build the layout from 80%
    of lineitem, append the rest in two batches — the union is intact
    and box queries return identical rows to the raw table."""
    from fintech_etl_spark.operators.layout import zorder_append

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    cut = int(li.count() * 0.8)
    base = li.filter(F.col("l_orderkey") % 5 != 0)
    rest = li.filter(F.col("l_orderkey") % 5 == 0)
    zpath = str(tmp_path / "z")
    zorder_write(base, ["l_partkey", "l_suppkey"], zpath, num_files=8)
    n1 = zorder_append(rest.filter(F.col("l_partkey") % 2 == 0), zpath)
    n2 = zorder_append(rest.filter(F.col("l_partkey") % 2 == 1), zpath)
    assert n1 + n2 == rest.count()

    got = read_zorder(spark, zpath)
    assert got.count() == li.count()
    assert got.exceptAll(li).count() == 0 and li.exceptAll(got).count() == 0

    pred = (
        (F.col("l_partkey").between(50, 90))
        & (F.col("l_suppkey").between(3, 7))
    )
    want = sorted(map(tuple, li.filter(pred).collect()))
    assert sorted(map(tuple, got.filter(pred).collect())) == want and want


def test_zorder_append_files_stay_box_compact(spark, tmp_path):
    """Appended files carry tight footer stats too: on a grid of box
    predicates, the appended-to layout still admits at most half of
    its files on average (aggregate claim — RangePartitioner
    boundaries drift with session history)."""
    import pyarrow.parquet as pq

    from fintech_etl_spark.operators.layout import zorder_append

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    base = li.filter(F.col("l_orderkey") % 5 != 0)
    rest = li.filter(F.col("l_orderkey") % 5 == 0)
    zpath = str(tmp_path / "z")
    zorder_write(base, ["l_partkey", "l_suppkey"], zpath, num_files=8)
    zorder_append(rest, zpath, num_files=4)

    stats = []
    for f in _layout_files(zpath):
        meta = pq.ParquetFile(f).metadata
        s: dict = {}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema in ("l_partkey", "l_suppkey"):
                    st_ = col.statistics
                    lo, hi = s.get(col.path_in_schema, (st_.min, st_.max))
                    s[col.path_in_schema] = (
                        min(lo, st_.min),
                        max(hi, st_.max),
                    )
        stats.append(s)
    assert len(stats) == 12  # 8 base + 4 appended

    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    pspan, sspan = b[1] - b[0], b[3] - b[2]
    admitted = []
    for gi in range(3):
        for gj in range(3):
            plo = b[0] + int((0.1 + 0.3 * gi) * pspan)
            slo = b[2] + int((0.1 + 0.3 * gj) * sspan)
            phi, shi = plo + int(0.15 * pspan), slo + int(0.15 * sspan)
            admitted.append(
                sum(
                    1
                    for s in stats
                    if s["l_partkey"][0] <= phi
                    and s["l_partkey"][1] >= plo
                    and s["l_suppkey"][0] <= shi
                    and s["l_suppkey"][1] >= slo
                )
            )
    assert sum(admitted) <= len(admitted) * len(stats) / 2, admitted


def test_zorder_append_clamps_out_of_range_keys(spark, tmp_path):
    """A batch that drifts past the frozen bounds lands on the curve's
    edge cells instead of failing; the data round-trips intact."""
    from fintech_etl_spark.operators.layout import zorder_append

    base = spark.createDataFrame(
        [(i, i % 50, i % 7) for i in range(500)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    zpath = str(tmp_path / "z")
    zorder_write(base, ["l_partkey", "l_suppkey"], zpath, num_files=4)
    drift = spark.createDataFrame(
        [(10_000 + i, 1_000_000 + i, -50) for i in range(20)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    assert zorder_append(drift, zpath, num_files=1) == 20
    got = read_zorder(spark, zpath)
    assert got.count() == 520
    assert got.filter(F.col("l_partkey") >= 1_000_000).count() == 20


def test_footer_folds_handle_plain_file_roots(spark):
    """The star-schema testdata tables are single parquet FILES, not
    directories — the footer folds must fold them, not silently return
    None/0 and fall back to a scan (the round-16 review catch: os.walk
    on a file yields nothing). Pinned: file-root bounds/rows equal the
    Spark aggregation bit for bit, and _box_source_bounds takes the
    fold path (not the _freeze_bounds fallback) on the smoke table."""
    from fintech_etl_spark.operators.layout import (
        _box_source_bounds,
        _footer_bounds,
        _footer_rows,
        _freeze_bounds,
    )

    path = os.path.join(SF_SMOKE, "lineitem.parquet")
    assert os.path.isfile(path), "precondition: testdata table is a file"
    cols = ["l_partkey", "l_suppkey"]
    folded = _footer_bounds(path, cols)
    assert folded is not None, "file-root fold regressed to None"
    li = load_table(spark, SF_SMOKE, "lineitem")
    scanned = _freeze_bounds(li, cols, "test")
    assert {c: tuple(v) for c, v in folded.items()} == scanned
    assert _footer_rows(path) == li.count()
    assert {
        c: tuple(v) for c, v in _box_source_bounds(SF_SMOKE, li).items()
    } == scanned


def test_footer_rows_raises_on_a_bad_root(tmp_path):
    """A mistyped root must be loud, not a table of 0 rows: a path that
    does not exist and a file that is not parquet both raise; an
    existing empty directory (an empty dataset) still counts 0."""
    from fintech_etl_spark.operators.layout import _footer_rows

    with pytest.raises(FileNotFoundError):
        _footer_rows(str(tmp_path / "no_such_table.parquet"))
    not_parquet = tmp_path / "notes.csv"
    not_parquet.write_text("a,b\n")
    with pytest.raises(ValueError, match="not a .parquet"):
        _footer_rows(str(not_parquet))
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _footer_rows(str(empty)) == 0
