"""Transactional-lake schema evolution (round 14).

The read path has unioned drifted segments by name since r12
(``read_segments``' ``allowMissingColumns`` union); what was missing
was the WRITE-side contract: nothing stopped a committer from silently
forking the lake schema with a typo'd or retyped column. Now every
transactional commit records the column→type contract in
``dataset_meta['schema']`` (one atomic fact with the segments) and
validates the incoming frame against it — Delta's ``mergeSchema``
posture: adds need ``merge_schema=True``, retypes are always refused,
old segments are never rewritten (at 100 TB, evolution must be a
metadata commit, not a lake rewrite). The oracle-checked end-to-end
row is ``receipts_lake_schema_evolution``; these tests pin the
per-write mechanics.
"""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sinks.receipts import (
    SchemaEvolutionError,
    _RECEIPTS_DS,
    compact_receipts_lake,
    read_receipts,
    write_receipts_parquet,
)


def _frame(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def _base(spark, n=4, month=1):
    return _frame(
        spark,
        [
            (i, dt.date(2024, month, 1 + i), float(100 + i))
            for i in range(n)
        ],
        ["receipt_id", "transaction_date", "total_amount"],
    )


def _with_channel(spark, n=4, month=2):
    return _frame(
        spark,
        [
            (100 + i, dt.date(2024, month, 1 + i), float(200 + i), f"web-{i}")
            for i in range(n)
        ],
        ["receipt_id", "transaction_date", "total_amount", "channel"],
    )


def test_new_column_refused_without_merge_and_stages_nothing(
    spark, tmp_path
):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    v = mf.current(lake)["version"]
    with pytest.raises(SchemaEvolutionError, match="channel"):
        write_receipts_parquet(_with_channel(spark), lake)
    # refused BEFORE staging: no new segment dir, no commit
    assert mf.current(lake)["version"] == v
    assert len(mf.dataset_segments(lake, _RECEIPTS_DS)) == 1


def test_merge_schema_widens_without_rewriting_old_segments(
    spark, tmp_path
):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    seg0 = mf.dataset_segments(lake, _RECEIPTS_DS)[0]
    import os

    mtimes = {
        f: os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(seg0)
        for f in fs
        if f.endswith(".parquet")
    }
    write_receipts_parquet(_with_channel(spark), lake, merge_schema=True)
    # evolution was a METADATA commit: batch A's files untouched
    for r, _, fs in os.walk(seg0):
        for f in fs:
            if f.endswith(".parquet"):
                assert os.path.getmtime(os.path.join(r, f)) == mtimes[f]
    got = read_receipts(spark, lake)
    assert set(got.columns) >= {
        "receipt_id", "total_amount", "channel", "transaction_month"
    }
    rows = {r.receipt_id: r.channel for r in got.collect()}
    assert len(rows) == 8
    assert all(v is None for k, v in rows.items() if k < 100)  # legacy
    assert all(v == f"web-{k - 100}" for k, v in rows.items() if k >= 100)
    # the contract rides dataset_meta
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"]
    assert rec["channel"] == "string"
    assert rec["receipt_id"] in ("bigint", "int", "long")


def test_retype_refused_even_with_merge_schema(spark, tmp_path):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_with_channel(spark), lake, transactional=True)
    bad = _with_channel(spark).withColumn("channel", F.lit(7))
    with pytest.raises(SchemaEvolutionError, match="committed as string"):
        write_receipts_parquet(bad, lake, merge_schema=True)


def test_batch_missing_committed_column_is_allowed(spark, tmp_path):
    """The mirror direction: a writer that predates the new column (or
    simply has nothing for it) still commits; its rows read as null.
    The record KEEPS the committed column."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_with_channel(spark), lake, transactional=True)
    write_receipts_parquet(_base(spark), lake)
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"]
    assert "channel" in rec
    got = read_receipts(spark, lake)
    assert got.filter(F.col("channel").isNull()).count() == 4


def test_overwrite_resets_the_contract(spark, tmp_path):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_with_channel(spark), lake, transactional=True)
    write_receipts_parquet(_base(spark), lake, mode="overwrite")
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"]
    assert "channel" not in rec  # rebuild defined a new contract
    # and the old contract no longer constrains: an int 'channel' is
    # now just a NEW column again (refused only for the merge gate)
    bad = _base(spark).withColumn("channel", F.lit(7))
    with pytest.raises(SchemaEvolutionError, match="merge_schema=True"):
        write_receipts_parquet(bad, lake)
    write_receipts_parquet(bad, lake, merge_schema=True)
    assert mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"][
        "channel"
    ] == "int"


def test_time_travel_reads_pre_evolution_schema(spark, tmp_path):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    v0 = mf.current(lake)["version"]
    write_receipts_parquet(_with_channel(spark), lake, merge_schema=True)
    old = read_receipts(spark, lake, version=v0)
    assert "channel" not in old.columns
    assert old.count() == 4


def test_compaction_preserves_evolved_nulls_and_the_record(
    spark, tmp_path
):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    write_receipts_parquet(_with_channel(spark), lake, merge_schema=True)
    before = {
        (r.receipt_id, r.channel)
        for r in read_receipts(spark, lake).collect()
    }
    res = compact_receipts_lake(spark, lake)
    assert res["rows"] == 8
    after = {
        (r.receipt_id, r.channel)
        for r in read_receipts(spark, lake).collect()
    }
    assert after == before  # nulls for legacy rows survive the rewrite
    # dataset_meta (incl. the schema record) is carried forward by the
    # rewrite commit — evolution state survives maintenance
    assert "channel" in mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"]


def test_pre_record_lake_adopts_incoming_schema(spark, tmp_path):
    """A lake written before schema records existed (meta without a
    'schema' key) must keep accepting writes: the first new-code write
    adopts the batch schema as the initial record."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    # simulate the r13-era lake: strip the record
    meta = dict(mf.get_dataset_meta(lake, _RECEIPTS_DS) or {})
    meta.pop("schema", None)
    mf.commit(lake, dataset_meta={_RECEIPTS_DS: meta})
    assert "schema" not in (mf.get_dataset_meta(lake, _RECEIPTS_DS) or {})
    write_receipts_parquet(_base(spark), lake)
    assert "schema" in mf.get_dataset_meta(lake, _RECEIPTS_DS)


def test_racing_evolvers_cannot_fork_a_type_under_the_lock(
    spark, tmp_path, monkeypatch
):
    """The r14 review's top finding, closed: the unlocked pre-check can
    be stale (writer A validates, writer B commits channel:int, then A
    commits channel:string) — but the AUTHORITATIVE check re-runs as
    manifest.commit's dataset_meta_fn UNDER the lock, where A sees B's
    committed record and aborts before the version claim. Simulated by
    blinding A's pre-check and interleaving B's real commit."""
    import fintech_etl_spark.sinks.receipts as rmod

    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    # B commits channel as STRING for real
    write_receipts_parquet(_with_channel(spark), lake, merge_schema=True)
    v = mf.current(lake)["version"]
    segs_before = set(mf.dataset_segments(lake, _RECEIPTS_DS))
    # A's pre-check is stale: blind it so only the locked check stands
    real = rmod._validate_schema_against
    calls = {"n": 0}

    def blinded(committed, incoming, merge_schema):
        calls["n"] += 1
        if calls["n"] == 1:  # the unlocked pre-check: sees nothing
            return real(None, incoming, merge_schema)
        return real(committed, incoming, merge_schema)

    monkeypatch.setattr(rmod, "_validate_schema_against", blinded)
    bad = _base(spark).withColumn("channel", F.lit(7))  # int vs string
    with pytest.raises(SchemaEvolutionError, match="committed as string"):
        write_receipts_parquet(bad, lake, merge_schema=True)
    assert calls["n"] == 2  # the locked check DID run and refused
    # nothing committed: version unchanged, no new live segment, the
    # schema record still says string
    assert mf.current(lake)["version"] == v
    assert set(mf.dataset_segments(lake, _RECEIPTS_DS)) == segs_before
    assert mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"][
        "channel"
    ] == "string"
    # the staged-but-refused segment is an orphan; vacuum collects it
    import os

    seg_root = os.path.join(lake, "segments")
    n_dirs_before = len(os.listdir(seg_root))
    mf.vacuum(lake, keep_last=10, orphan_grace_sec=0.0)
    assert len(os.listdir(seg_root)) < n_dirs_before
    assert mf.fsck(lake)["ok"]


def test_partition_shape_flip_is_refused(spark, tmp_path):
    """Every batch is month-partitioned and the derived
    transaction_month column never enters the contract (it would read
    as a baffling 'typo' the caller never wrote) — the SHAPE is its
    own recorded flag. A lake whose record says flat is refused by
    read, append (the monthly batch would flip its shape) and
    compaction alike; a rebuild may replace it."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    meta = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    assert meta["month_partitioned"] is True
    assert "transaction_month" not in meta["schema"]
    mf.commit(
        lake,
        dataset_meta={_RECEIPTS_DS: {**meta, "month_partitioned": False}},
    )
    version = mf.current(lake)["version"]
    with pytest.raises(ValueError, match="flat"):
        read_receipts(spark, lake)
    with pytest.raises(SchemaEvolutionError, match="partition"):
        write_receipts_parquet(_base(spark), lake)
    with pytest.raises(ValueError, match="flat"):
        compact_receipts_lake(spark, lake)
    assert mf.current(lake)["version"] == version
    # a rebuild defines a new contract, month-partitioned again
    write_receipts_parquet(_base(spark), lake, mode="overwrite")
    assert (
        mf.get_dataset_meta(lake, _RECEIPTS_DS)["month_partitioned"] is True
    )
    assert read_receipts(spark, lake).count() == 4


def _null_date_batch(spark):
    """One receipt with a null transaction_date: it lands in Hive's
    default partition on a month-partitioned lake."""
    return _frame(
        spark,
        [(90, None, 9.0)],
        "receipt_id long, transaction_date date, total_amount double",
    )


def test_compaction_stats_equal_an_explicit_aggregate(spark, tmp_path):
    """Compaction takes ``rows`` from the rewritten segment's footers
    and its month range from the ``transaction_month=`` directory
    names. Both must equal an explicit count/min/max over that
    segment, with a null-month row in Hive's default partition."""
    import os

    from fintech_etl_spark.sinks.maintenance import compact_transactional

    def explicit(seg):
        return spark.read.parquet(seg).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("transaction_month").alias("lo"),
            F.max("transaction_month").alias("hi"),
        ).first()

    monthly = str(tmp_path / "monthly")
    write_receipts_parquet(_base(spark, month=1), monthly, transactional=True)
    write_receipts_parquet(_null_date_batch(spark), monthly)
    write_receipts_parquet(_base(spark, month=3), monthly)
    res = compact_receipts_lake(spark, monthly)
    ((seg, st),) = mf.dataset_segments_with_stats(monthly, _RECEIPTS_DS)
    assert any(
        d.endswith("__HIVE_DEFAULT_PARTITION__") for d in os.listdir(seg)
    )
    agg = explicit(seg)
    assert res["rows"] == agg.n == 9
    assert st == {"transaction_month": [agg.lo, agg.hi]}
    assert st["transaction_month"] == ["2024-01", "2024-03"]

    # a stats column that is not a partition column is refused before
    # anything is staged
    version = mf.current(monthly)["version"]
    staged = set(os.listdir(os.path.join(monthly, "segments")))
    with pytest.raises(ValueError, match="partition columns"):
        compact_transactional(
            spark,
            monthly,
            {_RECEIPTS_DS: ["transaction_month"]},
            stats_cols={_RECEIPTS_DS: ["total_amount"]},
        )
    assert mf.current(monthly)["version"] == version
    assert set(os.listdir(os.path.join(monthly, "segments"))) == staged


def test_pre_r15_record_reads_and_compacts_to_the_same_rows(
    spark, tmp_path
):
    """A record without ``schema_struct`` declares no read schema: the
    lake is read with inferred schemas, as before, and compacts to the
    same rows."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark, month=1), lake, transactional=True)
    write_receipts_parquet(_with_channel(spark, month=2), lake, merge_schema=True)
    meta = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    flat = {k: v for k, v in meta.items() if k != "schema_struct"}
    mf.commit(lake, dataset_meta={_RECEIPTS_DS: flat})

    def rows():
        return sorted(
            (r.receipt_id, r.total_amount, r.channel, r.transaction_month)
            for r in read_receipts(spark, lake).collect()
        )

    before = rows()
    assert len(before) == 8
    res = compact_receipts_lake(spark, lake)
    assert res["rows"] == 8
    assert rows() == before
    assert "schema_struct" not in mf.get_dataset_meta(lake, _RECEIPTS_DS)


def test_read_and_compaction_resolve_the_manifest_once(
    spark, tmp_path, monkeypatch
):
    """A ``merge_schema=True`` batch adding ``channel`` commits right
    after the first ``manifest.current`` call returns. ``read_receipts``
    must still return one version whole (the old rows and columns, or
    the new ones), and a compaction must not drop the new column's
    values from the batch it carries forward."""
    real_current = mf.current

    def arm(lake):
        fired = []

        def current(root):
            m = real_current(root)
            if not fired:
                fired.append(True)
                write_receipts_parquet(
                    _with_channel(spark), lake, merge_schema=True
                )
            return m

        monkeypatch.setattr(mf, "current", current)
        return fired

    lake = str(tmp_path / "read")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    old = read_receipts(spark, lake)
    old_version = (set(old.columns), {r.receipt_id for r in old.collect()})
    fired = arm(lake)
    df = read_receipts(spark, lake)
    got = (set(df.columns), {r.receipt_id for r in df.collect()})
    monkeypatch.setattr(mf, "current", real_current)
    assert fired
    new = read_receipts(spark, lake)
    new_version = (set(new.columns), {r.receipt_id for r in new.collect()})
    assert "channel" in new_version[0] and "channel" not in old_version[0]
    assert got in (old_version, new_version), got

    lake = str(tmp_path / "compact")
    write_receipts_parquet(_base(spark, month=1), lake, transactional=True)
    write_receipts_parquet(
        _base(spark, month=3).withColumn("receipt_id", F.col("receipt_id") + 10),
        lake,
    )
    fired = arm(lake)
    res = compact_receipts_lake(spark, lake)
    monkeypatch.setattr(mf, "current", real_current)
    assert fired
    channel = {
        r.receipt_id: r.channel for r in read_receipts(spark, lake).collect()
    }
    assert len(channel) == 12
    assert {k: v for k, v in channel.items() if k >= 100} == {
        100 + i: f"web-{i}" for i in range(4)
    }
    assert res["rows"] == 8  # the compaction rewrote the two old batches


def test_meta_fn_returning_non_dict_is_refused_not_poisoning(tmp_path):
    """A dataset_meta_fn with a missing return would otherwise write
    dataset_meta: null and crash every FUTURE commit's carry-forward,
    far from the buggy callable — refused at the offending commit."""
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    with pytest.raises(TypeError, match="dataset_meta_fn"):
        mf.commit(root, dataset_meta_fn={"d": lambda committed: None})
    # the lake is NOT poisoned: later commits work, fsck clean
    m = mf.commit(root, file_keys=["after"])
    assert m["version"] == 1
    assert mf.fsck(root)["ok"]


def test_pre_flag_lake_shape_is_inferred_from_the_old_record(
    spark, tmp_path
):
    """Lakes recorded before the month_partitioned flag existed kept
    the derived transaction_month column in their schema record iff
    they were month-partitioned — the flat-lake guard infers the shape
    from it (so upgraded lakes are protected too) and migrates the
    derived column out of the contract on the next commit."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(_base(spark), lake, transactional=True)
    # simulate a pre-flag FLAT record: flag absent, no derived column
    meta = dict(mf.get_dataset_meta(lake, _RECEIPTS_DS))
    meta.pop("month_partitioned", None)
    mf.commit(lake, dataset_meta={_RECEIPTS_DS: meta})
    # the append is refused on the inferred shape
    with pytest.raises(SchemaEvolutionError, match="partition"):
        write_receipts_parquet(_base(spark), lake)
    # the pre-flag MONTHLY record: derived column in, flag absent
    meta["schema"] = {**meta["schema"], "transaction_month": "string"}
    mf.commit(lake, dataset_meta={_RECEIPTS_DS: meta})
    # a same-shape append passes and migrates the record
    write_receipts_parquet(_base(spark), lake)
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    assert rec["month_partitioned"] is True
    assert "transaction_month" not in rec["schema"]


# ---------------------------------------------------------------------------
# r15: NESTED-field evolution (the r14 verdict's ask #5)
# ---------------------------------------------------------------------------


def _nested(spark, n=4, month=1, *, price=False, key_base=0):
    """Receipts carrying the reference's own document shape: a
    line_items array<struct>; ``price=True`` adds a nested field."""
    items = lambda i: [  # noqa: E731
        (j, 10 * i + j, float(i + j)) if price else (j, 10 * i + j)
        for j in range(2)
    ]
    item_ddl = (
        "array<struct<line_no:int,partkey:int,price:double>>"
        if price
        else "array<struct<line_no:int,partkey:int>>"
    )
    return spark.createDataFrame(
        [
            (key_base + i, dt.date(2024, month, 1 + i), float(100 + i),
             items(i))
            for i in range(n)
        ],
        f"receipt_id long, transaction_date date, total_amount double, "
        f"line_items {item_ddl}",
    )


def test_nested_field_add_is_gated_and_metadata_only(spark, tmp_path):
    """Adding a field INSIDE line_items' struct is refused without
    merge_schema (same typo guard as a top-level column), then evolves
    as a METADATA commit: batch A's segment files are untouched, its
    rows read the new nested field as null through the union scan."""
    import os

    lake = str(tmp_path / "lake")
    write_receipts_parquet(
        _nested(spark), lake, transactional=True, batch_key="a"
    )
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    assert "schema_struct" in rec
    assert "price" not in rec["schema"]["line_items"]
    seg_a = mf.dataset_segments(lake, _RECEIPTS_DS)[0]
    mtimes = {
        f: os.path.getmtime(os.path.join(seg_a, f))
        for f in os.listdir(seg_a)
    }
    v = mf.current(lake)["version"]
    with pytest.raises(SchemaEvolutionError, match=r"line_items\[\]\.price"):
        write_receipts_parquet(
            _nested(spark, price=True, key_base=100, month=2), lake,
            batch_key="b",
        )
    assert mf.current(lake)["version"] == v  # nothing committed
    write_receipts_parquet(
        _nested(spark, price=True, key_base=100, month=2), lake,
        batch_key="b", merge_schema=True,
    )
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    assert "price:double" in rec["schema"]["line_items"]
    # batch A's files untouched — evolution was a metadata commit
    assert mtimes == {
        f: os.path.getmtime(os.path.join(seg_a, f))
        for f in os.listdir(seg_a)
    }
    df = read_receipts(spark, lake)
    assert "price" in df.schema["line_items"].dataType.elementType.names
    ex = df.select(
        "receipt_id", F.explode("line_items").alias("it")
    ).select("receipt_id", "it.price")
    legacy = ex.filter(F.col("receipt_id") < 100)
    assert legacy.count() == 8  # 4 receipts x 2 items
    assert legacy.filter(F.col("price").isNotNull()).count() == 0
    evolved = ex.filter(F.col("receipt_id") >= 100)
    assert evolved.filter(F.col("price").isNull()).count() == 0


def test_nested_retype_refused_at_any_depth(spark, tmp_path):
    lake = str(tmp_path / "lake")
    write_receipts_parquet(
        _nested(spark, price=True), lake, transactional=True, batch_key="a"
    )
    bad = spark.createDataFrame(
        [(100, dt.date(2024, 2, 1), 1.0, [(0, 1, "not-a-price")])],
        "receipt_id long, transaction_date date, total_amount double, "
        "line_items array<struct<line_no:int,partkey:int,price:string>>",
    )
    with pytest.raises(
        SchemaEvolutionError, match="committed as double"
    ):
        write_receipts_parquet(bad, lake, batch_key="b", merge_schema=True)
    # merge_schema does NOT bypass retype refusal, nested or not
    assert mf.get_dataset_meta(lake, _RECEIPTS_DS)["schema"][
        "line_items"
    ].count("price:double") == 1


def test_nested_evolution_time_travel_and_compaction(spark, tmp_path):
    """Time travel reads the PRE-evolution record at the old version;
    compaction across the nested evolution preserves legacy nulls and
    the union-read schema."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(
        _nested(spark), lake, transactional=True, batch_key="a"
    )
    v0 = mf.current(lake)["version"]
    write_receipts_parquet(
        _nested(spark, price=True, key_base=100, month=2), lake,
        batch_key="b", merge_schema=True,
    )
    old = mf.manifest_at(lake, v0)["dataset_meta"][_RECEIPTS_DS]
    assert "price" not in old["schema"]["line_items"]
    df_v0 = read_receipts(spark, lake, version=v0)
    assert "price" not in (
        df_v0.schema["line_items"].dataType.elementType.names
    )
    stats = compact_receipts_lake(spark, lake)
    assert stats["rows"] == 8
    df = read_receipts(spark, lake)
    ex = df.select(
        "receipt_id", F.explode("line_items").alias("it")
    ).select("receipt_id", "it.price")
    assert ex.filter(F.col("price").isNull()).count() == 8  # legacy rows
    assert ex.filter(F.col("price").isNotNull()).count() == 8
    # the record survived compaction (meta carried forward)
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    assert "price:double" in rec["schema"]["line_items"]


def test_pre_r15_flat_record_migrates_then_evolves(spark, tmp_path):
    """A lake whose record predates the structured twin (simpleString
    only) refuses a nested difference with the upgrade hint; one
    same-schema commit seeds schema_struct, after which nested
    evolution works."""
    lake = str(tmp_path / "lake")
    write_receipts_parquet(
        _nested(spark), lake, transactional=True, batch_key="a"
    )
    # simulate the pre-r15 record: strip the structured twin
    meta = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    flat = {k: v for k, v in meta.items() if k != "schema_struct"}
    mf.commit(lake, dataset_meta={_RECEIPTS_DS: flat})
    with pytest.raises(SchemaEvolutionError, match="predates nested"):
        write_receipts_parquet(
            _nested(spark, price=True, key_base=100, month=2), lake,
            batch_key="b", merge_schema=True,
        )
    # migration: one batch with the COMMITTED schema re-seeds the twin
    write_receipts_parquet(
        _nested(spark, key_base=200, month=3), lake, batch_key="c"
    )
    assert "schema_struct" in mf.get_dataset_meta(lake, _RECEIPTS_DS)
    write_receipts_parquet(
        _nested(spark, price=True, key_base=100, month=2), lake,
        batch_key="b", merge_schema=True,
    )
    rec = mf.get_dataset_meta(lake, _RECEIPTS_DS)
    assert "price:double" in rec["schema"]["line_items"]
    assert read_receipts(spark, lake).count() == 12


def test_merge_datatype_maps_and_deep_nesting(spark):
    """Pure-function pins for the recursive merge the write path rides:
    map VALUE structs evolve, map KEY retypes are conflicts, and a
    struct-in-array-in-struct add three levels down is collected with
    its full dotted path."""
    from pyspark.sql import types as T

    from fintech_etl_spark.sinks.receipts import _merge_datatype

    # _parse_datatype_string needs an active session (hence the spark
    # fixture); the merge itself is pure Python over DataType objects
    def ddl(s):
        return T._parse_datatype_string(s)

    # map value struct gains a field
    conflicts, added = [], []
    merged = _merge_datatype(
        "m",
        ddl("map<string,struct<a:int>>"),
        ddl("map<string,struct<a:int,b:double>>"),
        conflicts,
        added,
    )
    assert not conflicts and added == ["m{}.b"]
    assert merged.simpleString() == "map<string,struct<a:int,b:double>>"
    # map KEY retype is a conflict, never a merge
    conflicts, added = [], []
    _merge_datatype(
        "m", ddl("map<string,int>"), ddl("map<bigint,int>"), conflicts, added
    )
    assert conflicts == [("m{key}", "string", "bigint")] and not added
    # three levels down: struct -> array<struct> -> struct add + retype
    conflicts, added = [], []
    merged = _merge_datatype(
        "doc",
        ddl("struct<items:array<struct<q:int,meta:struct<u:string>>>>"),
        ddl(
            "struct<items:array<struct<q:bigint,"
            "meta:struct<u:string,v:date>>>>"
        ),
        conflicts,
        added,
    )
    assert conflicts == [("doc.items[].q", "int", "bigint")]
    assert added == ["doc.items[].meta.v"]
    # committed-only fields survive; merged keeps committed order
    conflicts, added = [], []
    merged = _merge_datatype(
        "s",
        ddl("struct<a:int,b:string>"),
        ddl("struct<b:string,c:double>"),
        conflicts,
        added,
    )
    assert not conflicts and added == ["s.c"]
    assert merged.simpleString() == "struct<a:int,b:string,c:double>"
