"""Manifest-pointer transactional commits (sinks/manifest.py) and the
transactional ANN index lifecycle built on them. Pinned here:

- commit/pointer mechanics: versions increase, the pointer resolves
  atomically, duplicate file keys are rejected, vacuum collects only
  unreferenced segments and old manifests;
- an LSH build(A) + append(B) holds the same rows as a build of
  A ∪ B (the manifest changes WHERE bytes live, never WHAT a reader
  sees);
- THE RACE: compaction running concurrently with a draining serve
  stream never fails a batch and never shows a half-state — every
  batch matches the batch-tier oracle;
- ingest is exactly-once per source file: a crash between segment
  stage and commit leaves the index unchanged (orphan collected by
  vacuum) and the retry appends once; a replay after the commit is
  skipped; compaction preserves the dedup history; a NEW file arriving
  under a reused batch_id 0 is appended, not swallowed (the r9 ADVICE
  silent-loss scenario);
- IVF-PQ transactional appends are all-or-nothing across codes and
  vectors (one commit covers both datasets).
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from pyspark.sql import functions as F

from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sinks.locks import (
    CASLockProvider,
    CASStore,
    PosixCASStore,
)
from fintech_etl_spark.sinks.maintenance import (
    compact_ivf_pq_index,
    compact_lsh_index,
)
from fintech_etl_spark.sources.tables import load_table
from fintech_etl_spark.streaming.ann import (
    append_ivf_pq_index,
    append_lsh_index,
    build_ivf_pq_index,
    build_lsh_index,
    start_ann_queries,
    start_vector_ingest,
)
from tests.conftest import SF_SMOKE

_CUT = 400


@pytest.fixture(params=["posix", "cas"])
def lock_matrix(request, tmp_path, monkeypatch):
    """Route EVERY commit in the test (including those issued deep
    inside build/append/compact/streaming helpers) through the lease
    over one of two stores — the default POSIX store (link/rename on
    the lake's own filesystem) and the in-process CAS emulation (the
    object-store posture). The race tests below take this fixture so
    the whole concurrency matrix runs over both stores."""
    if request.param == "cas":
        provider = CASLockProvider(CASStore(str(tmp_path / "_cas_store")))
        monkeypatch.setattr(mf, "DEFAULT_LOCK_PROVIDER", provider)
    return request.param


def _split(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = emb.filter(F.col("vec_id") < _CUT)
    b = emb.filter(F.col("vec_id") >= _CUT)
    a_dir = tmp_path / "sfA"
    a_dir.mkdir()
    a.write.parquet(str(a_dir / "embeddings.parquet"))
    return str(a_dir), a, b


def _lsh_rows(spark, path):
    from fintech_etl_spark.streaming.ann import _read_lsh_index

    return {
        (r.neighbor_id, r.band, r.bucket, tuple(r.u))
        for r in _read_lsh_index(spark, path).collect()
    }


def _write_jsonl(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write(
                json.dumps({"vec_id": r.vec_id, "embedding": list(r.embedding)})
                + "\n"
            )


# ---------------------------------------------------------------------------
# pointer/commit mechanics
# ---------------------------------------------------------------------------


def test_commit_versions_and_pointer(tmp_path):
    root = str(tmp_path / "ds")
    assert not mf.is_transactional(root)
    m0 = mf.commit(root, replace={"d": []})
    assert m0["version"] == 0 and mf.is_transactional(root)
    seg = mf.new_segment_path(root)
    os.makedirs(seg)
    m1 = mf.commit(root, add={"d": [seg]}, file_keys=["f0"])
    assert m1["version"] == 1
    cur = mf.current(root)
    assert cur["version"] == 1
    assert mf.ingested_keys(root) == {"f0"}
    assert mf.ingested_count(root) == 1
    # segment paths are stored root-relative
    assert all(not s.startswith("/") for s in cur["datasets"]["d"])
    assert mf.dataset_segments(root, "d") == [
        os.path.join(root, cur["datasets"]["d"][0])
    ]


def test_commit_rejects_duplicate_file_keys(tmp_path):
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, file_keys=["f0"])
    with pytest.raises(ValueError, match="already in the ingested set"):
        mf.commit(root, file_keys=["f0"])


def test_vacuum_retention_and_orphans(tmp_path):
    root = str(tmp_path / "ds")
    segs = []
    for i in range(3):
        s = mf.new_segment_path(root)
        os.makedirs(s)
        open(os.path.join(s, "part.parquet"), "w").close()
        segs.append(s)
        mf.commit(root, replace={"d": [s]})
    orphan = mf.new_segment_path(root)  # staged, never committed
    os.makedirs(orphan)
    out = mf.vacuum(root, keep_last=2, orphan_grace_sec=0)
    # v0's segment and the orphan are gone; v1/v2 segments remain
    assert not os.path.exists(segs[0]) and not os.path.exists(orphan)
    assert os.path.exists(segs[1]) and os.path.exists(segs[2])
    assert len(out["removed_segments"]) == 2
    assert len(out["kept_manifests"]) == 2
    assert mf.current(root)["version"] == 2
    with pytest.raises(ValueError, match="keep_last"):
        mf.vacuum(root, keep_last=0)


# ---------------------------------------------------------------------------
# LSH lifecycle parity
# ---------------------------------------------------------------------------


def test_transactional_build_append_matches_plain(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    tx = str(tmp_path / "idx_tx")
    full = str(tmp_path / "idx_full")

    n_tx = build_lsh_index(spark, a_dir, tx)
    assert mf.is_transactional(tx)
    n_full = build_lsh_index(spark, SF_SMOKE, full)
    append_lsh_index(b, tx)
    assert mf.current(tx)["version"] == 1
    assert _lsh_rows(spark, tx) == _lsh_rows(spark, full)
    assert n_tx == a.count() * 12 and n_full == 500 * 12


def test_transactional_compaction_bit_preserving(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    tx = str(tmp_path / "idx_tx")
    build_lsh_index(spark, a_dir, tx)
    for lo, hi in ((_CUT, _CUT + 50), (_CUT + 50, 500)):
        append_lsh_index(
            b.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), tx
        )
    before = _lsh_rows(spark, tx)
    assert len(mf.dataset_segments(tx, "index")) == 3
    stats = compact_lsh_index(spark, tx)
    assert stats["files_after"] <= stats["files_before"]
    assert len(mf.dataset_segments(tx, "index")) == 1
    assert _lsh_rows(spark, tx) == before
    # old segments still on disk until vacuum; vacuum keeps the index sane
    mf.vacuum(tx, keep_last=1)
    assert _lsh_rows(spark, tx) == before
    assert len(os.listdir(os.path.join(tx, "segments"))) == 1


# ---------------------------------------------------------------------------
# THE RACE: serving drains while compaction commits
# ---------------------------------------------------------------------------


def test_serving_races_compaction_without_half_states(spark, tmp_path, lock_matrix):
    from fintech_etl_spark.operators.similarity import (
        _N_QUERIES,
        ann_lsh_bucketed,
    )

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, SF_SMOKE, idx)
    # several appended segments so compaction has real work each round
    # (appends of disjoint slices of an ALREADY-indexed corpus would
    # duplicate rows, so instead pre-split the committed layout by
    # compacting to >1 files first)
    compact_lsh_index(spark, idx, files_per_partition=2)

    qrows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    qdir = tmp_path / "queries"
    qdir.mkdir()
    third = max(1, len(qrows) // 3)
    chunks = [qrows[:third], qrows[third : 2 * third], qrows[2 * third :]]
    for fno, chunk in enumerate(chunks):
        with open(qdir / f"batch{fno}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {"query_id": r.query_id, "embedding": list(r.embedding)}
                    )
                    + "\n"
                )

    stop = threading.Event()
    compactions = []
    failures = []

    def churn():
        fpp = 1
        while not stop.is_set():
            try:
                compact_lsh_index(spark, idx, files_per_partition=fpp)
                compactions.append(fpp)
                fpp = 2 if fpp == 1 else 1  # alternate so every pass rewrites
            except Exception as e:  # noqa: BLE001 — the test's whole point
                failures.append(repr(e))
                return

    t = threading.Thread(target=churn, daemon=True)
    t.start()

    got: dict = {}

    def on_results(df, batch_id):
        got.update(
            {(r.query_id, r.rank): (r.neighbor_id, r.cos) for r in df.collect()}
        )

    q = start_ann_queries(
        spark,
        str(qdir / "*.jsonl"),
        str(tmp_path / "ckpt"),
        idx,
        on_results,
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    stop.set()
    t.join(timeout=120)

    assert not failures, f"compaction failed mid-serve: {failures}"
    assert len(compactions) >= 2, "churn thread never overlapped the drain"
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in ann_lsh_bucketed(spark, SF_SMOKE).collect()
    }
    assert got == want  # every batch read a consistent snapshot


# ---------------------------------------------------------------------------
# ingest: exactly-once per source file
# ---------------------------------------------------------------------------


def test_ingest_crash_before_commit_then_retry_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    from pyspark.errors import StreamingQueryException

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)
    rows_a = _lsh_rows(spark, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    _write_jsonl(b.collect(), vdir / "f0.jsonl")

    # crash the driver AFTER the segment is staged, BEFORE the commit
    real_commit = mf.commit
    calls = []

    def dying_commit(root, **kw):
        calls.append(kw)
        raise RuntimeError("driver died before the pointer swap")

    monkeypatch.setattr(mf, "commit", dying_commit)
    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt0"), idx
    )
    with pytest.raises(StreamingQueryException, match="pointer swap"):
        q.awaitTermination()
    monkeypatch.setattr(mf, "commit", real_commit)

    # nothing visible: the staged segment is an orphan
    assert calls and _lsh_rows(spark, idx) == rows_a
    seg_dir = os.path.join(idx, "segments")
    orphans_before = len(os.listdir(seg_dir))

    # retry under a FRESH checkpoint (worst case: checkpoint lost too)
    batches = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt1"),
        idx,
        on_batch=lambda bid, n: batches.append(n),
    )
    q.awaitTermination()
    assert batches == [100 * 12]

    full = str(tmp_path / "idx_full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)

    # a second replay (another lost checkpoint) is skipped via the
    # manifest's ingested-files set — exactly-once end to end
    replays = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt2"),
        idx,
        on_batch=lambda bid, n: replays.append(n),
    )
    q.awaitTermination()
    assert replays == []
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)

    # vacuum collects the crashed attempt's orphan segment
    out = mf.vacuum(idx, keep_last=2, orphan_grace_sec=0)
    assert len(os.listdir(seg_dir)) < orphans_before + 1 + len(
        out["removed_segments"]
    )
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)


def test_ingest_dedup_survives_compaction(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    _write_jsonl(b.collect(), vdir / "f0.jsonl")
    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt0"), idx
    )
    q.awaitTermination()
    rows = _lsh_rows(spark, idx)

    compact_lsh_index(spark, idx)  # must CARRY the ingested-files set
    assert mf.ingested_keys(idx), "dedup history lost"

    replays = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt1"),
        idx,
        on_batch=lambda bid, n: replays.append(n),
    )
    q.awaitTermination()
    assert replays == [] and _lsh_rows(spark, idx) == rows


def test_new_file_under_reused_batch_id_is_not_swallowed(spark, tmp_path):
    """The r9 ADVICE silent-loss scenario: a SECOND ingest stream (new
    checkpoint → batch ids restart at 0) over NEW files must append
    them — a ledger keyed on bare batch ids swallowed them forever."""
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    b_rows = b.collect()
    d1 = tmp_path / "wave1"
    d1.mkdir()
    _write_jsonl(b_rows[:50], d1 / "f0.jsonl")
    q = start_vector_ingest(
        spark, str(d1 / "*.jsonl"), str(tmp_path / "ckpt1"), idx
    )
    q.awaitTermination()

    d2 = tmp_path / "wave2"
    d2.mkdir()
    _write_jsonl(b_rows[50:], d2 / "f0.jsonl")  # same BASENAME even
    appended = []
    q = start_vector_ingest(
        spark,
        str(d2 / "*.jsonl"),
        str(tmp_path / "ckpt2"),
        idx,
        on_batch=lambda bid, n: appended.append(n),
    )
    q.awaitTermination()
    assert appended == [50 * 12], "new file under reused batch id lost"

    full = str(tmp_path / "idx_full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)


def test_mixed_batch_appends_only_unprocessed_files(spark, tmp_path):
    """A replayed batch that recomposes one processed and one new file
    appends ONLY the new file's rows (per-file dedup; a whole-batch
    digest would re-append both)."""
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    b_rows = b.collect()
    vdir = tmp_path / "vectors"
    vdir.mkdir()
    _write_jsonl(b_rows[:50], vdir / "f0.jsonl")
    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt0"), idx
    )
    q.awaitTermination()

    # second file lands; a fresh checkpoint re-delivers BOTH files in
    # one batch (maxFilesPerTrigger default pulls them together)
    _write_jsonl(b_rows[50:], vdir / "f1.jsonl")
    appended = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt1"),
        idx,
        on_batch=lambda bid, n: appended.append(n),
    )
    q.awaitTermination()
    assert sum(appended) == 50 * 12  # only f1's rows

    full = str(tmp_path / "idx_full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)


# ---------------------------------------------------------------------------
# IVF-PQ: atomic dual-dataset commits
# ---------------------------------------------------------------------------


def _codes_rows(spark, path):
    from fintech_etl_spark.streaming.ann import _read_ivf_dataset

    return {
        (r.vec_id, r.sub, r.pq_cell, r.cell)
        for r in _read_ivf_dataset(spark, path, "codes").collect()
    }


def _vector_rows(spark, path):
    from fintech_etl_spark.streaming.ann import _read_ivf_dataset

    return {
        (r.vec_id, tuple(r.v), r.cell)
        for r in _read_ivf_dataset(spark, path, "vectors").collect()
    }


def test_ivfpq_transactional_append_is_all_or_nothing(
    spark, tmp_path, monkeypatch
):
    a_dir, a, b = _split(spark, tmp_path)
    tx = str(tmp_path / "idx_tx")
    build_ivf_pq_index(spark, a_dir, tx)

    codes_before = _codes_rows(spark, tx)
    vecs_before = _vector_rows(spark, tx)

    real_commit = mf.commit

    def dying_commit(root, **kw):
        raise RuntimeError("died before the pointer swap")

    monkeypatch.setattr(mf, "commit", dying_commit)
    with pytest.raises(RuntimeError, match="pointer swap"):
        append_ivf_pq_index(spark, b, tx)
    monkeypatch.setattr(mf, "commit", real_commit)
    # NEITHER dataset moved — no vectors-without-codes half state
    assert _codes_rows(spark, tx) == codes_before
    assert _vector_rows(spark, tx) == vecs_before

    # the retry lands both
    append_ivf_pq_index(spark, b, tx)
    assert {v for v, *_ in _codes_rows(spark, tx)} == {
        r.vec_id for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }

    stats = compact_ivf_pq_index(spark, tx)
    assert set(stats) == {"codes", "vectors"}
    assert _codes_rows(spark, tx) >= codes_before
    assert _vector_rows(spark, tx) >= vecs_before


def test_cli_transactional_lifecycle(spark, tmp_path, capsys, monkeypatch):
    """CLI end-to-end on a manifest-backed index: index-build ->
    index-append -> index-compact --vacuum-keep."""
    from fintech_etl_spark import cli

    a_dir, a, b = _split(spark, tmp_path)
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)

    idx = str(tmp_path / "lsh_tx")
    rc = cli.main(
        ["index-build", "lsh", "--sf-dir", a_dir, "--index", idx]
    )
    assert rc == 0 and mf.is_transactional(idx)

    batch = str(tmp_path / "batch.parquet")
    b.write.parquet(batch)
    rc = cli.main(["index-append", "lsh", "--index", idx, "--vectors", batch])
    assert rc == 0
    assert len(mf.dataset_segments(idx, "index")) == 2

    rc = cli.main(
        ["index-compact", "lsh", "--index", idx, "--vacuum-keep", "1"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_after"] <= out["files_before"]
    assert out["vacuum"]["removed_segments"]
    assert len(mf.dataset_segments(idx, "index")) == 1

    full = str(tmp_path / "full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)


# ---------------------------------------------------------------------------
# property test: the commit/vacuum algebra under random operation sequences
# ---------------------------------------------------------------------------


from hypothesis import settings
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
)
from hypothesis import strategies as st


class ManifestMachine(RuleBasedStateMachine):
    """Random interleavings of add/replace commits, file-key commits,
    crashed (uncommitted) stagings, and vacuums — after every step the
    pointer must resolve to EXACTLY the model state, every referenced
    segment must exist on disk, and vacuum must never collect a live
    segment. This is the adversarial sequencing a lake's maintenance
    loop produces over months, compressed."""

    def __init__(self):
        super().__init__()
        import tempfile

        self.root = tempfile.mkdtemp(prefix="mf_prop_")
        self.datasets: dict[str, list[str]] = {}
        self.stats: dict[str, dict[str, dict]] = {}
        self.ingested: list[str] = []
        #: version -> deep snapshot of (datasets, stats, ingested),
        #: for the restore rule's model
        self.history: dict[int, tuple] = {}
        self.version = -1
        self.key_no = 0
        # shrink the rollup threshold so random runs actually fold the
        # tail into checkpoint buckets (the r11 growth-bounding path) —
        # the algebra must hold identically on both sides of a rollup
        self._tail_max = mf._INGEST_TAIL_MAX
        mf._INGEST_TAIL_MAX = 4

    def _new_segment(self) -> str:
        seg = mf.new_segment_path(self.root)
        os.makedirs(seg)
        open(os.path.join(seg, "part-0.parquet"), "w").close()
        return seg

    def _rel(self, seg: str) -> str:
        return os.path.relpath(seg, self.root)

    def _snap(self):
        self.history[self.version] = (
            {k: list(v) for k, v in self.datasets.items()},
            {
                k: {r: dict(st_) for r, st_ in v.items()}
                for k, v in self.stats.items()
            },
            list(self.ingested),
        )

    @initialize()
    def init_commit(self):
        mf.commit(self.root, replace={"d0": []})
        self.datasets = {"d0": []}
        self.version = 0
        self._snap()

    @rule(
        ds=st.sampled_from(["d0", "d1"]),
        n=st.integers(1, 2),
        with_stats=st.booleans(),
    )
    def commit_add(self, ds, n, with_stats):
        segs = [self._new_segment() for _ in range(n)]
        stats = (
            {ds: {sg: {"x": [i, i + 10]} for i, sg in enumerate(segs)}}
            if with_stats
            else None
        )
        mf.commit(self.root, add={ds: segs}, segment_stats=stats)
        self.datasets.setdefault(ds, [])
        self.datasets[ds] += [self._rel(s) for s in segs]
        if with_stats:
            self.stats.setdefault(ds, {}).update(
                {self._rel(sg): {"x": [i, i + 10]} for i, sg in enumerate(segs)}
            )
        self.version += 1
        self._snap()

    @rule(ds=st.sampled_from(["d0", "d1"]), with_stats=st.booleans())
    def commit_replace(self, ds, with_stats):
        seg = self._new_segment()
        stats = {ds: {seg: {"x": [0, 1]}}} if with_stats else None
        mf.commit(self.root, replace={ds: [seg]}, segment_stats=stats)
        self.datasets[ds] = [self._rel(seg)]
        # replace resets the dataset's stats to exactly what it provides
        self.stats[ds] = (
            {self._rel(seg): {"x": [0, 1]}} if with_stats else {}
        )
        self.version += 1
        self._snap()

    @rule(ds=st.sampled_from(["d0", "d1"]))
    def commit_remove_one(self, ds):
        have = self.datasets.get(ds, [])
        if not have:
            return
        victim = have[0]
        mf.commit(self.root, remove={ds: [os.path.join(self.root, victim)]})
        self.datasets[ds] = have[1:]
        self.stats.get(ds, {}).pop(victim, None)
        self.version += 1
        self._snap()

    @rule(n=st.integers(1, 3))
    def commit_file_keys(self, n):
        keys = [f"file-{self.key_no + i}" for i in range(n)]
        self.key_no += n
        mf.commit(self.root, file_keys=keys)
        self.ingested += keys
        self.version += 1
        self._snap()

    @rule()
    def duplicate_file_key_rejected(self):
        if not self.ingested:
            return
        with pytest.raises(ValueError, match="already in the ingested"):
            mf.commit(self.root, file_keys=[self.ingested[0]])
        # rejected commit must not advance the pointer

    @rule()
    def crashed_staging(self):
        # a writer died after staging, before commit: invisible orphan
        self._new_segment()

    @rule(keep=st.integers(1, 3))
    def vacuum(self, keep):
        mf.vacuum(self.root, keep_last=keep)

    @rule(back=st.integers(1, 4))
    def restore_rule(self, back):
        """Roll back ``back`` versions if that version is still
        restorable; a vacuumed manifest or vacuumed segment must be a
        LOUD ValueError, never a partial restore. On success the
        model adopts the target's snapshot — datasets, stats, AND
        ingested history (the silent-loss contract)."""
        v = self.version - back
        if v < 0:
            return
        before = mf.current(self.root)["version"]
        try:
            mf.restore(self.root, v)
        except ValueError:
            # vacuumed: the pointer must not have moved
            assert mf.current(self.root)["version"] == before
            return
        snap = self.history[v]
        self.datasets = {k: list(x) for k, x in snap[0].items()}
        self.stats = {
            k: {r: dict(st_) for r, st_ in x.items()}
            for k, x in snap[1].items()
        }
        self.ingested = list(snap[2])
        self.version += 1
        self._snap()

    @invariant()
    def pointer_matches_model(self):
        if self.version < 0:
            return
        cur = mf.current(self.root)
        assert cur["version"] == self.version
        assert {
            k: v for k, v in cur["datasets"].items()
        } == self.datasets
        assert mf.ingested_keys(self.root) == set(self.ingested)
        assert mf.ingested_count(self.root) == len(self.ingested)
        # stats algebra: exactly the model's, and never for a segment
        # no dataset names (the must-scan defensive restriction)
        got_stats = {
            k: v for k, v in (cur.get("segment_stats") or {}).items() if v
        }
        want_stats = {k: v for k, v in self.stats.items() if v}
        assert got_stats == want_stats
        for ds, per_seg in got_stats.items():
            assert set(per_seg) <= set(cur["datasets"].get(ds, []))
        for segs in cur["datasets"].values():
            for s in segs:
                assert os.path.isdir(os.path.join(self.root, s)), (
                    "vacuum collected a live segment"
                )

    @rule(n=st.integers(3, 8))
    def commit_file_keys_across_rollup(self, n):
        # a burst big enough to cross the (shrunk) rollup threshold in
        # one commit — history must survive the fold bit-for-bit and
        # the manifest's inline tail must have been emptied
        keys = [f"burst-{self.key_no + i}" for i in range(n)]
        self.key_no += n
        mf.commit(self.root, file_keys=keys)
        self.ingested += keys
        self.version += 1
        self._snap()
        cur = mf.current(self.root)
        if cur.get("ingested_checkpoint"):
            assert len(cur["ingested_tail"]) <= mf._INGEST_TAIL_MAX

    @rule()
    def reset_ingested(self):
        mf.commit(self.root, reset_ingested=True)
        self.ingested = []
        self.version += 1
        self._snap()

    def teardown(self):
        import shutil

        mf._INGEST_TAIL_MAX = self._tail_max
        shutil.rmtree(self.root, ignore_errors=True)


TestManifestProtocol = ManifestMachine.TestCase
TestManifestProtocol.settings = settings(
    max_examples=25, stateful_step_count=30, deadline=None
)


class CASManifestMachine(ManifestMachine):
    """The identical random commit/vacuum/restore algebra, but every
    metadata operation acquires the CAS LEASE provider (object-store
    posture) with a lost ack injected on every 3rd successful put —
    the model must hold bit-for-bit; a lost-then-won acquire that
    deadlocked or double-entered would break an invariant here."""

    def __init__(self):
        super().__init__()
        self._orig_provider = mf.DEFAULT_LOCK_PROVIDER
        mf.DEFAULT_LOCK_PROVIDER = CASLockProvider(
            CASStore(
                os.path.join(self.root, "_cas_store"), lose_ack_every=3
            )
        )

    def teardown(self):
        mf.DEFAULT_LOCK_PROVIDER = self._orig_provider
        super().teardown()


TestCASManifestProtocol = CASManifestMachine.TestCase
TestCASManifestProtocol.settings = settings(
    max_examples=10, stateful_step_count=30, deadline=None
)


def test_vacuum_on_plain_directory_is_loud(tmp_path):
    with pytest.raises(ValueError, match="not a manifest-backed"):
        mf.vacuum(str(tmp_path))


def test_zorder_append_without_sidecar_is_loud(spark, tmp_path):
    from fintech_etl_spark.operators.layout import zorder_append

    p = str(tmp_path / "plain")
    spark.createDataFrame([(1, 2)], "a long, b long").write.parquet(p)
    with pytest.raises(ValueError, match="not a manifest-backed"):
        zorder_append(spark.createDataFrame([(1, 2)], "a long, b long"), p)


def test_storage_writers_have_no_format_knob(spark, tmp_path, capsys, monkeypatch):
    """Layouts and ANN indexes have ONE storage format: no writer takes
    a ``transactional`` switch and the CLI offers no --transactional."""
    import inspect

    from fintech_etl_spark import cli
    from fintech_etl_spark.operators.layout import zorder_write

    for fn in (zorder_write, build_lsh_index, build_ivf_pq_index):
        assert "transactional" not in inspect.signature(fn).parameters, fn
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)
    none = str(tmp_path / "none")
    for argv in (
        ["layout-build", "t", "--sf-dir", none, "--path", none,
         "--cols", "x,y", "--transactional"],
        ["index-build", "lsh", "--sf-dir", none, "--index", none,
         "--transactional"],
    ):
        with pytest.raises(SystemExit) as exc:
            cli.main(argv)
        assert exc.value.code == 2, argv
        assert "--transactional" in capsys.readouterr().err


def test_bare_parquet_dir_is_never_read_as_a_layout_or_index(spark, tmp_path):
    """A root without a manifest — a mistyped path, or a bare parquet
    directory — is refused with a ValueError naming it by every layout
    and index reader, appender, ingest and compactor; it is never read
    as parquet."""
    import re

    from fintech_etl_spark.operators.layout import (
        read_zorder,
        read_zorder_box,
        zorder_append,
    )
    from fintech_etl_spark.streaming.ann import (
        _read_ivf_dataset,
        _read_lsh_index,
    )

    bare = str(tmp_path / "bare")
    rows = spark.createDataFrame([(1, 2)], "x long, y long")
    rows.write.parquet(bare)
    vecs = load_table(spark, SF_SMOKE, "embeddings").limit(3)
    calls = {
        "read_zorder": lambda: read_zorder(spark, bare),
        "read_zorder@v0": lambda: read_zorder(spark, bare, version=0),
        "read_zorder_box": lambda: read_zorder_box(spark, bare, {"x": (0, 9)}),
        "zorder_append": lambda: zorder_append(rows, bare),
        "append_lsh_index": lambda: append_lsh_index(vecs, bare),
        "append_ivf_pq_index": lambda: append_ivf_pq_index(spark, vecs, bare),
        "lsh serve read": lambda: _read_lsh_index(spark, bare),
        "ivf codes read": lambda: _read_ivf_dataset(spark, bare, "codes"),
        "ivf vectors read": lambda: _read_ivf_dataset(spark, bare, "vectors"),
        "compact_lsh_index": lambda: compact_lsh_index(spark, bare),
        "compact_ivf_pq_index": lambda: compact_ivf_pq_index(spark, bare),
        "start_vector_ingest": lambda: start_vector_ingest(
            spark, str(tmp_path / "*.jsonl"), str(tmp_path / "ck"), bare
        ),
    }
    for call in calls.values():
        with pytest.raises(ValueError, match=re.escape(bare)):
            call()
    # nothing was staged or committed into the bare directory
    assert not {"_manifests", "segments"} & set(os.listdir(bare))


def test_first_commit_over_bare_parquet_is_refused_by_every_writer(
    spark, tmp_path
):
    """A first commit over a directory that already holds parquet would
    leave those files invisible to readers and beyond vacuum, so every
    manifest writer refuses it with a ValueError naming the path before
    it writes anything."""
    import re

    from fintech_etl_spark.operators.layout import zorder_write
    from fintech_etl_spark.sinks import write_receipts_parquet

    bare = str(tmp_path / "bare")
    rows = spark.createDataFrame([(1, 2)], "x long, y long")
    rows.write.parquet(bare)
    calls = {
        "write_receipts_parquet": lambda: write_receipts_parquet(rows, bare),
        "zorder_write": lambda: zorder_write(rows, ["x", "y"], bare),
        "build_lsh_index": lambda: build_lsh_index(spark, SF_SMOKE, bare),
        "build_ivf_pq_index": lambda: build_ivf_pq_index(spark, SF_SMOKE, bare),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match=re.escape(bare)):
            call()
        assert not {"_manifests", "segments"} & set(os.listdir(bare)), name


def test_index_builds_count_rows_from_footers(spark, tmp_path):
    """The counts an index build returns, taken from the footers of
    what it wrote, equal explicit counts of what it committed. An
    IVF-PQ build retried after a crash before its first commit, which
    left its own coarse/ and codebooks/ behind, still builds."""
    from fintech_etl_spark.streaming.ann import (
        _read_ivf_dataset,
        _read_lsh_index,
    )

    a_dir, a, _b = _split(spark, tmp_path)
    lsh = str(tmp_path / "lsh")
    assert build_lsh_index(spark, a_dir, lsh) == _read_lsh_index(
        spark, lsh
    ).count() == a.count() * 12

    ivf = str(tmp_path / "ivf")
    junk = spark.createDataFrame([(0,)], "c int")
    junk.write.parquet(os.path.join(ivf, "coarse"))
    junk.write.parquet(os.path.join(ivf, "codebooks"))
    counts = build_ivf_pq_index(spark, a_dir, ivf, k=4)
    assert counts == {
        "codes": _read_ivf_dataset(spark, ivf, "codes").count(),
        "vectors": _read_ivf_dataset(spark, ivf, "vectors").count(),
        "coarse_cells": spark.read.parquet(ivf + "/coarse").count(),
        "codebook_rows": spark.read.parquet(ivf + "/codebooks").count(),
    }
    assert counts["vectors"] == a.count() and counts["coarse_cells"] == 4


# ---------------------------------------------------------------------------
# concurrent committers: ingest stream racing a compaction churn thread
# ---------------------------------------------------------------------------


def test_concurrent_ingest_and_compaction_lose_nothing(spark, tmp_path, lock_matrix):
    """THE two-writer scenario a real deployment runs: a streaming
    ingest appends batches WHILE a cron compactor rewrites. Commits
    serialize on the lock and compaction removes exactly what it read
    (remove+add, not replace), so an ingest commit landing mid-rewrite
    is carried forward — the final index equals a full rebuild on the
    union, bit-for-bit, and the ingest dedup history survives."""
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    b_rows = b.collect()
    step = max(1, len(b_rows) // 4)
    for fno, lo in enumerate(range(0, len(b_rows), step)):
        _write_jsonl(b_rows[lo : lo + step], vdir / f"f{fno}.jsonl")

    stop = threading.Event()
    compactions, failures = [], []

    def churn():
        fpp = 1
        while not stop.is_set():
            try:
                compact_lsh_index(spark, idx, files_per_partition=fpp)
                compactions.append(fpp)
                fpp = 2 if fpp == 1 else 1
            except mf.StaleSegmentError:
                continue  # another committer won; re-read and go again
            except Exception as e:  # noqa: BLE001 — the test's point
                failures.append(repr(e))
                return

    t = threading.Thread(target=churn, daemon=True)
    t.start()
    try:
        q = start_vector_ingest(
            spark,
            str(vdir / "*.jsonl"),
            str(tmp_path / "ckpt"),
            idx,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
    finally:
        stop.set()
        t.join(timeout=180)

    assert not failures, failures
    assert compactions, "churn thread never ran a compaction"
    full = str(tmp_path / "idx_full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)
    # dedup history intact: a full replay under a lost checkpoint is a no-op
    replays = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt_lost"),
        idx,
        on_batch=lambda bid, n: replays.append(n),
    )
    q.awaitTermination()
    assert replays == [] and _lsh_rows(spark, idx) == _lsh_rows(spark, full)


def test_commit_lock_serializes_metadata_threads(tmp_path, lock_matrix):
    """N threads hammering add-commits: every commit survives, the
    version counter counts every one, and no segment reference is
    lost — the lost-update the lock exists to prevent."""
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    errors = []

    def adder(tid):
        try:
            for i in range(8):
                seg = mf.new_segment_path(root)
                os.makedirs(seg)
                mf.commit(root, add={"d": [seg]}, file_keys=[f"t{tid}-{i}"])
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=adder, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    cur = mf.current(root)
    assert cur["version"] == 32  # initial 0 + 32 adds
    assert len(cur["datasets"]["d"]) == 32
    assert len(mf.ingested_keys(root)) == 32


def test_stale_segment_error_on_racing_compactors(tmp_path, lock_matrix):
    """A compactor whose read was superseded must get a loud
    StaleSegmentError, not silently resurrect compacted-away data."""
    root = str(tmp_path / "ds")
    seg0 = mf.new_segment_path(root)
    os.makedirs(seg0)
    mf.commit(root, replace={"d": [seg0]})
    # compactor A reads [seg0]; compactor B wins the race:
    segB = mf.new_segment_path(root)
    os.makedirs(segB)
    mf.commit(root, remove={"d": [seg0]}, add={"d": [segB]})
    # A's commit now names a vanished segment
    segA = mf.new_segment_path(root)
    os.makedirs(segA)
    with pytest.raises(mf.StaleSegmentError, match="another committer"):
        mf.commit(root, remove={"d": [seg0]}, add={"d": [segA]})
    assert mf.current(root)["datasets"]["d"] == [
        os.path.relpath(segB, root)
    ]


def test_ivfpq_serving_races_compaction(spark, tmp_path, lock_matrix):
    """The IVF-PQ twin of the LSH race test: probes drain while a
    compaction churn thread swaps codes+vectors snapshots — every
    batch sees a consistent index (rank-1 self-match at dist 0 for
    every served query; appended via the transactional path first)."""
    from fintech_etl_spark.streaming.ann import start_ivf_pq_queries

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(spark, a_dir, idx)
    append_ivf_pq_index(spark, b, idx)  # fragment: 2 segments/dataset
    assert len(mf.dataset_segments(idx, "codes")) == 2

    qrows = a.limit(30).collect()
    qdir = tmp_path / "queries"
    qdir.mkdir()
    for fno in range(3):
        with open(qdir / f"q{fno}.jsonl", "w") as f:
            for r in qrows[fno * 10 : (fno + 1) * 10]:
                f.write(
                    json.dumps(
                        {
                            "query_id": r.vec_id + 10_000_000,
                            "embedding": list(r.embedding),
                        }
                    )
                    + "\n"
                )

    stop = threading.Event()
    compactions, failures = [], []

    def churn():
        fpp = 1
        while not stop.is_set():
            try:
                compact_ivf_pq_index(spark, idx, files_per_partition=fpp)
                compactions.append(fpp)
                fpp = 2 if fpp == 1 else 1
            except mf.StaleSegmentError:
                continue
            except Exception as e:  # noqa: BLE001
                failures.append(repr(e))
                return

    t = threading.Thread(target=churn, daemon=True)
    t.start()
    got = {}

    def on_results(df, batch_id):
        for row in df.collect():
            got.setdefault(row.query_id, []).append(
                (row.rank, row.neighbor_id, row.dist)
            )

    try:
        q = start_ivf_pq_queries(
            spark,
            str(qdir / "*.jsonl"),
            str(tmp_path / "ckpt"),
            idx,
            on_results,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
    finally:
        stop.set()
        t.join(timeout=180)

    assert not failures, failures
    assert compactions, "no compaction overlapped the drain"
    # every query is an indexed vector: it must come back as its own
    # rank-1 neighbor at exact distance 0 from SOME consistent snapshot
    for r in qrows:
        rows = sorted(got[r.vec_id + 10_000_000])
        assert rows[0] == (1, r.vec_id, 0.0), (r.vec_id, rows[:2])


def test_transactional_ivfpq_streaming_ingest_exactly_once(spark, tmp_path):
    """start_vector_ingest with family=ivf-pq on a manifest-backed
    index: drained vectors land in BOTH datasets atomically, and a
    replay under a lost checkpoint is a no-op (file keys committed
    with the segments)."""
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(spark, a_dir, idx)
    n_before = len(_vector_rows(spark, idx))

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    b_rows = b.collect()
    _write_jsonl(b_rows[:50], vdir / "f0.jsonl")
    _write_jsonl(b_rows[50:], vdir / "f1.jsonl")

    batches = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt0"),
        idx,
        family="ivf-pq",
        max_files_per_trigger=1,
        on_batch=lambda bid, n: batches.append(n),
    )
    q.awaitTermination()
    assert sorted(batches) == [50, 50]
    assert len(_vector_rows(spark, idx)) == n_before + 100
    assert len(_codes_rows(spark, idx)) == (n_before + 100) * 8
    assert mf.ingested_count(idx) == 2

    replays = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt1"),
        idx,
        family="ivf-pq",
        on_batch=lambda bid, n: replays.append(n),
    )
    q.awaitTermination()
    assert replays == []
    assert len(_vector_rows(spark, idx)) == n_before + 100


# ---------------------------------------------------------------------------
# lock provider: single-winner steal, owner tokens, injectability
# ---------------------------------------------------------------------------


def test_stolen_holder_cannot_release_thiefs_lock(tmp_path):
    """The r10 ADVICE race, second half: a holder paused past the
    staleness bound resumes AFTER a stealer re-acquired — its release
    must be a token-guarded no-op, never the removal of the thief's
    fresh lock."""
    mdir = str(tmp_path)
    prov = CASLockProvider(PosixCASStore(), lease_sec=0.05, timeout_sec=5.0)
    h_victim = prov.acquire(mdir)
    time.sleep(0.2)  # victim "pauses" past the lease it declared
    h_thief = prov.acquire(mdir)  # steals via conditional delete + put
    lock = os.path.join(mdir, "_commit.lock")
    assert os.path.exists(lock)
    prov.release(h_victim)  # token mismatch → must NOT unlink
    assert os.path.exists(lock), "victim removed the thief's lock"
    prov.release(h_thief)
    assert not os.path.exists(lock)


def test_two_stealers_one_winner_under_threads(tmp_path):
    """N waiters all observing the SAME stale lock (an empty lock file
    reads as an expired lease): the rename-to-grave steal admits
    exactly one committer at a time (the r10 unlink+recreate steal
    admitted two). Overlap is detected with an in-critical-section
    flag."""
    mdir = str(tmp_path)
    lock = os.path.join(mdir, "_commit.lock")
    open(lock, "w").close()

    prov = CASLockProvider(PosixCASStore(), timeout_sec=30.0)
    inside = threading.Event()
    overlaps, errors = [], []

    def worker():
        try:
            for _ in range(5):
                h = prov.acquire(mdir)
                if inside.is_set():
                    overlaps.append(1)
                inside.set()
                time.sleep(0.005)
                inside.clear()
                prov.release(h)
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    assert not overlaps, "two committers were inside the lock at once"


class _ContentiousLock(CASLockProvider):
    """A deliberately contentious injected provider: every acquire
    spins before granting, and the test can assert it was actually
    consulted — the plug point an object-store CAS/lease service
    implements (verdict r10 #7)."""

    def __init__(self, root: str):
        super().__init__(CASStore(root))
        self.acquires = 0
        self.releases = 0

    def acquire(self, mdir: str):
        time.sleep(0.01)  # simulated CAS round-trips
        self.acquires += 1
        return super().acquire(mdir)

    def release(self, handle):
        self.releases += 1
        super().release(handle)


def test_injected_lock_provider_is_used(tmp_path):
    root = str(tmp_path / "ds")
    prov = _ContentiousLock(str(tmp_path / "cas"))
    mf.commit(root, replace={"d": []}, lock=prov)
    mf.commit(root, file_keys=["k0"], lock=prov)
    mf.vacuum(root, keep_last=1, lock=prov)
    assert prov.acquires == 3 and prov.releases == 3
    # no file lock was ever created by the default provider
    assert not os.path.exists(
        os.path.join(mf.manifests_dir(root), "_commit.lock")
    )
    assert mf.ingested_keys(root) == {"k0"}


# ---------------------------------------------------------------------------
# ingested history: rollup, flat membership, vacuum, legacy migration
# ---------------------------------------------------------------------------


def test_ingested_rollup_and_bucket_vacuum(tmp_path, monkeypatch):
    monkeypatch.setattr(mf, "_INGEST_TAIL_MAX", 8)
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    keys = [f"k{i:03d}" for i in range(30)]
    for i in range(0, 30, 5):
        mf.commit(root, file_keys=keys[i : i + 5])
    cur = mf.current(root)
    assert cur["ingested_checkpoint"], "tail never rolled up"
    assert len(cur["ingested_tail"]) <= 8
    assert mf.ingested_keys(root) == set(keys)
    assert mf.ingested_count(root) == 30
    # membership probe across BOTH representations
    hit = mf.ingested_contains(root, ["k000", "k029", "nope"])
    assert hit == {"k000", "k029"}
    # duplicates rejected whether the key sits in a bucket or the tail
    for dup in ("k000", keys[-1]):
        with pytest.raises(ValueError, match="already in the ingested"):
            mf.commit(root, file_keys=[dup])
    # superseded bucket files (rewritten by later rollups) are vacuumed;
    # referenced ones survive
    mdir = mf.manifests_dir(root)
    before = {n for n in os.listdir(mdir) if n.startswith("ingested-")}
    out = mf.vacuum(root, keep_last=1, orphan_grace_sec=0)
    after = {n for n in os.listdir(mdir) if n.startswith("ingested-")}
    assert after <= before
    assert mf.ingested_keys(root) == set(keys), "vacuum lost history"
    ref = set(
        (mf.current(root).get("ingested_checkpoint") or {})
        .get("buckets", {})
        .values()
    )
    assert after == ref, (after, ref)
    assert set(out["removed_ingest_buckets"]) == before - after


def test_legacy_inline_manifest_migrates_on_next_commit(tmp_path):
    """An r10-format manifest (inline ingested_files list) keeps
    working: reads see the history, and the first new commit carries
    it into the tail/checkpoint layout."""
    root = str(tmp_path / "ds")
    mdir = mf.manifests_dir(root)
    os.makedirs(mdir)
    legacy = {
        "version": 0,
        "datasets": {"d": []},
        "ingested_files": ["old-0", "old-1"],
    }
    name = "manifest-0000000000-deadbeef.json"
    with open(os.path.join(mdir, name), "w") as fh:
        json.dump(legacy, fh)
    with open(os.path.join(mdir, "_current"), "w") as fh:
        fh.write(name)
    assert mf.ingested_keys(root) == {"old-0", "old-1"}
    assert mf.ingested_contains(root, ["old-1", "new"]) == {"old-1"}
    with pytest.raises(ValueError, match="already in the ingested"):
        mf.commit(root, file_keys=["old-0"])
    m = mf.commit(root, file_keys=["new-0"])
    assert m["version"] == 1 and "ingested_tail" in m
    assert mf.ingested_keys(root) == {"old-0", "old-1", "new-0"}


def test_rebuild_resets_ingested_history(spark, tmp_path):
    """The r10 ADVICE divergence: a transactional REBUILD discards
    streamed vectors, so it must also reset the dedup history — a
    checkpoint-loss replay of previously ingested files re-ingests
    them instead of skipping them forever."""
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    _write_jsonl(b.collect(), vdir / "f0.jsonl")
    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt0"), idx
    )
    q.awaitTermination()
    assert mf.ingested_count(idx) == 1

    # full rebuild from the batch corpus at a_dir: streamed vectors gone
    build_lsh_index(spark, a_dir, idx)
    assert mf.ingested_count(idx) == 0, "rebuild kept a stale history"

    # the replay now re-ingests f0 — the index converges to the union
    replays = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt1"),
        idx,
        on_batch=lambda bid, n: replays.append(n),
    )
    q.awaitTermination()
    assert replays == [100 * 12]
    full = str(tmp_path / "idx_full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)


# ---------------------------------------------------------------------------
# read_dataset: flat multi-path plan + schema-drift fallback
# ---------------------------------------------------------------------------


def test_read_dataset_plan_is_flat_over_many_segments(spark, tmp_path):
    """50 ingest segments between compactions must scan as ONE flat
    FileScan, not an O(segments)-deep Union tower (r10 verdict #5)."""
    root = str(tmp_path / "ds")
    segs = []
    base = spark.range(2).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    for i in range(50):
        s = mf.new_segment_path(root)
        base.withColumn("a", F.col("a") + F.lit(i * 10)).write.parquet(s)
        segs.append(s)
    mf.commit(root, replace={"d": segs})
    df = mf.read_dataset(spark, root, "d", "a long, b long")
    assert df.count() == 100
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan[:2000]


def test_read_dataset_partitioned_segments_union_is_flat(spark, tmp_path):
    """Partitioned segments are separate partition-discovery roots —
    Spark refuses a multi-path read (KD009) — so the scan is a union;
    it must collapse (CombineUnions) into ONE Union node of pruned
    scans, never an O(segments)-deep tower."""
    root = str(tmp_path / "ds")
    segs = []
    for i in range(20):
        s = mf.new_segment_path(root)
        spark.createDataFrame(
            [(i, i % 3, i * 10)], "a long, p long, b long"
        ).write.partitionBy("p").parquet(s)
        segs.append(s)
    mf.commit(root, replace={"d": segs})
    df = mf.read_dataset(spark, root, "d", "a long, p long, b long")
    assert df.count() == 20
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Union") == 1, plan[:2000]
    # partition pruning still applies per segment under the union
    pruned = df.filter(F.col("p") == 1)
    assert pruned.count() == sum(1 for i in range(20) if i % 3 == 1)


def test_read_dataset_schema_drift_falls_back_to_union(spark, tmp_path):
    root = str(tmp_path / "ds")
    s0, s1 = mf.new_segment_path(root), mf.new_segment_path(root)
    spark.createDataFrame([(1,)], "a long").write.parquet(s0)
    spark.createDataFrame([(2, 20)], "a long, b long").write.parquet(s1)
    mf.commit(root, replace={"d": [s0, s1]})
    rows = {
        (r["a"], r["b"])
        for r in mf.read_dataset(spark, root, "d", "a long, b long").collect()
    }
    assert rows == {(1, None), (2, 20)}


def test_commit_steals_stale_lock(tmp_path):
    """A lock file that declares no lease — empty (a crash mid-write)
    or unparsable (a plain owner-token lock written before the lease
    protocol) — reads as an EXPIRED lease: the next commit steals it
    at once instead of spinning until the timeout, and releases
    cleanly. Both files are fresh, so no mtime could excuse them."""
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    lock = os.path.join(mf.manifests_dir(root), "_commit.lock")
    for i, body in enumerate(["", "0f3a9c2e7b1d4e5f8a6b9c0d1e2f3a4b"]):
        with open(lock, "w") as fh:
            fh.write(body)
        t0 = time.monotonic()
        m = mf.commit(root, file_keys=[f"k{i}"])
        assert time.monotonic() - t0 < 5.0, "spun on the stale lock"
        assert m["version"] == i + 1
        assert not os.path.exists(lock)


def test_commit_times_out_on_held_lock(tmp_path):
    """A LIVE lease (a committer inside its declared lease) is honored
    until the timeout, then the waiter fails loudly instead of
    corrupting the metadata step."""
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    holder = CASLockProvider(PosixCASStore(), lease_sec=60.0)
    h = holder.acquire(mf.manifests_dir(root))
    waiter = CASLockProvider(PosixCASStore(), timeout_sec=0.3)
    with pytest.raises(RuntimeError, match="CAS lease"):
        mf.commit(root, file_keys=["k0"], lock=waiter)
    holder.release(h)
    assert mf.commit(root, file_keys=["k0"])["version"] == 1


# ---------------------------------------------------------------------------
# stalled committer: lost lock/lease must fail LOUDLY, never lost-commit
# ---------------------------------------------------------------------------


def _store(kind: str, tmp_path):
    """The lease's store for a ``provider_kind``: the default POSIX
    store (claims and lease in the lake's ``_manifests/``) or the
    in-process CAS emulation."""
    if kind == "posix":
        return PosixCASStore()
    return CASStore(str(tmp_path / "cas"))


def test_lock_provider_verify_semantics(tmp_path):
    """verify() ground truth over both stores: True while held, False
    once the lease is stolen, replaced, or expired."""
    # POSIX store: the lease is the lake's _commit.lock file
    mdir = str(tmp_path / "m1")
    os.makedirs(mdir)
    fp = CASLockProvider(PosixCASStore())
    h = fp.acquire(mdir)
    assert fp.verify(h) is True
    lock = os.path.join(mdir, "_commit.lock")
    with open(lock, "w") as fh:  # a thief's token replaces ours
        fh.write("someone-else")
    assert fp.verify(h) is False
    os.unlink(lock)
    assert fp.verify(h) is False  # gone entirely

    # emulated store: ownership AND liveness
    store = CASStore(str(tmp_path / "cas"))
    mdir2 = str(tmp_path / "m2")
    os.makedirs(mdir2)
    cp = CASLockProvider(store, lease_sec=0.15)
    h2 = cp.acquire(mdir2)
    assert cp.verify(h2) is True
    time.sleep(0.2)  # expired but not yet stolen: confers NO ownership
    assert cp.verify(h2) is False
    thief = CASLockProvider(store, lease_sec=60.0)
    h3 = thief.acquire(mdir2)  # steals the expired lease
    assert cp.verify(h2) is False
    assert thief.verify(h3) is True
    thief.release(h3)


@pytest.mark.parametrize("provider_kind", ["posix", "cas"])
def test_stalled_committer_cannot_overwrite_thiefs_commit(
    tmp_path, monkeypatch, provider_kind
):
    """THE lost-commit scenario the r12 ADVICE flagged: a committer
    pauses past the staleness/lease bound AFTER reading the manifest
    but BEFORE the pointer swap; a thief steals the lock and commits.
    The stalled holder's swap must raise CommitLockLostError — its
    last-writer-wins os.replace would otherwise silently discard the
    thief's committed segments. Asserted: victim raises, thief's
    segment is in the live manifest, victim's is not, and the version
    chain has no gap."""
    root = str(tmp_path / "ds")
    store = _store(provider_kind, tmp_path)
    victim = CASLockProvider(store, lease_sec=0.05)
    thief = CASLockProvider(store, lease_sec=60.0)
    mf.commit(root, replace={"d": []}, lock=thief)

    thief_seg = mf.new_segment_path(root)
    os.makedirs(thief_seg)
    victim_seg = mf.new_segment_path(root)
    os.makedirs(victim_seg)

    real_fsync = mf._fsync_write
    state = {"armed": True}

    def stall_then_thief_commits(path, body):
        # fires on the VICTIM's manifest-file write: after its
        # read-modify (basis captured), before its pointer swap
        if state["armed"] and os.path.basename(path).startswith("manifest-"):
            state["armed"] = False
            time.sleep(0.15)  # pause past the victim's staleness bound
            mf.commit(root, add={"d": [thief_seg]}, lock=thief)
        real_fsync(path, body)

    monkeypatch.setattr(mf, "_fsync_write", stall_then_thief_commits)
    with pytest.raises(mf.CommitLockLostError):
        mf.commit(root, add={"d": [victim_seg]}, lock=victim)
    monkeypatch.setattr(mf, "_fsync_write", real_fsync)

    cur = mf.current(root)
    rel_thief = os.path.relpath(thief_seg, root)
    rel_victim = os.path.relpath(victim_seg, root)
    assert rel_thief in cur["datasets"]["d"]
    assert rel_victim not in cur["datasets"]["d"]
    assert cur["version"] == 1  # thief's commit; no gap, no overwrite
    # the abort removed its SAME-VERSION phantom manifest: exactly one
    # file claims version 1, so time travel to it is deterministic
    mdir = mf.manifests_dir(root)
    claimants = [
        f for f in os.listdir(mdir) if f.startswith("manifest-0000000001-")
    ]
    assert len(claimants) == 1, claimants
    assert rel_thief in mf.manifest_at(root, 1)["datasets"]["d"]
    assert not [f for f in os.listdir(mdir) if ".tmp-" in f]
    # the victim's staged segment is an orphan; a later commit retried
    # from a fresh read proceeds normally
    m2 = mf.commit(root, add={"d": [victim_seg]}, lock=thief)
    assert m2["version"] == 2
    assert rel_victim in m2["datasets"]["d"]


def test_fsck_flags_same_version_phantom_and_manifest_at_is_loud(tmp_path):
    """A crash inside the lost-lock abort window (before the phantom
    unlink) leaves two files claiming one version. fsck must flag it;
    manifest_at resolves it via the version CLAIM (the conditional
    commit point names the committed file authoritatively), refuses
    to guess when no claim survives either, and the LIVE version
    stays resolvable via the pointer."""
    import shutil as _sh

    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})         # v0
    m1 = mf.commit(root, file_keys=["k1"])     # v1
    m2 = mf.commit(root, file_keys=["k2"])     # v2 (live)
    mdir = mf.manifests_dir(root)
    assert mf.fsck(root)["ok"]
    # phantom claiming v1 (a crashed committer's leftover)
    _sh.copy(
        os.path.join(mdir, m1["_file"]),
        os.path.join(mdir, "manifest-0000000001-deadbeef.json"),
    )
    rep = mf.fsck(root)
    assert not rep["ok"]
    assert any("claimed by 2 manifests" in e for e in rep["errors"])
    # the claim entry names the committed one → time travel resolves
    assert mf.manifest_at(root, 1)["_file"] == m1["_file"]
    # without the claim (pre-claim logs, vacuumed claim) it must
    # refuse to guess
    os.unlink(os.path.join(mdir, "claim-0000000001"))
    with pytest.raises(ValueError, match="AMBIGUOUS"):
        mf.manifest_at(root, 1)
    # phantom on the LIVE version: the pointer disambiguates
    _sh.copy(
        os.path.join(mdir, m2["_file"]),
        os.path.join(mdir, "manifest-0000000002-deadbeef.json"),
    )
    assert mf.manifest_at(root, 2)["_file"] == m2["_file"]


# ---------------------------------------------------------------------------
# r14: conditional commit point (version claims) + lease renewal
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("provider_kind", ["posix", "cas"])
def test_claim_closes_the_verify_check_then_act_window(
    tmp_path, monkeypatch, provider_kind
):
    """The r13 ADVICE residual: _verify_still_held is check-then-act,
    so a steal landing AFTER verify + basis read but BEFORE os.replace
    could still last-writer-win. Simulate exactly that window — verify
    neutered, the thief commits between the victim's verify and its
    swap — and assert the version CLAIM (the atomic conditional commit
    point) still aborts the victim: the thief owns the version, the
    victim raises, nothing is overwritten."""
    root = str(tmp_path / "ds")
    store = _store(provider_kind, tmp_path)
    victim = CASLockProvider(store, lease_sec=0.05)
    thief = CASLockProvider(store, lease_sec=60.0)
    mf.commit(root, replace={"d": []}, lock=thief)
    thief_seg = mf.new_segment_path(root)
    os.makedirs(thief_seg)
    victim_seg = mf.new_segment_path(root)
    os.makedirs(victim_seg)

    # neuter BOTH r13 guards: the steal lands inside their window
    monkeypatch.setattr(mf, "_verify_still_held", lambda *a, **k: None)
    monkeypatch.setattr(mf, "_renew_or_die", lambda p, h, m: h)

    orig_claim = victim.claim_version
    state = {"armed": True}

    def claim_after_thief_won(mdir, version, name):
        if state["armed"]:
            state["armed"] = False
            time.sleep(0.15)  # victim stalls past its staleness bound
            mf.commit(root, add={"d": [thief_seg]}, lock=thief)
        return orig_claim(mdir, version, name)

    monkeypatch.setattr(victim, "claim_version", claim_after_thief_won)
    with pytest.raises(mf.CommitLockLostError, match="already claimed"):
        mf.commit(root, add={"d": [victim_seg]}, lock=victim)

    cur = mf.current(root)
    assert os.path.relpath(thief_seg, root) in cur["datasets"]["d"]
    assert os.path.relpath(victim_seg, root) not in cur["datasets"]["d"]
    assert cur["version"] == 1
    # exactly one manifest claims version 1, and the victim's phantom
    # (written before its claim lost) was removed by the abort
    mdir = mf.manifests_dir(root)
    claimants = [
        f for f in os.listdir(mdir) if f.startswith("manifest-0000000001-")
    ]
    assert claimants == [cur["_file"]]


@pytest.mark.parametrize("provider_kind", ["posix", "cas"])
def test_crash_after_claim_rolls_forward(tmp_path, provider_kind):
    """Claimed ⇒ committed: a committer that crashed between its claim
    and its pointer swap left a durable commit whose visibility lags.
    The next commit must roll the pointer forward over the claim FIRST
    (so the crashed commit's file keys stay exactly-once), then land on
    top; fsck reports the pending claim in the meantime."""
    root = str(tmp_path / "ds")
    provider = CASLockProvider(_store(provider_kind, tmp_path))
    m0 = mf.commit(root, replace={"d": []}, lock=provider)
    mdir = mf.manifests_dir(root)

    # hand-stage what commit() does up to (and including) the claim,
    # then 'crash' before the pointer swap
    name = "manifest-0000000001-feedc0de.json"
    m1 = {
        "version": 1,
        "datasets": {"d": []},
        "dataset_meta": {},
        "segment_stats": {},
        "ingested_tail": ["k1"],
        "ingested_checkpoint": None,
    }
    mf._fsync_write(os.path.join(mdir, name), json.dumps(m1))
    assert provider.claim_version(mdir, 1, name) is True
    assert mf.current(root)["_file"] == m0["_file"]  # pointer lags

    if provider_kind == "posix":  # on-disk claims are fsck-visible
        rep = mf.fsck(root)
        assert rep["ok"] and rep["pending_claims"] == [1]

    # the next commit recovers: rolls forward to v1, commits v2 on top
    m2 = mf.commit(root, file_keys=["k2"], lock=provider)
    assert m2["version"] == 2
    assert mf.ingested_keys(root) == {"k1", "k2"}
    # the crashed commit's key is honored as already-ingested
    with pytest.raises(ValueError, match="already in"):
        mf.commit(root, file_keys=["k1"], lock=provider)
    rep = mf.fsck(root)
    assert rep["ok"], rep["errors"]
    assert rep.get("pending_claims") in ([], None) or rep["pending_claims"] == []


def test_vacuum_renews_lease_through_long_destructive_phase(
    tmp_path, monkeypatch
):
    """A vacuum whose rmtree loop legitimately outlives the lease
    width must heartbeat: mid-phase, WELL past the original lease
    expiry, a contender's acquire still times out (the lease was
    renewed, not expired-and-stealable), and the vacuum completes
    instead of aborting — the r13 'completed rewrite converts into an
    abort + retry' waste, closed."""
    import shutil as _sh

    store = CASStore(str(tmp_path / "cas"))
    provider = CASLockProvider(store, lease_sec=0.3, timeout_sec=10.0)
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, lock=provider)
    for i in range(25):
        seg = mf.new_segment_path(root)
        os.makedirs(seg)
        with open(os.path.join(seg, "x"), "w") as fh:
            fh.write("x")
        mf.commit(root, add={"d": [seg]}, file_keys=[f"k{i}"], lock=provider)
    # supersede everything so vacuum has 25 segments to delete
    mf.commit(root, replace={"d": []}, lock=provider)

    real_rmtree = _sh.rmtree

    def slow_rmtree(path, *a, **k):
        time.sleep(0.05)  # 25 x 0.05 = 1.25s >> the 0.3s lease
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(mf.shutil, "rmtree", slow_rmtree)
    results: dict = {}

    def run_vacuum():
        results["vacuum"] = mf.vacuum(
            root, keep_last=1, orphan_grace_sec=0.0, lock=provider
        )

    t = threading.Thread(target=run_vacuum)
    t.start()
    time.sleep(0.6)  # 2x past the ORIGINAL lease width, mid-phase
    contender = CASLockProvider(store, lease_sec=0.3, timeout_sec=0.15)
    with pytest.raises(RuntimeError, match="CAS lease"):
        contender.acquire(mf.manifests_dir(root))
    t.join(timeout=60)
    assert len(results["vacuum"]["removed_segments"]) == 25
    # lease released cleanly afterwards
    h = contender.acquire(mf.manifests_dir(root))
    contender.release(h)


def test_commit_renews_when_critical_section_outlives_lease(
    tmp_path, monkeypatch
):
    """A commit whose metadata step legitimately outlives lease_sec
    (slow FS fsyncs, a big ingest rollup): WITH renewal it completes —
    the heartbeat extends the un-stolen lease before the verify that
    would otherwise see it expired; WITHOUT renewal (renew stubbed to
    return the handle unchanged) the same commit aborts loudly. Slow
    is not dead, but only the heartbeat can tell the lock that."""
    store = CASStore(str(tmp_path / "cas"))
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})

    real_fsync = mf._fsync_write

    def slow_fsync(path, body):
        time.sleep(0.12)  # two calls per commit > the 0.2s lease
        real_fsync(path, body)

    monkeypatch.setattr(mf, "_fsync_write", slow_fsync)
    provider = CASLockProvider(store, lease_sec=0.2)
    m = mf.commit(root, file_keys=["slow-but-alive"], lock=provider)
    assert m["version"] == 1

    no_renew = CASLockProvider(store, lease_sec=0.2)
    monkeypatch.setattr(no_renew, "renew", lambda handle, *a, **k: handle)
    with pytest.raises(mf.CommitLockLostError):
        mf.commit(root, file_keys=["slow-and-unrenewed"], lock=no_renew)
    monkeypatch.setattr(mf, "_fsync_write", real_fsync)
    # the aborted commit left no phantom and the log still advances
    m2 = mf.commit(root, file_keys=["retry"], lock=provider)
    assert m2["version"] == 2
    assert mf.fsck(root)["ok"]


def test_file_renew_refuses_after_steal_even_with_fresh_thief_lock(tmp_path):
    """r14 self-review catch, over the POSIX store: renew must refuse
    once the lease was stolen — the lock file on disk now holds the
    THIEF's fresh lease, and a renewal that trusted the file's
    freshness instead of its owner would tell the stolen holder its
    lease is fine while the thief commits."""
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    victim = CASLockProvider(PosixCASStore(), lease_sec=0.05)
    h = victim.acquire(mdir)
    time.sleep(0.1)  # victim stalls past the lease it declared
    thief = CASLockProvider(PosixCASStore(), lease_sec=60.0)
    h2 = thief.acquire(mdir)  # steals; the thief's lease is FRESH
    assert victim.renew(h) is None  # a fresh lease must not mask the steal
    assert thief.renew(h2) == h2  # the rightful holder renews fine
    thief.release(h2)


def test_crashed_claim_tmp_never_wedges_and_is_vacuumed(tmp_path):
    """The claim is published by an atomic link of a fsync'd temp
    file, so a crash mid-claim leaves only an UNLINKED tmp — never an
    empty claim that would block every future claim of that version
    while rolling nothing forward (the r14 self-review wedge). The
    tmp is invisible to fsck and collected by vacuum."""
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    mf.commit(root, file_keys=["k1"])
    mdir = mf.manifests_dir(root)
    # a committer crashed between the tmp fsync and the link
    mf._fsync_write(
        os.path.join(mdir, "claim-0000000002.tmp-deadbeef"), "manifest-x"
    )
    rep = mf.fsck(root)
    assert rep["ok"], rep["errors"]  # not a malformed claim, not pending
    # the version is still claimable — nothing wedged
    m2 = mf.commit(root, file_keys=["k2"])
    assert m2["version"] == 2
    mf.vacuum(root, keep_last=2, orphan_grace_sec=0.0)
    assert not [
        n for n in os.listdir(mdir)
        if n.startswith("claim-") and ".tmp-" in n
    ]
    assert mf.fsck(root)["ok"]


# ---------------------------------------------------------------------------
# r15: CAS-claim phantom disambiguation + vacuum's dead-claim sweep
# ---------------------------------------------------------------------------


def test_manifest_at_resolves_phantom_via_cas_claim(tmp_path):
    """r14 audit missing #2, closed: a CAS-locked lake's version
    claims live in the external store, so a crashed-abort PHANTOM
    (two manifest files claiming one non-live version) used to fall
    through to the loud ValueError even though the claim data to
    disambiguate existed. manifest_at(lock=provider) now consults the
    provider's claim ledger (the default store's on-disk claims stay
    the fallback)."""
    root = str(tmp_path / "ds")
    store = CASStore(str(tmp_path / "cas"))
    provider = CASLockProvider(store)
    mf.commit(root, replace={"d": []}, lock=provider)
    mf.commit(root, add={"d": []}, lock=provider)
    mf.commit(root, add={"d": []}, lock=provider)  # live = v2
    mdir = mf.manifests_dir(root)
    real_v1 = [
        n for n in os.listdir(mdir) if n.startswith("manifest-0000000001-")
    ][0]
    # a crashed lost-lock abort's phantom: same version prefix, never
    # committed (the CAS claim names the real file)
    with open(os.path.join(mdir, "manifest-0000000001-deadbeef.json"), "w") as f:
        json.dump({"version": 1, "datasets": {"d": []}}, f)
    # no provider: on-disk claim absent (claims are in the store) → loud
    with pytest.raises(ValueError, match="AMBIGUOUS"):
        mf.manifest_at(root, 1)
    # with the lake's provider: the store's claim resolves it
    m = mf.manifest_at(root, 1, lock=provider)
    assert m["_file"] == real_v1
    # restore threads the provider through to the same resolution
    m2 = mf.restore(root, 1, lock=provider)
    assert m2["version"] == 3 and m2["restored_from"] == 1


def test_vacuum_sweeps_dead_claims_below_retention_floor(tmp_path):
    """r14 ADVICE: a crash between vacuum's os.remove(manifest) and
    drop_claim leaves a claim file no later pass revisits (its
    manifest is gone, so the removal loop never names that version
    again) — accumulating forever and making fsck's 'cleaned, not
    flagged' message a lie. Vacuum now sweeps file claims below the
    oldest on-disk manifest version."""
    root = str(tmp_path / "ds")
    seg_keep = None
    for v in range(5):
        seg = mf.new_segment_path(root)
        os.makedirs(seg)
        if v == 0:
            mf.commit(root, replace={"d": [seg]})
        else:
            mf.commit(root, add={"d": [seg]})
        seg_keep = seg
    assert seg_keep is not None
    mdir = mf.manifests_dir(root)
    # simulate the crashed earlier vacuum: manifest v0 removed, its
    # claim left behind (below any future retention floor)
    v0 = [n for n in os.listdir(mdir) if n.startswith("manifest-0000000000-")][0]
    os.remove(os.path.join(mdir, v0))
    assert os.path.exists(os.path.join(mdir, "claim-0000000000"))
    rep = mf.vacuum(root, keep_last=2, orphan_grace_sec=0.0)
    kept_floor = min(
        int(n.split("-")[1])
        for n in os.listdir(mdir)
        if n.startswith("manifest-")
    )
    stale = [
        n
        for n in os.listdir(mdir)
        if n.startswith("claim-")
        and ".tmp-" not in n
        and int(n.split("-")[1]) < kept_floor
    ]
    assert stale == []  # the orphaned v0 claim was swept with the rest
    assert mf.fsck(root)["ok"], mf.fsck(root)["errors"]
    assert rep["removed_manifests"]  # the pass did real retention work
