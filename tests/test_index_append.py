"""Incremental ANN index append (streaming/ann.py append_lsh_index /
append_ivf_pq_index): the lake-scale maintenance path where indexes
are appended against frozen parameters, never rebuilt.

Parity contracts pinned here:
- LSH: ``build(A ∪ B) == append(B) ∘ build(A)`` BIT-FOR-BIT (the
  hyperplanes are deterministic and data-independent).
- IVF-PQ: appended assignments equal an independent NumPy replay of
  frozen-parameter argmin (squared distance, smallest-cell tie-break);
  the pre-existing index rows are bit-unchanged; append is
  batch-decomposable (``append(B1 ∪ B2) == append(B2) ∘ append(B1)``);
  and the SERVING path finds appended vectors with dist 0 at rank 1.
"""

from __future__ import annotations

import json
import shutil

import numpy as np
import pytest

from pyspark.sql import functions as F

from fintech_etl_spark.sources.tables import load_table
from fintech_etl_spark.streaming.ann import (
    _read_ivf_dataset,
    _read_lsh_index,
    append_ivf_pq_index,
    append_lsh_index,
    build_ivf_pq_index,
    build_lsh_index,
)
from tests.conftest import SF_SMOKE

_CUT = 400  # A = vec_id < 400 (train/build side), B = the 100 appended


def _split(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = emb.filter(F.col("vec_id") < _CUT)
    b = emb.filter(F.col("vec_id") >= _CUT)
    a_dir = tmp_path / "sfA"
    a_dir.mkdir()
    a.write.parquet(str(a_dir / "embeddings.parquet"))
    return str(a_dir), a, b


def _lsh_rows(spark, path):
    return {
        (r.neighbor_id, r.band, r.bucket, tuple(r.u))
        for r in _read_lsh_index(spark, path).collect()
    }


def test_lsh_append_bit_equals_full_rebuild(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    inc = str(tmp_path / "idx_incremental")
    full = str(tmp_path / "idx_full_rebuild")

    n_a = build_lsh_index(spark, a_dir, inc)
    n_b = append_lsh_index(b, inc)
    assert n_a == a.count() * 12 and n_b == b.count() * 12

    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, inc) == _lsh_rows(spark, full)


def _codes_rows(spark, path):
    return {
        (r.vec_id, r.sub, r.pq_cell, r.cell)
        for r in _read_ivf_dataset(spark, path, "codes").collect()
    }


def _vector_rows(spark, path):
    return {
        (r.vec_id, tuple(r.v), r.cell)
        for r in _read_ivf_dataset(spark, path, "vectors").collect()
    }


def _frozen_numpy_assign(spark, index_path, b_rows):
    """Independent oracle: frozen-parameter assignment replayed with
    plain Python left-fold arithmetic (same accumulation order as the
    SQL ``aggregate`` fold, so distances are bit-identical) and
    first-minimum tie-break."""
    coarse = {
        int(r.cell): list(r.centroid)
        for r in spark.read.parquet(index_path + "/coarse").collect()
    }
    books: dict[int, dict[int, list]] = {}
    for r in spark.read.parquet(index_path + "/codebooks").collect():
        books.setdefault(int(r.sub), {})[int(r.cell)] = list(r.centroid)

    def sqd(u, c):
        d = 0.0
        for x, y in zip(u, c):
            d += (x - y) * (x - y)
        return d

    want_cell, want_codes = {}, {}
    for row in b_rows:
        v = list(row.embedding)
        best = min(sorted(coarse), key=lambda cell: (sqd(v, coarse[cell]), cell))
        want_cell[row.vec_id] = best
        for sub in sorted(books):
            sd = len(books[sub][min(books[sub])])
            sv = v[sub * sd : (sub + 1) * sd]
            code = min(
                sorted(books[sub]),
                key=lambda cell: (sqd(sv, books[sub][cell]), cell),
            )
            want_codes[(row.vec_id, sub)] = code
    return want_cell, want_codes


def test_ivfpq_append_frozen_assignment_matches_numpy(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(spark, a_dir, idx)

    before_codes = _codes_rows(spark, idx)
    before_vecs = _vector_rows(spark, idx)
    b_rows = b.collect()

    counts = append_ivf_pq_index(spark, b, idx)
    assert counts == {
        "appended_vectors": len(b_rows),
        "appended_code_rows": len(b_rows) * 8,
    }

    after_codes = _codes_rows(spark, idx)
    after_vecs = _vector_rows(spark, idx)
    # pre-existing rows bit-unchanged — append never rewrites the base
    assert before_codes <= after_codes and before_vecs <= after_vecs

    want_cell, want_codes = _frozen_numpy_assign(spark, idx, b_rows)
    new_codes = after_codes - before_codes
    assert {(v, s) for v, s, _, _ in new_codes} == set(want_codes)
    for vec_id, sub, pq_cell, cell in new_codes:
        assert cell == want_cell[vec_id], (vec_id, "ivf cell")
        assert pq_cell == want_codes[(vec_id, sub)], (vec_id, sub, "pq code")
    new_vecs = after_vecs - before_vecs
    assert {v for v, _, _ in new_vecs} == set(want_cell)
    for vec_id, v, cell in new_vecs:
        assert cell == want_cell[vec_id]


def test_ivfpq_append_is_batch_decomposable(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    one = str(tmp_path / "idx_one_batch")
    two = str(tmp_path / "idx_two_batches")
    build_ivf_pq_index(spark, a_dir, one)
    shutil.copytree(one, two)

    append_ivf_pq_index(spark, b, one)
    mid = _CUT + 50
    append_ivf_pq_index(spark, b.filter(F.col("vec_id") < mid), two)
    append_ivf_pq_index(spark, b.filter(F.col("vec_id") >= mid), two)

    assert _codes_rows(spark, one) == _codes_rows(spark, two)
    assert _vector_rows(spark, one) == _vector_rows(spark, two)


def test_ivfpq_serving_finds_appended_vectors(spark, tmp_path):
    """End-to-end: a query equal to an appended vector must come back
    as its own rank-1 neighbor with exact dist 0 — provided the cosine
    probe reaches the vector's squared-distance-assigned cell, which
    the test verifies from the frozen parameters first (the same
    recall contract as the batch tier)."""
    from fintech_etl_spark.operators.similarity import _N_PROBE
    from fintech_etl_spark.streaming.ann import start_ivf_pq_queries

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(spark, a_dir, idx)
    b_rows = b.limit(20).collect()
    append_ivf_pq_index(
        spark, b.filter(F.col("vec_id") < _CUT + 20), idx
    )

    coarse = sorted(
        spark.read.parquet(idx + "/coarse").collect(), key=lambda r: r.cell
    )
    C = np.array([r.centroid for r in coarse], dtype=np.float64)
    cells = np.array([r.cell for r in coarse])

    want_cell, _ = _frozen_numpy_assign(spark, idx, b_rows)
    probeable = []
    for r in b_rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        cos = (C @ v) / (np.linalg.norm(C, axis=1) * np.linalg.norm(v))
        probed = cells[np.argsort(-cos, kind="stable")[:_N_PROBE]]
        if want_cell[r.vec_id] in probed:
            probeable.append(r)
    assert probeable, "no appended vector is probe-reachable (degenerate split)"

    qdir = tmp_path / "queries"
    qdir.mkdir()
    with open(qdir / "q.jsonl", "w") as f:
        for r in probeable:
            f.write(
                json.dumps(
                    {
                        # distinct id space: serving drops neighbor == query id
                        "query_id": r.vec_id + 10_000_000,
                        "embedding": list(r.embedding),
                    }
                )
                + "\n"
            )

    got = {}

    def on_results(df, batch_id):
        for row in df.collect():
            got.setdefault(row.query_id, []).append(
                (row.rank, row.neighbor_id, row.dist)
            )

    q = start_ivf_pq_queries(
        spark,
        str(qdir / "*.jsonl"),
        str(tmp_path / "ckpt"),
        idx,
        on_results,
    )
    q.awaitTermination()

    for r in probeable:
        rows = sorted(got[r.vec_id + 10_000_000])
        assert rows[0][0] == 1
        assert rows[0][1] == r.vec_id, "appended vector not served back"
        assert rows[0][2] == 0.0


def _write_jsonl(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write(
                json.dumps({"vec_id": r.vec_id, "embedding": list(r.embedding)})
                + "\n"
            )


def test_streaming_vector_ingest_reaches_build_parity(spark, tmp_path):
    """File → ingest stream → index: after draining two JSONL files of
    new vectors, the LSH index is bit-equal to a full rebuild on the
    union; a restart against the same checkpoint re-appends nothing."""
    from fintech_etl_spark.streaming.ann import start_vector_ingest

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    b_rows = b.collect()
    _write_jsonl(b_rows[:50], vdir / "f0.jsonl")
    _write_jsonl(b_rows[50:], vdir / "f1.jsonl")

    batches = []
    q = start_vector_ingest(
        spark,
        str(vdir / "*.jsonl"),
        str(tmp_path / "ckpt"),
        idx,
        max_files_per_trigger=1,
        on_batch=lambda bid, n: batches.append((bid, n)),
    )
    q.awaitTermination()
    assert sorted(n for _, n in batches) == [50 * 12, 50 * 12]

    full = str(tmp_path / "idx_full")
    build_lsh_index(spark, SF_SMOKE, full)
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)

    # restart: checkpoint says both files are done — nothing re-appends
    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt"), idx
    )
    q.awaitTermination()
    assert _lsh_rows(spark, idx) == _lsh_rows(spark, full)


def test_streaming_vector_ingest_rejects_duplicate_ids(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    from fintech_etl_spark.streaming.ann import start_vector_ingest

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)
    rows_before = _lsh_rows(spark, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    dup = b.limit(1).collect() * 2
    _write_jsonl(dup, vdir / "dup.jsonl")

    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt"), idx
    )
    with pytest.raises(StreamingQueryException, match="duplicate vec_id"):
        q.awaitTermination()
    # fail-stop: nothing was appended
    assert _lsh_rows(spark, idx) == rows_before


def test_streaming_vector_ingest_rejects_null_rows(spark, tmp_path):
    """A malformed JSONL line (null vec_id or embedding) halts the
    stream loudly instead of silently losing the vector."""
    from pyspark.errors import StreamingQueryException

    from fintech_etl_spark.streaming.ann import start_vector_ingest

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)
    rows_before = _lsh_rows(spark, idx)

    vdir = tmp_path / "vectors"
    vdir.mkdir()
    good = b.limit(1).first()
    with open(vdir / "bad.jsonl", "w") as f:
        f.write(
            json.dumps({"vec_id": good.vec_id, "embedding": list(good.embedding)})
            + "\n"
        )
        f.write(json.dumps({"vec_id": None, "embedding": [0.0] * 8}) + "\n")

    q = start_vector_ingest(
        spark, str(vdir / "*.jsonl"), str(tmp_path / "ckpt"), idx
    )
    with pytest.raises(StreamingQueryException, match="NULL vec_id"):
        q.awaitTermination()
    assert _lsh_rows(spark, idx) == rows_before


def test_cli_index_append(spark, tmp_path, capsys, monkeypatch):
    """CLI `index-append` drives both families against an existing
    index: new-batch parquet in, per-batch counts out."""
    from fintech_etl_spark import cli

    a_dir, a, b = _split(spark, tmp_path)
    batch = str(tmp_path / "batch.parquet")
    b.write.parquet(batch)
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)

    lsh = str(tmp_path / "lsh")
    build_lsh_index(spark, a_dir, lsh)
    rc = cli.main(["index-append", "lsh", "--index", lsh, "--vectors", batch])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"index": lsh, "appended_rows": b.count() * 12}

    ivf = str(tmp_path / "ivf")
    build_ivf_pq_index(spark, a_dir, ivf)
    rc = cli.main(["index-append", "ivf-pq", "--index", ivf, "--vectors", batch])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["appended_vectors"] == b.count()
    n = _read_ivf_dataset(spark, ivf, "vectors").count()
    assert n == load_table(spark, SF_SMOKE, "embeddings").count()


def test_ivfpq_append_reliable_barrier_parity(spark, tmp_path):
    """The append path rides the shared barrier policy: under a real
    checkpoint dir (barrier='reliable' — what 'auto' selects on a
    cluster) the appended assignments are bit-identical to the
    local-mode default."""
    a_dir, a, b = _split(spark, tmp_path)
    local = str(tmp_path / "idx_local")
    rel = str(tmp_path / "idx_reliable")
    build_ivf_pq_index(spark, a_dir, local)
    shutil.copytree(local, rel)

    sc = spark.sparkContext
    had = sc.getCheckpointDir()
    if had is None:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        append_ivf_pq_index(spark, b, rel, barrier="reliable")
    finally:
        if had is None:
            sc._jsc.sc().setCheckpointDir(None)
    append_ivf_pq_index(spark, b, local)

    assert _codes_rows(spark, rel) == _codes_rows(spark, local)
    assert _vector_rows(spark, rel) == _vector_rows(spark, local)


def _skewed_dir(spark, tmp_path, n=1200, n_hot=300):
    """A corpus whose HIGHEST vec_ids form one tight cluster — no
    deterministic kmeans seed (the k lowest ids) starts inside it, so
    Lloyd's collapses the hot mass into ~one coarse cell (the
    adversarial shape SCALE_RECEIPT_r11_ann_skew.json measures)."""
    import numpy as np

    rng = np.random.default_rng(3)
    v = rng.normal(0.0, 1.0, (n, 64))
    center = rng.normal(0.0, 1.0, 64) * 2.0
    v[n - n_hot:] = center + rng.normal(0.0, 0.01, (n_hot, 64))
    rows = [(i, [float(x) for x in v[i]], i % 10) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path / "skewed"
    d.mkdir()
    df.write.parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_cell_cap_splits_hot_cell(spark, tmp_path):
    """cell_cap bounds the largest IVF cell, preserves every vector
    exactly once, and the frozen-quantizer append keeps working
    against the expanded coarse table."""
    sf = _skewed_dir(spark, tmp_path)
    idx = str(tmp_path / "idx")
    counts = build_ivf_pq_index(spark, sf, idx, k=None, cell_cap=128)
    assert counts["vectors"] == 1200
    sizes = (
        _read_ivf_dataset(spark, idx, "vectors")
        .groupBy("cell")
        .count()
        .collect()
    )
    assert max(r["count"] for r in sizes) <= 128
    assert sum(r["count"] for r in sizes) == 1200  # a partition, not a copy
    assert counts["coarse_cells"] == len(sizes) or counts[
        "coarse_cells"
    ] >= len(sizes)  # empty cells may exist in coarse
    # append still assigns to nearest of the EXPANDED coarse table
    extra = spark.createDataFrame(
        [(5000 + i, [float(i)] * 64, 0) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    got = append_ivf_pq_index(spark, extra, idx)
    assert got["appended_vectors"] == 5
    assert _read_ivf_dataset(spark, idx, "vectors").count() == 1205


def test_cell_cap_none_is_bit_identical(spark, tmp_path):
    """The default build (cell_cap=None) is unchanged by the split
    code path — the serving-parity contract with the batch tier."""
    sf, _a, _b = _split(spark, tmp_path)
    i1, i2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    build_ivf_pq_index(spark, sf, i1, k=4)
    build_ivf_pq_index(spark, sf, i2, k=4, cell_cap=None)
    assert _codes_rows(spark, i1) == _codes_rows(spark, i2)
    assert _vector_rows(spark, i1) == _vector_rows(spark, i2)


def test_cell_cap_warns_on_unsplittable(spark, tmp_path):
    """A cell of IDENTICAL vectors cannot be split geometrically —
    the build warns loudly instead of looping."""
    import warnings

    rows = [(i, [1.0] * 64, 0) for i in range(60)] + [
        (100 + i, [float(j % 7) for j in range(i, i + 64)], 1)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path / "ident"
    d.mkdir()
    df.write.parquet(str(d / "embeddings.parquet"))
    idx = str(tmp_path / "idx_ident")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        build_ivf_pq_index(spark, str(d), idx, k=2, cell_cap=16)
    assert any("geometrically inseparable" in str(x.message) for x in w)
