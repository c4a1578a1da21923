"""Index maintenance: append visibility inside a running serve stream,
and small-file compaction (fintech_etl_spark/sinks/maintenance.py).

Appends commit small per-(band,bucket) / per-cell partitioned
segments; at lake scale the maintenance loop is append →
(periodically) compact. Pinned here:

- a RUNNING LSH serve stream picks up rows appended BETWEEN
  micro-batches (the corpus side is re-resolved per batch) — batch 0
  serves the pre-append index, batch 1 serves the appended one, each
  matching the batch-tier oracle for its corpus;
- compaction rewrites every partition down to the target file count
  with the row multiset bit-unchanged, and serving results over the
  compacted index are identical;
- build(A) + append(B) + compact == the batch tier on A ∪ B
  end-to-end (visibility + compaction correctness in one pass).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sinks.maintenance import (
    compact_lsh_index,
    compact_transactional,
)
from fintech_etl_spark.sources.tables import load_table
from fintech_etl_spark.streaming.ann import (
    _read_ivf_dataset,
    _read_lsh_index,
    append_lsh_index,
    build_lsh_index,
    start_ann_queries,
)
from tests.conftest import SF_SMOKE

_CUT = 400


def _split(spark, tmp_path):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = emb.filter(F.col("vec_id") < _CUT)
    b = emb.filter(F.col("vec_id") >= _CUT)
    a_dir = tmp_path / "sfA"
    a_dir.mkdir()
    a.write.parquet(str(a_dir / "embeddings.parquet"))
    return str(a_dir), a, b


def _parquet_files_per_dir(root: str) -> dict[str, int]:
    """Parquet files per (band, bucket) dir, summed over the index's
    live segments (superseded ones stay on disk until vacuum)."""
    out: dict[str, int] = {}
    for seg in mf.dataset_segments(root, "index"):
        for dirpath, _dirs, files in os.walk(seg):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n:
                key = os.path.relpath(dirpath, seg)
                out[key] = out.get(key, 0) + n
    return out


def _rows(spark, path):
    return sorted(
        (r.neighbor_id, r.band, r.bucket, tuple(r.u))
        for r in _read_lsh_index(spark, path).collect()
    )


def test_compaction_restores_file_counts_and_preserves_rows(spark, tmp_path):
    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)
    # three appends → every touched partition dir accumulates files
    for lo, hi in ((_CUT, _CUT + 34), (_CUT + 34, _CUT + 67), (_CUT + 67, 500)):
        append_lsh_index(
            b.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), idx
        )
    before_rows = _rows(spark, idx)
    before_files = _parquet_files_per_dir(idx)
    assert max(before_files.values()) > 1, "appends should add files"

    stats = compact_lsh_index(spark, idx)
    after_files = _parquet_files_per_dir(idx)
    assert max(after_files.values()) == 1
    assert _rows(spark, idx) == before_rows
    assert stats["files_before"] == sum(before_files.values())
    assert stats["files_after"] == sum(after_files.values())
    assert stats["rows"] == len(before_rows)


def test_compaction_files_per_partition_salt(spark, tmp_path):
    a_dir, a, _b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)
    before_rows = _rows(spark, idx)
    compact_lsh_index(spark, idx, files_per_partition=2)
    after = _parquet_files_per_dir(idx)
    assert max(after.values()) <= 2
    assert _rows(spark, idx) == before_rows


def test_running_stream_sees_mid_stream_append_then_compacted_index(
    spark, tmp_path
):
    """Two micro-batches (one query file each). The handler appends B
    after batch 0, so batch 0 must match the batch tier on A and
    batch 1 the batch tier on A ∪ B; after compaction a fresh drain
    still matches A ∪ B exactly."""
    from fintech_etl_spark.operators.similarity import (
        _N_QUERIES,
        ann_lsh_bucketed,
    )

    a_dir, a, b = _split(spark, tmp_path)
    idx = str(tmp_path / "idx")
    build_lsh_index(spark, a_dir, idx)

    qrows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    qdir = tmp_path / "queries"
    qdir.mkdir()
    half = len(qrows) // 2
    for fno, chunk in enumerate((qrows[:half], qrows[half:])):
        with open(qdir / f"batch{fno}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {"query_id": r.query_id, "embedding": list(r.embedding)}
                    )
                    + "\n"
                )

    got: dict[int, dict] = {}

    def on_results(df, batch_id):
        got[batch_id] = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos) for r in df.collect()
        }
        if batch_id == 0:
            append_lsh_index(b, idx)  # lands BETWEEN micro-batches

    q = start_ann_queries(
        spark,
        str(qdir / "*.jsonl"),
        str(tmp_path / "ckpt"),
        idx,
        on_results,
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    assert sorted(got) == [0, 1]

    want_a = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in ann_lsh_bucketed(spark, a_dir).collect()
    }
    want_full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in ann_lsh_bucketed(spark, SF_SMOKE).collect()
    }
    batch0_qids = {qid for qid, _ in got[0]}
    batch1_qids = {qid for qid, _ in got[1]}
    assert batch0_qids and batch1_qids and not batch0_qids & batch1_qids
    assert got[0] == {k: v for k, v in want_a.items() if k[0] in batch0_qids}
    assert got[1] == {k: v for k, v in want_full.items() if k[0] in batch1_qids}

    # compact, then a fresh drain of BOTH files matches A ∪ B exactly
    compact_lsh_index(spark, idx)
    got2: dict = {}

    def on_results2(df, batch_id):
        got2.update(
            {(r.query_id, r.rank): (r.neighbor_id, r.cos) for r in df.collect()}
        )

    q = start_ann_queries(
        spark,
        str(qdir / "*.jsonl"),
        str(tmp_path / "ckpt2"),
        idx,
        on_results2,
    )
    q.awaitTermination()
    assert got2 == want_full


def test_cli_index_compact(spark, tmp_path, capsys, monkeypatch):
    from fintech_etl_spark import cli
    from fintech_etl_spark.streaming.ann import (
        append_ivf_pq_index,
        build_ivf_pq_index,
    )

    a_dir, a, b = _split(spark, tmp_path)
    monkeypatch.setattr(cli, "build_session", lambda *a, **k: spark)

    lsh = str(tmp_path / "lsh")
    build_lsh_index(spark, a_dir, lsh)
    append_lsh_index(b, lsh)
    rc = cli.main(["index-compact", "lsh", "--index", lsh])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_after"] <= out["files_before"]

    ivf = str(tmp_path / "ivf")
    build_ivf_pq_index(spark, a_dir, ivf)
    append_ivf_pq_index(spark, b, ivf)
    n_codes = _read_ivf_dataset(spark, ivf, "codes").count()
    n_vecs = _read_ivf_dataset(spark, ivf, "vectors").count()
    rc = cli.main(["index-compact", "ivf-pq", "--index", ivf])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["codes"]["files_after"] <= out["codes"]["files_before"]
    assert _read_ivf_dataset(spark, ivf, "codes").count() == n_codes
    assert _read_ivf_dataset(spark, ivf, "vectors").count() == n_vecs


def test_compaction_all_partition_columns_rejected_loudly(spark, tmp_path):
    """partition_cols covering every column can never be rewritten
    (Spark rejects all-column partitionBy writes) — the guard raises a
    descriptive ValueError up front instead of an AnalysisException
    from inside the staged rewrite."""
    p = str(tmp_path / "kv")
    seg = mf.new_segment_path(p)
    spark.createDataFrame(
        [(i % 3, i % 2, i) for i in range(24)], "k int, v int, x int"
    ).write.partitionBy("k", "v").parquet(seg)
    mf.commit(p, add={"kv": [seg]})
    with pytest.raises(ValueError, match="covers every column"):
        compact_transactional(
            spark, p, {"kv": ["k", "v", "x"]}, files_per_partition=4
        )
