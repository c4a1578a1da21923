"""The benchmark's workloads. Each is a closed loop driven by one client
thread: an op starts only after the previous one returned.

A workload has four phases, called in order by ``run.py``:

- ``prepare()``  writes its seeded inputs (not part of any metric);
- ``warm(spark)`` makes one pass, the last part of set-up, and returns a
  check to run once set-up time is taken;
- ``unit(spark)`` makes one timed unit of work, called until the run's
  seconds are spent;
- ``finish(spark)`` checks the final state.

Ops record failures in :class:`Ledger`; a failed op is one that raised or
whose output check failed.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import random
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import invoices, stats, tables
from perfbench.receiver import WebhookReceiver

STAR_MIX = (
    "q1_pricing_summary",
    "q3_segment_topk_revenue",
    "q5_region_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q13_order_count_distribution",
    "q21_waiting_suppliers",
    "window_topk_per_customer",
    "window_lag_sessionize",
    "events_hourly_rollup",
    "receipt_order_rollup",
    "agg_percentiles",
)
CORPUS_MIX = (
    "dedup_minhash_lsh_dense_fast",
    "dedup_minhash_lsh_dfcap",
    "dedup_ngram_jaccard_capped",
    "dedup_semantic_semdedup_auto",
    "ann_ivf_pq_auto",
    "quality_score",
)
STAR_SF = 0.05
CORPUS_SF = 0.1


class CheckFailed(Exception):
    pass


def check(name: str, ok: bool, detail: str = "") -> None:
    """Fail the enclosing op unless ``ok``."""
    if not ok:
        raise CheckFailed(f"{name}: {detail}")


@dataclass
class Ledger:
    attempted: int = 0
    failed: int = 0
    #: units of work done in the timed window (files, queries, ops)
    work: int = 0
    #: one (op name, seconds) latency sample per timed op
    samples: list[tuple[str, float]] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def op(self, name: str, fn, *args):
        """Run one op. One that raises, or fails a :func:`check`, is
        counted failed and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except CheckFailed as exc:
            self.fail(name, str(exc))
        except Exception:  # noqa: BLE001 — the run goes on and reports it
            self.fail(name, traceback.format_exc(limit=3))
        return None

    def fail(self, name: str, detail: str) -> None:
        """Count a failure found after the op itself returned."""
        self.failed += 1
        self.errors.append(f"{name}: {detail}")


# -- shared helpers ----------------------------------------------------


def _norm(v):
    """Oracle-comparison normal form: floats to 4 dp, dates as ISO."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 4)
        return 0.0 if r == 0 else r
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def rows_digest(cols: list[str], rows: list) -> str:
    """Order-insensitive value hash of a result, columns keyed by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(json.dumps([_norm(r[i]) for i in order], default=str) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
    return h.hexdigest()[:16]


def spark_digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive value hash) computed inside Spark,
    with doubles rounded to 4 dp so float summation order cannot show."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 4)
        cols.append(c)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def run_registered(spark, tracer, specs, name: str, data_dir: str, action):
    """One registry op: build the plan, then run ``action`` on it."""
    fn = specs[name].fn
    with tracer.span(f"registry.{name}"):
        with tracer.span(f"registry.{name}.construct", "construct"):
            df = fn(spark, data_dir)
        with tracer.span(f"registry.{name}.execute", "execute"):
            return df, action(df)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- star_queries ------------------------------------------------------


class StarQueries:
    """Seeded-order passes over the read-only star tables, each query
    sunk to ``noop``; the warm pass is checked against DuckDB. One timed
    unit is one pass, so every query is timed equally often: the engine
    is still warming up, and a query's second visit is up to 40% faster
    than its first."""

    name = "star_queries"
    unit_name = "query"

    def __init__(self, work: str, seed: int, tracer, ledger: Ledger):
        self.dir = os.path.join(work, "tables")
        self.seed, self.tracer, self.ledger = seed, tracer, ledger
        self.rng = random.Random(seed)

    def open(self, stack) -> None:
        pass

    def prepare(self) -> dict:
        return tables.generate(self.dir, self.seed, STAR_SF, tables.STAR_TABLES)

    def warm(self, spark):
        from fintech_etl_spark import registry

        self.specs = registry.all_specs()
        got = {}
        for name in STAR_MIX:
            out = self.ledger.op(name, run_registered, spark, self.tracer,
                                 self.specs, name, self.dir,
                                 lambda df: (df.columns, df.collect()))
            if out is not None:
                got[name] = out[1]
        return lambda: self._check_oracle(got)

    def _check_oracle(self, got: dict) -> None:
        import duckdb

        con = duckdb.connect()
        for t in tables.STAR_TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, (cols, rows) in got.items():
            cur = con.execute(self.specs[name].oracle)
            want = rows_digest([d[0] for d in cur.description], cur.fetchall())
            if rows_digest(cols, rows) != want:
                self.ledger.fail(f"oracle {name}", f"{len(rows)} spark rows differ")
        con.close()

    def unit(self, spark) -> None:
        order = list(STAR_MIX)
        self.rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            if self.ledger.op(name, run_registered, spark, self.tracer,
                              self.specs, name, self.dir, _noop) is not None:
                self.ledger.samples.append((name, time.perf_counter() - t0))
                self.ledger.work += 1

    def finish(self, spark) -> None:
        pass

    def throughput(self, wall: float) -> float:
        return self.ledger.work / wall


# -- corpus_dedup ------------------------------------------------------


class CorpusDedup:
    """Passes of a fixed dedup / similarity op mix over a seeded corpus.
    The warm pass pins each op's (row count, value hash); every timed
    pass must reproduce them. One latency sample is one whole pass."""

    name = "corpus_dedup"
    unit_name = "op"

    def __init__(self, work: str, seed: int, tracer, ledger: Ledger):
        self.dir = os.path.join(work, "tables")
        self.seed, self.tracer, self.ledger = seed, tracer, ledger
        self.pinned: dict[str, tuple[int, int]] = {}

    def open(self, stack) -> None:
        pass

    def prepare(self) -> dict:
        return tables.generate(self.dir, self.seed, CORPUS_SF, tables.CORPUS_TABLES)

    def warm(self, spark):
        from fintech_etl_spark import registry

        self.specs = registry.all_specs()
        for name in CORPUS_MIX:
            self.ledger.op(name, self._op, spark, name)
        return lambda: None

    def _op(self, spark, name: str) -> tuple[int, int]:
        """Run one op; the first result for a name is pinned, and every
        later one must equal it."""
        _, got = run_registered(spark, self.tracer, self.specs, name,
                                self.dir, spark_digest)
        want = self.pinned.setdefault(name, got)
        check("digest", got == want and got[0] > 0, f"{got} != {want}")
        return got

    def unit(self, spark) -> None:
        t0 = time.perf_counter()
        ok = 0
        for name in CORPUS_MIX:
            if self.ledger.op(name, self._op, spark, name) is not None:
                ok += 1
        self.ledger.samples.append(("pass", time.perf_counter() - t0))
        self.ledger.work += ok

    def finish(self, spark) -> None:
        pass

    def throughput(self, wall: float) -> float:
        return self.ledger.work / wall


# -- invoice_ingest ----------------------------------------------------


class InvoiceIngest:
    """The paper's dataflow: land CSVs, build receipts, commit them to a
    transactional lake with a webhook outbox, drain the outbox to a
    loopback receiver, then read a month range back. One timed unit is
    two commits, each with its read, then a compaction: a whole unit, so
    that every run times the same mix (commits still speed up from one
    to the next). Set-up replays its own batch once. Latency samples are taken per op
    kind; a commit's runs from landed files to the drained outbox."""

    name = "invoice_ingest"
    unit_name = "file"
    files_per_step = 6
    #: commits per timed unit; the unit ends with a compaction
    compact_every = 2

    def __init__(self, work: str, seed: int, tracer, ledger: Ledger):
        self.work, self.tracer, self.ledger = work, tracer, ledger
        self.lake = os.path.join(work, "lake")
        self.gen = invoices.InvoiceGenerator(seed)
        self.months: dict[str, int] = {}
        self.subtotal = 0.0
        self.steps = 0
        self.commits = 0

    def open(self, stack) -> None:
        self.receiver = stack.enter_context(WebhookReceiver())

    def prepare(self) -> dict:
        return {"files_per_step": self.files_per_step}

    def _land(self) -> list[invoices.FileExpect]:
        tag = f"b{self.steps:04d}"
        self.steps += 1
        return self.gen.batch(os.path.join(self.work, "landing", tag), tag,
                              self.files_per_step)

    def _pipeline(self, spark, paths: list[str]) -> tuple[int, dict, dict]:
        """The calls ``cli._process`` makes for ``backfill
        --transactional-lake --webhook``, with run date and time fixed."""
        from fintech_etl_spark.operators.receipts import build_receipts, to_webhook_payloads
        from fintech_etl_spark.sinks import WebhookSink, write_receipts_parquet
        from fintech_etl_spark.sinks.receipts import drain_webhook_outbox
        from fintech_etl_spark.sources.invoice_csv import read_invoice_csv

        tr = self.tracer
        with tr.span("sources.invoice_csv.read", "construct"):
            df = read_invoice_csv(spark, paths)
        with tr.span("operators.receipts.build", "construct"):
            receipts = build_receipts(df, gcs_bucket="", run_date=invoices.RUN_DATE,
                                      run_ts=invoices.RUN_TS, per_file=True)
        with tr.span("operators.receipts.materialize", "execute"):
            receipts.persist()
            n = receipts.count()
        with tr.span("sinks.receipts.write", "execute"):
            wrote = write_receipts_parquet(receipts, self.lake, transactional=True,
                                           file_key_col="source_file",
                                           outbox=to_webhook_payloads)
        sink = WebhookSink(url=self.receiver.url,
                           ledger_path=os.path.join(self.lake, "_webhook_ledger"))
        with tr.span("sinks.receipts.drain", "execute"):
            drained = drain_webhook_outbox(spark, self.lake, sink)
        receipts.unpersist()
        return n, wrote, drained

    def _commit(self, spark, batch: list[invoices.FileExpect]) -> None:
        want = sum(len(f.receipts) for f in batch)
        files = sum(1 for f in batch if f.receipts)
        n, wrote, drained = self._pipeline(spark, [f.path for f in batch])
        published = len(wrote.get("files_published", []))
        check("receipts", n == want, f"{n} != {want}")
        check("files published", published == files, str(wrote.get("files_skipped")))
        check("drain", drained["failed"] == 0 and drained["sent"] == n, str(drained))
        for f in batch:
            for month, sub in f.receipts.values():
                self.months[month] = self.months.get(month, 0) + 1
                self.subtotal += sub
        self.commits += 1

    def _read(self, spark) -> None:
        from fintech_etl_spark.sinks import manifest as mf
        from fintech_etl_spark.sinks import read_receipts

        k = self.commits % len(invoices.MONTHS)
        lo, hi = invoices.MONTHS[k], invoices.MONTHS[min(k + 1, len(invoices.MONTHS) - 1)]
        with self.tracer.span("sinks.receipts.read", "construct"):
            df = read_receipts(spark, self.lake, months=(lo, hi))
        with self.tracer.span("sinks.receipts.read.count", "execute"):
            n = df.count()
        if self.tracer.enabled:
            self.tracer.count("sinks.manifest.segments",
                              len(mf.dataset_segments(self.lake, "receipts")))
        want = sum(c for m, c in self.months.items() if lo <= m <= hi)
        check(f"read {lo}..{hi}", n == want, f"{n} != {want}")

    def _compact(self, spark) -> None:
        from fintech_etl_spark.sinks.receipts import compact_receipts_lake

        with self.tracer.span("sinks.maintenance.compact", "execute"):
            out = compact_receipts_lake(spark, self.lake)
        self.tracer.count("sinks.maintenance.files_before", out["files_before"])
        self.tracer.count("sinks.maintenance.files_after", out["files_after"])
        want = sum(self.months.values())
        check("compacted rows", out["rows"] == want, f"{out['rows']} != {want}")

    def _replay(self, spark) -> None:
        posts = len(self.receiver.ids())
        with self.tracer.span("sinks.receipts.replay"):
            _, wrote, drained = self._pipeline(spark, [f.path for f in self.first_batch])
        # exactly-once: a replayed batch must publish none of its files
        self.tracer.count("sinks.receipts.files_published_ratio",
                          len(wrote.get("files_published", [])) / len(self.first_batch),
                          any_phase=True)
        check("replay publishes nothing",
              not wrote.get("files_published") and drained["sent"] == 0
              and len(self.receiver.ids()) == posts, f"{wrote} {drained}")

    def warm(self, spark):
        """One of each op but compaction: a commit, its read, and the
        replay of that batch, which runs the same pipeline once more."""
        self.first_batch = self._land()
        self.ledger.op("commit", self._commit, spark, self.first_batch)
        self.ledger.op("read", self._read, spark)
        self.ledger.op("replay", self._replay, spark)
        return lambda: None

    def _timed(self, kind: str, fn, *args) -> bool:
        """Run one op; keep its latency if it succeeded."""
        failed, t0 = self.ledger.failed, time.perf_counter()
        self.ledger.op(kind, fn, *args)
        if self.ledger.failed == failed:
            self.ledger.samples.append((kind, time.perf_counter() - t0))
        return self.ledger.failed == failed

    def unit(self, spark) -> None:
        for _ in range(self.compact_every):
            batch = self._land()
            if self._timed("commit", self._commit, spark, batch):
                self.ledger.work += sum(1 for f in batch if f.receipts)
            self._timed("read", self._read, spark)
        self._timed("compact", self._compact, spark)

    def finish(self, spark) -> None:
        self.ledger.op("final lake", self._check_lake, spark)

    def throughput(self, wall: float) -> float:
        """Files committed and delivered per second of a commit, its
        read and its share of a compaction, each at its median. A run
        stops after whichever op crosses its end, so work / wall would
        depend on which that was, and a single stalled op on a busy
        machine would weigh in full."""
        med = stats.per_kind_medians(self.ledger.samples)
        commits = sum(1 for kind, _ in self.ledger.samples if kind == "commit")
        cycle = med["commit"] + med["read"] + med.get("compact", 0.0) / self.compact_every
        return self.ledger.work / commits / cycle

    def _check_lake(self, spark) -> None:
        from fintech_etl_spark.sinks import read_receipts

        lake = read_receipts(spark, self.lake)
        row = lake.agg(F.count(F.lit(1)).alias("n"), F.sum("subtotal").alias("s")).first()
        want = sum(self.months.values())
        posted = self.receiver.ids()
        self.tracer.count("sinks.webhook.posts", len(posted) / self.commits, any_phase=True)
        self.tracer.count("sinks.webhook.unique_ratio",
                          len(set(posted)) / max(1, len(posted)), any_phase=True)
        check("lake receipts", row["n"] == want, f"{row['n']} != {want}")
        check("lake subtotal", abs((row["s"] or 0.0) - self.subtotal) < 5e-5,
              f"{row['s']} != {self.subtotal}")
        lake_ids = {r[0] for r in lake.select("document_id").collect()}
        check("delivered", lake_ids == set(posted),
              f"{len(lake_ids)} lake ids, {len(set(posted))} posted")


WORKLOADS = {w.name: w for w in (InvoiceIngest, StarQueries, CorpusDedup)}
