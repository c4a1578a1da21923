"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import urllib.request

import pyarrow.parquet as pq
import pytest

from perfbench import invoices, metrics, stats, tables
from perfbench.receiver import WebhookReceiver
from perfbench.workloads import WORKLOADS, rows_digest

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _read_tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for n in files:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_invoice_generator_is_deterministic(tmp_path):
    runs = []
    for k in ("a", "b"):
        gen = invoices.InvoiceGenerator(7)
        exp = gen.batch(str(tmp_path / k / "b0"), "b0", 5) + gen.batch(str(tmp_path / k / "b1"), "b1", 5)
        runs.append(([(os.path.basename(e.path), e.receipts) for e in exp],
                     _read_tree(str(tmp_path / k))))
    assert runs[0] == runs[1]
    other = invoices.InvoiceGenerator(8).batch(str(tmp_path / "c"), "b0", 5)
    assert [e.receipts for e in other] != [r for _, r in runs[0][0][:5]]


def test_invoice_generator_follows_fixture_spec(tmp_path):
    import csv

    exp = invoices.InvoiceGenerator(3).batch(str(tmp_path), "b", 200)
    rows, per_file, invoice_ids = [], [], set()
    for e in exp:
        with open(e.path, newline="") as f:
            reader = csv.reader(f)
            assert next(reader) == invoices.HEADER
            body = list(reader)
        rows += body
        per_file.append(len({r[0] for r in body if r[0]}))
        invoice_ids |= set(e.receipts)
    assert "DepositAdjustmentTotal" in invoices.HEADER
    null_share = sum(1 for r in rows if not r[0]) / len(rows)
    assert 0.01 < null_share < 0.03
    assert max(per_file) <= 5
    months = [m for e in exp for m, _ in e.receipts.values()]
    run_month = invoices.RUN_DATE.strftime("%Y-%m")
    assert 0.02 < months.count(run_month) / len(months) < 0.09
    assert set(months) - {run_month} == set(invoices.MONTHS)
    clean = {len(r[27]) for r in rows}
    assert min(clean) < 14 < max(clean)
    # invoice numbers never repeat, so neither do document ids
    assert len(invoice_ids) == sum(len(e.receipts) for e in exp)


def test_expected_subtotals_drop_null_keyed_rows(tmp_path):
    import csv

    for e in invoices.InvoiceGenerator(5).batch(str(tmp_path), "b", 20):
        with open(e.path, newline="") as f:
            body = list(csv.reader(f))[1:]
        for inv, (_, subtotal) in e.receipts.items():
            assert subtotal == pytest.approx(sum(float(r[20]) for r in body if r[0] == inv))


def test_table_generator_is_deterministic(tmp_path):
    a = tables.generate(str(tmp_path / "a"), 11, 0.002, tables.STAR_TABLES + tables.CORPUS_TABLES)
    b = tables.generate(str(tmp_path / "b"), 11, 0.002, tables.STAR_TABLES + tables.CORPUS_TABLES)
    assert a == b and set(a) == set(tables.STAR_TABLES + tables.CORPUS_TABLES)
    for t in a:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    tables.generate(str(tmp_path / "c"), 12, 0.002, ("orders",))
    assert not pq.read_table(tmp_path / "a" / "orders.parquet").equals(
        pq.read_table(tmp_path / "c" / "orders.parquet"))


@pytest.mark.parametrize("n,want", [(10, None), (20, None), (25, 60), (40, 75),
                                    (100, 90), (1000, 99)])
def test_tail_percentile_rule(n, want):
    assert stats.tail_percentile(n) == want


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(21, 400):
        q = stats.tail_percentile(n)
        assert n * (100 - q) / 100 >= stats.TAIL_BEYOND
        assert n * (100 - (q + 1)) / 100 < stats.TAIL_BEYOND


def test_summarize_weighs_op_kinds_alike():
    samples = [("a", 1.0), ("a", 3.0), ("b", 4.0), ("c", 16.0), ("c", 16.0), ("c", 90.0)]
    got = stats.summarize(samples)
    assert got["typical"] == pytest.approx((2 * 4 * 16) ** (1 / 3))
    assert got["p50"] == 10.0
    assert got["n"] == 6 and "tail" not in got
    many = stats.summarize([("x", float(i)) for i in range(1, 101)])
    assert many["tail_pct"] == 90 and many["tail"] == pytest.approx(90.1)


def test_rows_digest_ignores_row_and_column_order():
    a = rows_digest(["x", "y"], [(1, 2.00001), (3, 4.0)])
    b = rows_digest(["y", "x"], [(4.0, 3), (2.000012, 1)])
    assert a == b
    assert a != rows_digest(["x", "y"], [(1, 2.1), (3, 4.0)])


def test_metric_names_and_counts():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    assert 1 <= len(metrics.END_TO_END) <= 16
    assert 1 <= len(metrics.PER_LAYER) <= 128
    units = [v[0] for v in list(metrics.END_TO_END.values()) + list(metrics.PER_LAYER.values())]
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", u) for u in units)
    assert "setup_s" in metrics.END_TO_END


def test_benchmark_json_matches_the_runner():
    with open(BENCHMARK_JSON) as f:
        doc = json.load(f)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in doc["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_receiver_records_document_ids():
    with WebhookReceiver() as rx:
        for doc in ("d1", "d2", "d1"):
            req = urllib.request.Request(rx.url, data=json.dumps({"document_id": doc}).encode(),
                                         method="POST")
            with urllib.request.urlopen(req, timeout=5) as resp:
                assert resp.status == 200
        assert rx.ids() == ["d1", "d2", "d1"]
