"""Property tests: every rule column expression agrees with the plain-
Python oracle (tests/oracle_rules.py) on a grid of edge-case inputs —
SURVEY §5.2(3)."""

from __future__ import annotations

import datetime as dt
import itertools

from pyspark.sql import functions as F

import tests.oracle_rules as O
from fintech_etl_spark.functions import rules as R

RUN_DATE = dt.date(2024, 6, 1)

# Edge-case value pools (SURVEY §1.5 / N1 / N2)
QTYS = [None, "", "garbage", "0", "3", "2.7", "-4", "10"]
UOMS = [None, "", "nan", "CA", "BO", "EA", "oz", "12ct", "6 Pack", "Case Pack", "bottle", "zzz"]
GLS = [None, "", "BEER-100", "craft beer", "WINE 55", "SPIRITS", "NONALCOHOLIC", "nonalcohol-x", "other"]
PCS = [None, "", "MISCELLANEOUS ITEMS", "SODA"]
PACKS = [None, "", "0", "1", "4", "6", "12", "24", "5", "2.9", "junk"]
UNITS = [None, "0", "1", "6", "junk"]


def _run_batch(spark, rows, cols, exprs):
    """rows: list of dicts; exprs: dict name->Column; returns list of Rows."""
    schema = ", ".join(f"`{c}` string" for c in cols)
    df = spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema
    )
    return df.select(*[e.alias(n) for n, e in exprs.items()]).collect()


def test_calc_quantity_matches_oracle(spark):
    cases = [
        dict(q=q, uom=u, gl=g, pc=p, packs=pk, units=un)
        for q, u, g, p, pk, un in itertools.product(
            QTYS, ["CA", "BO", "6 Pack", None], GLS[:6], PCS[:2], PACKS, UNITS[:3]
        )
    ]
    # add full uom spread on a smaller grid
    cases += [
        dict(q="3", uom=u, gl=g, pc=p, packs="6", units="4")
        for u, g, p in itertools.product(UOMS, GLS, PCS)
    ]
    got = _run_batch(
        spark,
        cases,
        ["q", "uom", "gl", "pc", "packs", "units"],
        {
            "qty": R.calc_quantity("q", "uom", "gl", "pc", "packs", "units"),
            "cat": R.product_category("gl", "pc"),
            "uomn": R.norm_uom("uom"),
        },
    )
    for case, row in zip(cases, got):
        want = O.calc_quantity(
            case["q"], case["uom"], case["gl"], case["pc"], case["packs"], case["units"]
        )
        assert row.qty == want, (case, row.qty, want)
        assert row.cat == O.product_category(case["gl"], case["pc"]), case
        assert row.uomn == O.norm_uom(case["uom"]), case


def test_upc_rules_match_oracle(spark):
    vals = [None, "", "  ", "123", "00123", "12345678901234", "123456789012345", " 77 "]
    cases = [
        dict(pack=a, clean=b, case=c)
        for a, b, c in itertools.product(vals, vals, vals)
    ]
    got = _run_batch(
        spark,
        cases,
        ["pack", "clean", "case"],
        {
            "upc": R.extract_upc("pack", "clean", "case"),
            "sku": R.format_sku("case"),
        },
    )
    for case, row in zip(cases, got):
        assert row.upc == O.extract_upc(case["pack"], case["clean"], case["case"]), case
        assert row.sku == O.format_sku(case["case"]), case


def test_validate_upc(spark):
    cases = [
        dict(u=v)
        for v in ["123", "0" * 14, "0" * 15, "12a", "", " 12 ", "99999999999999"]
    ]
    got = _run_batch(spark, cases, ["u"], {"ok": R.validate_upc("u")})
    for case, row in zip(cases, got):
        s = str(case["u"]).strip()
        want = s.isdigit() and len(s) <= 14
        assert row.ok == want, case


def test_parse_invoice_date_matches_oracle(spark):
    vals = [None, "", "nan", "1/5/2024", "01/05/2024", "12/31/1999", "2024-01-05", "13/45/2020", " 2/3/2021 "]
    cases = [dict(d=v) for v in vals]
    got = _run_batch(
        spark, cases, ["d"], {"p": R.parse_invoice_date(F.col("d"), RUN_DATE)}
    )
    for case, row in zip(cases, got):
        assert row.p == O.parse_invoice_date(case["d"], RUN_DATE), case


def test_notes_matches_oracle(spark):
    vals = [None, "", "0", "0.0", "2.5", "-1.25", "8", "junk"]
    cases = [
        dict(di=a, de=b, mi=c, dl=d)
        for a, b, c, d in itertools.product(vals, vals[:4], vals[:4], vals[:3])
    ]
    got = _run_batch(
        spark,
        cases,
        ["di", "de", "mi", "dl"],
        {"n": R.notes("di", "de", "mi", "dl")},
    )
    for case, row in zip(cases, got):
        want = O.notes(case["di"], case["de"], case["mi"], case["dl"])
        assert row.n == want, (case, row.n, want)


def test_safe_int_ansi_overflow_degrades(spark):
    # ANSI cast must not raise (ADVICE r1): 3e9 > int32 but the
    # reference's Python int() handles it — long cast passes it through;
    # only the absurd >int64 tail degrades to the default.
    got = _run_batch(
        spark,
        [
            dict(v="3000000000"),
            dict(v="junk"),
            dict(v="7.9"),
            dict(v=None),
            dict(v="1e300"),
        ],
        ["v"],
        {"i": R.safe_int("v", 0.0), "p": R.packs_per_case("v")},
    )
    assert got[0].i == 3000000000  # fits long, matches reference int()
    assert got[1].i == 0 and got[1].p == 1
    assert got[2].i == 7
    assert got[3].i == 0 and got[3].p == 1
    assert got[4].i == 0  # >int64 degrades to default, no exception


def test_document_id_shapes(spark):
    df = spark.createDataFrame(
        [("g1", "INV9", "src-a"), (None, "INV9", "src-a"), ("g1", "INV9", "src-b")],
        "gid string, inv string, src string",
    )
    rows = df.select(
        R.document_id(F.col("gid"), F.col("inv"), F.col("src")).alias("d")
    ).collect()
    # the last segment is xxhash64(source file) in 16 hex digits: the
    # same file gives the same id on every run, another file another id
    assert rows[0].d == "fnt-g1-INV9-ab1230e5b8c94af6"
    # concat_ws skips the null gid (documented divergence from the
    # reference's literal 'None' rendering — ADVICE r1 low)
    assert rows[1].d == "fnt-INV9-ab1230e5b8c94af6"
    assert rows[2].d == "fnt-g1-INV9-14e0dccd6bc6828e"


def test_document_id_reference_parity_mode(spark):
    # /root/reference/stream/processor.py:24-30 f-string branches:
    # null gmail renders the literal 'None'; falsy invoice drops its
    # segment entirely (3-part form)
    df = spark.createDataFrame(
        [("g1", "INV9"), (None, "INV9"), ("g1", ""), ("g1", None)],
        "gid string, inv string",
    )
    rows = df.select(
        R.document_id(F.col("gid"), F.col("inv"), 1700000000, reference_parity=True).alias("d")
    ).collect()
    assert [r.d for r in rows] == [
        "fnt-g1-INV9-1700000000",
        "fnt-None-INV9-1700000000",
        "fnt-g1-1700000000",
        "fnt-g1-1700000000",
    ]
