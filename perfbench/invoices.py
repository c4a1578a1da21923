"""Seeded vendor-invoice CSV generator (the FIXTURES.md §A column set).

Each call to :meth:`InvoiceGenerator.batch` lands ``n_files`` CSVs in a
directory and returns what the pipeline must make of them: one
:class:`FileExpect` per file, holding the receipt ids it yields, each
receipt's transaction month and its Σ ``Extended Price``. The same seed
gives byte-identical files and identical expectations.

Edge cases carried at the rates FIXTURES.md asks for:

- ≈2% of rows have an empty ``Invoice Number``; the pipeline drops them;
- ≈5% of invoices have an empty or unparseable ``Invoice Date``; the
  pipeline falls back to the run date, so they land in its month;
- UPCs of 8–14 digits, ≈30% empty ``Pack UPC``, ``Clean UPC`` values
  shorter than 14 and longer than 14 digits;
- 1–5 invoices per file, 1–40 rows each, dates spread over six months.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random
from dataclasses import dataclass, field

HEADER = [
    "Invoice Number", "Vendor Name", "Retailer Name", "Retailer VendorID",
    "Vendor Store Number", "Retailer Store Number", "Fintech Process Date",
    "Invoice Date", "Invoice DueDate", "Invoice Amount", "Invoice Item Count",
    "Quantity", "Packs Per Case", "Units Per Pack", "Unit Of Measure",
    "GL Code", "Product Class", "Product Description", "Product Number",
    "Product Volume", "Extended Price", "Discount Adjustment Total",
    "DepositAdjustmentTotal", "Miscellaneous Adjustment Total",
    "Tax Adjustment Total", "Delivery Adjustment Total", "Pack UPC",
    "Clean UPC", "Case UPC",
]

#: Invoice dates fall in these months; month-range reads prune on them.
MONTHS = ["2025-01", "2025-02", "2025-03", "2025-04", "2025-05", "2025-06"]
#: The pipeline's injected run date: unparseable dates land in its month.
RUN_DATE = dt.date(2025, 7, 15)
RUN_TS = 1_752_537_600

VENDORS = [
    "Premium Distributors of Washington D.C., LLC",
    "Breakthru Beverage", "Southern Glazer's", "Reyes Beer Division", "",
]
RETAILERS = ["Corner Market", "City Liquors", "Harbor Grocers"]
UOMS = ["CA", "BO", "EA", "case", "bottle", "each", "12oz", "6 pack", "24ct",
        "count", "zz?", ""]
GL_CODES = ["BEER", "beer-domestic", "WINE", "Wine Red", "SPIRIT", "spirits",
            "NONALCOHOL", "nonalcohol mixers", "SUPPLIES", ""]
CLASSES = ["MISCELLANEOUS", "CRAFT", "IMPORT", "DOMESTIC", ""]
PRODUCTS = ["DAD STRENGTH IPA C24 12OZ 6P", "  HOUSE RED 750ML  ",
            "VODKA 1L", "SPARKLING WATER 12PK", "LAGER 16OZ 4P"]
VOLUMES = ["12OZ", "16OZ", "750ML", "1L", ""]
PACKS = ["0", "1", "2", "4", "6", "12", "24", "10"]
UNITS = ["0", "1", "4", "6", "12", "24"]
BAD_DATES = ["", "N/A", "TBD", "2025-13-40"]


@dataclass
class FileExpect:
    path: str
    #: receipt_id -> (transaction month 'yyyy-MM', Σ Extended Price)
    receipts: dict[str, tuple[str, float]] = field(default_factory=dict)


def _digits(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("0123456789") for _ in range(n))


def _mdy(d: dt.date, padded: bool) -> str:
    if padded:
        return f"{d.month:02d}/{d.day:02d}/{d.year}"
    return f"{d.month}/{d.day}/{d.year}"


class InvoiceGenerator:
    """Deterministic stream of invoice batches; invoice numbers are
    unique across the whole stream, so every receipt's document_id is."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self._next_invoice = 100_000_000 + (seed % 1000) * 100_000

    def _invoice_rows(self, rng: random.Random) -> tuple[str, str, list[list[str]]]:
        inv = str(self._next_invoice)
        self._next_invoice += 1
        if rng.random() < 0.05:
            date_s, month = rng.choice(BAD_DATES), RUN_DATE.strftime("%Y-%m")
        else:
            y, m = map(int, rng.choice(MONTHS).split("-"))
            d = dt.date(y, m, rng.randint(1, 28))
            date_s, month = _mdy(d, rng.random() < 0.5), f"{y}-{m:02d}"
        vendor = rng.choice(VENDORS)
        retailer = rng.choice(RETAILERS)
        n_rows = rng.randint(1, 40)
        amount = f"{rng.uniform(10, 40_000):.2f}"
        tax = rng.choice(["0", "8.25", "0.0", "3.5"])
        rows = []
        for _ in range(n_rows):
            clean_len = rng.choice([10, 11, 12, 9, 16])
            rows.append([
                "" if rng.random() < 0.02 else inv,
                vendor, retailer, _digits(rng, 6), str(rng.randint(1, 99)),
                str(rng.randint(100, 999)), "07/01/2025", date_s, "08/01/2025",
                amount, str(n_rows), str(rng.randint(0, 50)), rng.choice(PACKS),
                rng.choice(UNITS), rng.choice(UOMS), rng.choice(GL_CODES),
                rng.choice(CLASSES), rng.choice(PRODUCTS), _digits(rng, 7),
                rng.choice(VOLUMES), f"{rng.uniform(0, 2000):.2f}",
                rng.choice(["2.5", "1.25", "10"]) if rng.random() < 0.2 else "0",
                "1.2" if rng.random() < 0.1 else "0",
                "0.75" if rng.random() < 0.05 else "0",
                tax,
                "4" if rng.random() < 0.05 else "0",
                "" if rng.random() < 0.3 else _digits(rng, rng.randint(8, 14)),
                _digits(rng, clean_len),
                _digits(rng, rng.randint(12, 14)),
            ])
        return inv, month, rows

    def batch(self, out_dir: str, tag: str, n_files: int) -> list[FileExpect]:
        """Write ``n_files`` CSVs named ``{tag}_{i}.csv`` under ``out_dir``."""
        rng = self._rng
        os.makedirs(out_dir, exist_ok=True)
        out = []
        for i in range(n_files):
            path = os.path.join(out_dir, f"{tag}_{i:03d}.csv")
            exp = FileExpect(path)
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow(HEADER)
            for _ in range(rng.randint(1, 5)):
                inv, month, rows = self._invoice_rows(rng)
                w.writerows(rows)
                kept = [float(r[20]) for r in rows if r[0]]
                if kept:
                    exp.receipts[inv] = (month, sum(kept))
            with open(path, "w", encoding="utf-8", newline="") as f:
                f.write(buf.getvalue())
            out.append(exp)
        return out
