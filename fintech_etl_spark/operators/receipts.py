"""Vendor-invoice → receipt pipeline as one declarative Spark query.

The reference does this with two full ``iterrows`` passes per invoice
group plus per-row rule-method calls
(/root/reference/stream/processor.py:32-103). Here the whole dataflow is

    scan → project(line-item exprs) → filter(invoice key not null)
         → groupBy(invoice) → agg(first-in-file-order headers, sum,
           count, ordered collect_list) → project(receipt)

which Catalyst executes as partial+final hash aggregation with
whole-stage codegen — one shuffle on the invoice key, no Python in the
loop. At 100 TB the shuffle key (invoice number) is high-cardinality
and unskewed by construction (one group ≈ one invoice ≤ a few hundred
rows), so the plan scales linearly with executors.

Fidelity notes (SURVEY §2.2, §2.4):
  - pandas ``groupby`` drops NaN keys → explicit ``isNotNull`` filter.
  - pandas emits groups in ascending key order; here emission order is
    unspecified, since no commit-path consumer reads it (the lake
    write clusters by month, the webhook drain posts per partition,
    the Pub/Sub sink sorts each ordering key itself). A consumer that
    needs key order sorts for itself.
  - "first row" header extraction is file order → ``min_by(col, _row_idx)``
    over the scan-assigned row index.
  - ``total_amount`` is the first row's *Invoice Amount* field while
    ``subtotal`` is the computed Σ Extended Price — the reference's
    asymmetry (/root/reference/stream/processor.py:60-64), preserved.
"""

from __future__ import annotations

import datetime as _dt

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fintech_etl_spark.functions import rules as R
from fintech_etl_spark.sources.invoice_csv import ROW_IDX, SOURCE_PATH

INVOICE_KEY = "Invoice Number"


#: ``(gateway, Column)`` for :func:`line_item_struct`
_LINE_ITEM_MEMO: tuple[object, F.Column] | None = None


def line_item_struct() -> F.Column:
    """The 13-field LineItem struct (/root/reference/stream/schema.py:6-19)
    computed entirely from column expressions.

    The tree takes no parameters, and building it costs ~2,000 py4j
    calls, so it is built once per JVM gateway and the same Column is
    returned after that. A different ``SparkContext._gateway`` (a new
    JVM) rebuilds it: a Column is a handle into the JVM that made it."""
    global _LINE_ITEM_MEMO
    gateway = SparkContext._gateway
    if _LINE_ITEM_MEMO is None or _LINE_ITEM_MEMO[0] is not gateway:
        _LINE_ITEM_MEMO = (gateway, _build_line_item_struct())
    return _LINE_ITEM_MEMO[1]


def _build_line_item_struct() -> F.Column:
    name = R.trimmed("Product Description")
    return F.struct(
        name.alias("name"),
        R.calc_quantity(
            "Quantity",
            "Unit Of Measure",
            "GL Code",
            "Product Class",
            "Packs Per Case",
            "Units Per Pack",
        ).alias("qty"),
        R.safe_num("Extended Price").alias("price"),
        R.safe_num("Discount Adjustment Total").alias("discount"),
        R.extract_upc("Pack UPC", "Clean UPC", "Case UPC").alias("upc"),
        R.format_sku("Case UPC").alias("sku"),
        name.alias("text"),
        R.norm_uom("Unit Of Measure").alias("unitOfMeasure"),
        R.product_category("GL Code", "Product Class").alias("category"),
        R.safe_num("Tax Adjustment Total").alias("tax"),
        R.notes(
            "Discount Adjustment Total",
            "DepositAdjustmentTotal",
            "Miscellaneous Adjustment Total",
            "Delivery Adjustment Total",
        ).alias("notes"),
        R.packs_per_case("Packs Per Case").alias("packs_per_case"),
        R.units_per_pack("Units Per Pack").alias("units_per_pack"),
    )


def build_receipts(
    invoice_df: DataFrame,
    *,
    gcs_bucket: str = "",
    gcs_path: str = "",
    google_drive_url: str | None = None,
    gmail_id: str | None = None,
    run_date: _dt.date,
    run_ts: int = 0,
    processed_at: str = "",
    per_file: bool = False,
) -> DataFrame:
    """Transform a scanned invoice frame (see sources.invoice_csv) into
    one receipt row per invoice. All "now" values injected (SURVEY §4.2):
    ``run_date`` is REQUIRED — there is no ``date.today()`` fallback, so
    the same input always yields the same output. Interactive callers
    (CLI/service) inject "now" at their argument-parsing boundary.

    ``per_file=True`` adds the source path to the group key and derives
    ``source_file``/``gcs_path`` from it. Required whenever one scan
    covers many files (streaming micro-batches, backfill globs): the
    reference processes each file independently, so the same invoice
    number appearing in two files must yield two receipts, not one
    merged across files.
    """
    first = lambda c: F.min_by(c, F.col(ROW_IDX))  # first row in file order

    rows = invoice_df.filter(F.col(INVOICE_KEY).isNotNull()).select(
        F.col(INVOICE_KEY),
        F.col(ROW_IDX),
        *([F.col(SOURCE_PATH)] if per_file else []),
        line_item_struct().alias("_item"),
        F.col("Invoice Date").alias("_invoice_date"),
        F.col("Vendor Name").alias("_vendor"),
        F.col("Invoice Amount").alias("_invoice_amount"),
        F.col("Tax Adjustment Total").alias("_tax_adj"),
        R.safe_num("Extended Price").alias("_ext_price"),
    )

    group_cols = [INVOICE_KEY] + ([SOURCE_PATH] if per_file else [])
    grouped = rows.groupBy(*group_cols).agg(
        first("_vendor").alias("_vendor"),
        first("_invoice_date").alias("_invoice_date"),
        first("_invoice_amount").alias("_invoice_amount"),
        first("_tax_adj").alias("_tax_adj"),
        F.sum("_ext_price").alias("_subtotal"),
        F.count(F.lit(1)).cast("int").alias("item_count"),
        # ordered nested collect: sort by the scan row index, then strip it
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(ROW_IDX), F.col("_item")))),
            lambda x: x["_item"],
        ).alias("line_items"),
    )

    receipt_no = R.trimmed(F.col(INVOICE_KEY))
    path_col = (
        F.col(SOURCE_PATH) if per_file else F.lit(gcs_path)
    )
    return grouped.select(
        receipt_no.alias("receipt_id"),
        R.vendor_name("_vendor").alias("vendor"),
        R.parse_invoice_date(R.trimmed("_invoice_date"), run_date).alias(
            "transaction_date"
        ),
        R.invoice_amount("_invoice_amount").alias("total_amount"),
        R.safe_num("_tax_adj").alias("sales_tax"),
        F.col("_subtotal").alias("subtotal"),
        F.col("item_count"),
        F.col("line_items"),
        R.source_file(gcs_bucket, path_col, google_drive_url).alias(
            "source_file"
        ),
        F.lit(processed_at).alias("processed_at"),
        F.lit(gcs_bucket).alias("gcs_bucket"),
        path_col.alias("gcs_path"),
        R.document_id(
            F.lit(gmail_id) if gmail_id is not None else None, receipt_no, run_ts
        ).alias("document_id"),
    )


def _wire_document() -> F.Column:
    """The receipt wire document (/root/reference/stream/util.py:64-94):
    rename/reshape + date→ISO string — shared by the webhook payload
    and the Pub/Sub event projections."""
    return F.struct(
        F.col("receipt_id").alias("receiptId"),
        F.col("vendor"),
        F.date_format("transaction_date", "yyyy-MM-dd").alias("transactionDate"),
        F.col("total_amount").alias("totalAmount"),
        F.col("sales_tax").alias("salesTax"),
        F.col("subtotal"),
        F.col("item_count").alias("itemCount"),
        F.col("document_id"),
        F.col("line_items").alias("lineItems"),
        F.col("source_file"),
    )


def to_webhook_payloads(receipts: DataFrame) -> DataFrame:
    """Webhook wire projection (/root/reference/stream/util.py:64-94):
    one JSON document per receipt."""
    return receipts.select(
        F.col("document_id"),
        F.to_json(_wire_document()).alias("payload"),
    )


def to_pubsub_events(receipts: DataFrame) -> DataFrame:
    """Pub/Sub event projection for the reference's advertised
    "Processing → Pub/Sub" stage (/root/reference/README.md:66,192 —
    topic ``receipt-processing``; the reference ships NO implementing
    code, so the event reuses the webhook wire document). The ordering
    key is ``source_file`` so a downstream consumer sees each source
    file's receipts in receipt order (``receipt_id`` is the within-key
    sort the sink applies); attributes carry the ``document_id``
    idempotency key for receiver-side dedupe under at-least-once."""
    return receipts.select(
        F.col("source_file").alias("ordering_key"),
        F.col("receipt_id"),
        F.to_json(_wire_document()).alias("data"),
        F.create_map(
            F.lit("document_id"), F.col("document_id"),
            F.lit("source_file"), F.col("source_file"),
        ).alias("attributes"),
    )
