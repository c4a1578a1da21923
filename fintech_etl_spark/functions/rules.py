"""Business rules as pure Spark Column expressions (SURVEY §2.3 F1–F29).

The reference implements these as per-row Python methods on rule
classes (/root/reference/rules/*.py, /root/reference/stream/processor.py).
Here each is a factory returning a ``Column`` — Catalyst folds, prunes
and codegen's them; there is not a single Python UDF, which is the
100 TB-scale requirement.

ANSI-safe: PySpark 4 enables ANSI mode by default, so every coercion
that can fail uses ``try_cast`` / ``try_to_timestamp`` to reproduce the
reference's garbage-degrades-to-default contract
(/root/reference/rules/base.py:25-31) instead of raising.

Determinism: the reference scatters ``datetime.now()`` /
``date.today()`` (/root/reference/rules/base.py:63,68,
/root/reference/stream/processor.py:26,78); every "now" here is an
injected parameter.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# F1 / F2 — safe coercions (/root/reference/rules/base.py:25-35)
# ---------------------------------------------------------------------------


def safe_num(col: ColumnOrName, default: float = 0.0) -> Column:
    """Null-tolerant numeric read: garbage / null / NaN → ``default``."""
    d = _c(col).try_cast("double")
    return F.when(d.isNull() | F.isnan(d), F.lit(float(default))).otherwise(d)


def safe_int(col: ColumnOrName, default: float = 0.0) -> Column:
    """``int(safe_num(...))`` — truncation toward zero, like Python ``int()``.

    long, not int: the reference's Python ``int()`` is arbitrary
    precision, so large-but-valid values like ``3e9`` pass through
    rather than overflowing. ``try_cast`` keeps ANSI mode (PySpark 4
    default) from raising on the >int64 tail — those coalesce to
    ``default`` instead of crashing the job.
    """
    return F.coalesce(
        safe_num(col, default).try_cast("long"), F.lit(int(default))
    )


def norm_text(col: ColumnOrName) -> Column:
    """Trimmed upper-cased text; null → ``''``."""
    return F.upper(F.trim(F.coalesce(_c(col).cast("string"), F.lit(""))))


def trimmed(col: ColumnOrName, default: str = "") -> Column:
    """Trimmed string passthrough; null → ``default``."""
    return F.coalesce(F.trim(_c(col).cast("string")), F.lit(default))


# ---------------------------------------------------------------------------
# F3 — product categorization (/root/reference/rules/base.py:38-58)
# ---------------------------------------------------------------------------

BEER = "BEER"
WINE = "WINE"
SPIRITS = "SPIRITS"
NON_ALC = "NON-ALCOHOLIC"
MISC = "MISCELLANEOUS"

# Beer explodes by units-per-pack only for these pack sizes
# (/root/reference/rules/quantity.py:12-18; README says {12,24} but the
# code set {4,6,12,24} wins — SURVEY N1).
BEER_SPECIAL_PACKS = (4, 6, 12, 24)


def product_category(gl_code: ColumnOrName, product_class: ColumnOrName) -> Column:
    """Ordered contains-chain on normalized GL Code; NONALCOHOL defers to
    Product Class for the MISCELLANEOUS override."""
    gl = norm_text(gl_code)
    pc = norm_text(product_class)
    return (
        F.when(gl.contains("BEER"), BEER)
        .when(gl.contains("WINE"), WINE)
        .when(gl.contains("SPIRIT"), SPIRITS)
        .when(
            gl.contains("NONALCOHOL"),
            F.when(pc.contains("MISCELLANEOUS"), MISC).otherwise(NON_ALC),
        )
        .otherwise(MISC)
    )


# ---------------------------------------------------------------------------
# F4 — invoice date (/root/reference/rules/base.py:60-68)
# ---------------------------------------------------------------------------


def parse_invoice_date(col: ColumnOrName, run_date: _dt.date | Column) -> Column:
    """Strict M/d/yyyy parse (non-zero-padded accepted); empty / garbage /
    unparseable → ``run_date`` (the reference uses ``date.today()`` — we
    inject it for determinism)."""
    fallback = run_date if isinstance(run_date, Column) else F.lit(run_date)
    parsed = F.try_to_timestamp(F.trim(_c(col)), F.lit("M/d/yyyy")).cast("date")
    return F.coalesce(parsed, fallback)


# ---------------------------------------------------------------------------
# F5 — unit-of-measure normalization (/root/reference/rules/base.py:70-89)
# ---------------------------------------------------------------------------


def norm_uom(col: ColumnOrName) -> Column:
    """Ordered contains-chain over the lower-cased raw value (the reference
    does NOT trim, so ``' CA '`` misses the ``== 'ca'`` equality but a
    value containing ``case`` still matches — preserved exactly)."""
    raw = _c(col).cast("string")
    low = F.lower(raw)
    return (
        F.when(raw.isNull() | (raw == "") | (raw == "nan"), "unit")
        .when(low.contains("oz"), "oz")
        .when(low.contains("ct") | low.contains("count"), "ct")
        .when(low.contains("pack"), "pack")
        .when((low == "ca") | low.contains("case"), "case")
        .when((low == "bo") | low.contains("bottle"), "bottle")
        .when((low == "ea") | low.contains("each"), "each")
        .otherwise("unit")
    )


# ---------------------------------------------------------------------------
# F6/F7 — pack factors (/root/reference/rules/quantity.py:96-104,
# /root/reference/rules/item.py:97-99): default 1, and 0 coerces to 1
# via Python's ``or 1``.
# ---------------------------------------------------------------------------


def packs_per_case(col: ColumnOrName) -> Column:
    p = safe_int(col, 1.0)
    return F.when(p == 0, F.lit(1)).otherwise(p)


def units_per_pack(col: ColumnOrName) -> Column:
    u = safe_int(col, 1.0)
    return F.when(u == 0, F.lit(1)).otherwise(u)


# ---------------------------------------------------------------------------
# F8 — quantity explosion, the flagship rule
# (/root/reference/rules/quantity.py:20-82; precedence per SURVEY N2:
# the bottle short-circuit beats categorization, so bottled beer is
# NOT exploded).
# ---------------------------------------------------------------------------


def calc_quantity(
    quantity: ColumnOrName,
    uom: ColumnOrName,
    gl_code: ColumnOrName,
    product_class: ColumnOrName,
    packs: ColumnOrName,
    units: ColumnOrName,
) -> Column:
    qty = safe_num(quantity, 0.0)
    p = packs_per_case(packs)
    u = units_per_pack(units)
    cat = product_category(gl_code, product_class)
    # long, not int: the reference truncates via Python's arbitrary-
    # precision int(), so qty × packs × units routinely exceeds int32.
    # try_cast keeps ANSI mode from raising on the (absurd) >int64 tail —
    # those degrade to null instead of crashing the job.
    beer_exploded = F.when(
        p.isin(*BEER_SPECIAL_PACKS), (qty * p * u).try_cast("long")
    ).otherwise((qty * p).try_cast("long"))
    return (
        F.when(norm_uom(uom) == "bottle", qty.try_cast("long"))
        .when(cat == BEER, beer_exploded)
        .when(cat == WINE, (qty * p * u).try_cast("long"))
        # SPIRITS / NON-ALCOHOLIC / MISCELLANEOUS and the (unreachable)
        # fallback all share qty × packs.
        .otherwise((qty * p).try_cast("long"))
    )


# ---------------------------------------------------------------------------
# F15–F18 — UPC handling (/root/reference/rules/item.py:18-73).
# zfill(14)+[:14] ≡ Spark lpad(_, 14, '0'): pads short strings and keeps
# the first 14 chars of long ones.
# ---------------------------------------------------------------------------


def _upc14(col: ColumnOrName) -> Column:
    """Normalize one UPC field: blank/whitespace-only → null, else
    zero-pad / left-truncate to exactly 14 chars.

    Python ``zfill`` (the reference's padder) is SIGN-AWARE: a leading
    ``+``/``-`` stays in front and zeros pad after it — a bare ``lpad``
    would bury the sign mid-string on garbage like ``'-1'``. Found by
    the hypothesis property test, preserved for parity (digits-only
    inputs are unaffected).
    """
    s = F.nullif(F.trim(_c(col).cast("string")), F.lit(""))
    head = F.substring(s, 1, 1)
    signed = (head == "-") | (head == "+")
    padded = F.when(
        signed, F.concat(head, F.lpad(F.substring(s, 2, 1 << 30), 13, "0"))
    ).otherwise(F.lpad(s, 14, "0"))
    # zfill never truncates; the reference's [:14] slice truncates from
    # the LEFT end of the padded string — lpad already does that for the
    # unsigned case, the signed case needs the explicit slice.
    return F.substring(padded, 1, 14)


def extract_upc(
    pack_upc: ColumnOrName, clean_upc: ColumnOrName, case_upc: ColumnOrName
) -> Column:
    """First non-empty of Pack → Clean → Case UPC, normalized to 14."""
    return F.coalesce(_upc14(pack_upc), _upc14(clean_upc), _upc14(case_upc))


def format_sku(case_upc: ColumnOrName) -> Column:
    """SKU = normalized Case UPC only."""
    return _upc14(case_upc)


def validate_upc(col: ColumnOrName) -> Column:
    """Digits-only and ≤ 14 chars (/root/reference/rules/item.py:67-73)."""
    s = F.trim(_c(col).cast("string"))
    return s.rlike("^[0-9]+$") & (F.length(s) <= 14)


# ---------------------------------------------------------------------------
# F23 — adjustment notes (/root/reference/stream/processor.py:119-136).
# Spark double→string rendering matches Python str(float) for the
# plain-decimal range ('2.5', '8.0'), which is what the data carries.
# ---------------------------------------------------------------------------


def notes(
    discount: ColumnOrName,
    deposit: ColumnOrName,
    misc: ColumnOrName,
    delivery: ColumnOrName,
) -> Column:
    def term(label: str, col: ColumnOrName) -> Column:
        v = safe_num(col, 0.0)
        return F.when(v != 0, F.concat(F.lit(f"{label}: "), v.cast("string")))

    joined = F.concat_ws(
        "; ",
        term("Discount", discount),
        term("Deposit", deposit),
        term("Misc", misc),
        term("Delivery", delivery),
    )
    return F.nullif(joined, F.lit(""))


# ---------------------------------------------------------------------------
# F24/F25/F27/F28 — identifiers & provenance
# ---------------------------------------------------------------------------


def document_id(
    gmail_id: ColumnOrName | None,
    invoice_number: ColumnOrName,
    run_ts: int,
    reference_parity: bool = False,
) -> Column:
    """``fnt-{gmail_id}-{invoice}-{unix_seconds}``
    (/root/reference/stream/processor.py:24-30); timestamp injected.

    Default mode diverges deliberately (pinned by test): with a null
    gmail_id the reference f-string renders the literal ``'None'`` and
    with a falsy invoice it drops the segment entirely; ``concat_ws``
    instead skips null segments and keeps empty strings. The reference
    behavior is a stringification accident, not a format contract, and
    the skip-null form yields stable ids for the idempotency key.

    ``reference_parity=True`` reproduces the f-string branches
    byte-for-byte for golden-comparison against reference output:
    null gmail_id → ``'None'``, null/empty invoice → 3-part id.
    """
    gid = _c(gmail_id) if gmail_id is not None else F.lit(None).cast("string")
    if reference_parity:
        gid_str = F.coalesce(gid.cast("string"), F.lit("None"))
        inv = _c(invoice_number).cast("string")
        inv_seg = F.when(
            inv.isNotNull() & (inv != ""), F.concat(F.lit("-"), inv)
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit("fnt-"), gid_str, inv_seg, F.lit(f"-{int(run_ts)}")
        )
    return F.concat_ws(
        "-", F.lit("fnt"), gid, _c(invoice_number), F.lit(str(int(run_ts)))
    )


def landing_object_name(
    received_date: ColumnOrName, gmail_id: ColumnOrName, original_name: ColumnOrName
) -> Column:
    """``intake/{received_date}_{gmail_id}_{name with spaces→_}``
    (/root/reference/intake/handlers.py:25-28)."""
    return F.concat(
        F.lit("intake/"),
        _c(received_date),
        F.lit("_"),
        _c(gmail_id),
        F.lit("_"),
        F.regexp_replace(_c(original_name), " ", "_"),
    )


def source_file(
    gcs_bucket: str, gcs_path: ColumnOrName, google_drive_url: str | None = None
) -> Column:
    """google_drive_url if present else ``gs://{bucket}/{path}``
    (/root/reference/stream/processor.py:65)."""
    if google_drive_url:
        return F.lit(google_drive_url)
    return F.concat(F.lit(f"gs://{gcs_bucket}/"), _c(gcs_path))


# ---------------------------------------------------------------------------
# Invoice-header getters (F22) — thin named wrappers so the pipeline
# reads like the rule table in SURVEY §2.3.
# ---------------------------------------------------------------------------


def vendor_name(col: ColumnOrName) -> Column:
    return trimmed(col, "Unknown Vendor")


def invoice_amount(col: ColumnOrName) -> Column:
    return safe_num(col, 0.0)
