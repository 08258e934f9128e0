"""Full nested Receipt/Check extraction: golden parses, full->simple
fallback, enum-domain validation, items-total warnings.

Reference parity: full Receipt{Merchant, Items[], Totals, Warnings}
(ReceiptModels.cs:408-445, line items :260-290), full Check with
routing/account fields (CheckModels.cs:85-162), full->simple fallback
(OcrExtractionService.cs:51-56).
"""

from decimal import Decimal

from nolock_social_ocr_services_spark.extract.records import route_and_extract

FULL_RECEIPT_MD = (
    "# Receipt\n\nMerchant: M-1234abcd\nDate: 2024-03-07\nTotal: 120.50"
    "\nTax: 10.50\nPayment: card\nItems: 2"
    "\nAddress: 742 Main St\nPhone: 555-0199\nSubtotal: 110.00"
    "\nItem 1: I-beef x2 @ 30.00 = 60.00"
    "\nItem 2: I-cafe x1 @ 50.00 = 50.00"
)

SIMPLE_RECEIPT_MD = (
    "# Receipt\n\nMerchant: M-1234abcd\nDate: 2024-03-07\nTotal: 120.50"
    "\nTax: 10.50\nPayment: crypto\nItems: 2"
)

FULL_CHECK_MD = (
    "# Check\n\nCheck Number: 004242\nPayee: P-deadbeef\nAmount: 99.10"
    "\nBank: B-feedc0de\nSigned: yes"
    "\nDate: 2024-05-09\nRouting: 123456789\nAccount: 87654321"
    "\nAccount Type: savings\nMemo: memo-aa00"
)


# the route that fills each struct: receipts from images, checks from pdfs
_ROUTE = {"receipt_full": ("image", "image/jpeg"), "check_full": ("pdf", "application/pdf")}


def _one(spark, md: str, struct: str):
    """``struct`` of a one-row ``route_and_extract`` frame over ``md``."""
    df = spark.createDataFrame(
        [(*_ROUTE[struct], md)], "kind string, mime string, ocr_text string"
    )
    return route_and_extract(df).first()[struct]


def test_full_receipt_golden(spark):
    r = _one(spark, FULL_RECEIPT_MD, "receipt_full")
    assert r is not None
    assert r.merchant.name == "M-1234abcd"
    assert r.merchant.address == "742 Main St"
    assert r.merchant.phone == "555-0199"
    assert r.receipt_date == "2024-03-07"
    assert r.totals.subtotal == Decimal("110.000000")
    assert r.totals.tax == Decimal("10.500000")
    assert r.totals.total == Decimal("120.500000")
    assert r.payment_method == "card"
    assert r.items_count == 2
    assert len(r.items) == 2
    assert r.items[0].description == "I-beef"
    assert r.items[0].quantity == 2
    assert r.items[0].unit_price == Decimal("30.000000")
    assert r.items[0].total_price == Decimal("60.000000")
    assert r.items[1].description == "I-cafe"
    # 60 + 50 == 110 == subtotal: no warning
    assert list(r.warnings) == []


def test_full_receipt_items_total_warning(spark):
    md = FULL_RECEIPT_MD.replace("Subtotal: 110.00", "Subtotal: 109.00")
    r = _one(spark, md, "receipt_full")
    assert list(r.warnings) == ["ITEMS_TOTAL_MISMATCH"]


def test_receipt_full_requires_full_block(spark):
    assert _one(spark, SIMPLE_RECEIPT_MD, "receipt_full") is None


def test_invalid_payment_enum_is_nulled(spark):
    r = _one(
        spark,
        FULL_RECEIPT_MD.replace("Payment: card", "Payment: crypto"),
        "receipt_full",
    )
    assert r is not None and r.payment_method is None


def test_full_check_golden(spark):
    c = _one(spark, FULL_CHECK_MD, "check_full")
    assert c is not None
    assert c.check_number == "004242"
    assert c.check_date == "2024-05-09"
    assert c.payee == "P-deadbeef"
    assert c.amount == Decimal("99.100000")
    assert c.routing_number == "123456789"
    assert c.account_number == "87654321"
    assert c.account_type == "savings"
    assert c.memo == "memo-aa00"
    assert c.is_signed is True


def test_invalid_account_type_is_nulled(spark):
    c = _one(
        spark,
        FULL_CHECK_MD.replace("Account Type: savings", "Account Type: bitcoin"),
        "check_full",
    )
    assert c is not None and c.account_type is None


def test_route_full_simple_fallback(spark):
    """The router tries the full model first; rows whose text lacks the
    full block fall back to the simple model (schema_used='simple')."""
    rows = [
        ("image", "image/jpeg", FULL_RECEIPT_MD),
        ("image", "image/jpeg", SIMPLE_RECEIPT_MD),
        ("pdf", "application/pdf", FULL_CHECK_MD),
        ("image", "image/jpeg", ""),  # empty OCR -> error row
    ]
    df = spark.createDataFrame(rows, "kind string, mime string, ocr_text string")
    out = route_and_extract(df).collect()
    full_r, simple_r, full_c, empty_r = out
    assert full_r.schema_used == "full" and full_r.receipt_full is not None
    assert full_r.receipt is not None  # simple always parses too
    assert simple_r.schema_used == "simple"
    assert simple_r.receipt_full is None and simple_r.receipt is not None
    assert full_c.schema_used == "full" and full_c.check_full is not None
    assert empty_r.schema_used is None
    assert empty_r.extract_error == "empty_ocr_text"
