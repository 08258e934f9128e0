"""Typed field extraction: OCR/cleaned text -> Receipt / Check structs.

Re-creation of the reference's extraction stage with deterministic rule
parsing in place of the LLM call (JsonExtractionService.ExtractJson,
JsonExtractionService.cs:35-59; prompt+model call :107-145): the
reference sends text to a model and parses JSON back; we parse the
typed fields straight out of the text with **built-in** ``regexp_extract``
expressions — JVM-side, whole-stage-codegen'd, no UDF in this stage.

Schemas mirror the reference's models field-for-field:
  * simple receipt/check — ReceiptModels.cs:451-476, CheckModels.cs:168-193;
  * money is DecimalType(38,6) (reference uses C# decimal; 29-significant-
    digit fidelity tested by DataValidationTests.cs:30-110);
  * full->simple fallback (OcrExtractionService.cs:51-56) is a single-pass
    ``coalesce`` over both parse attempts (SURVEY.md §4 O9).

``clean_extracted_text`` is the T5 cleanup chain
(JsonExtractionService.CleanJsonText, :193-243): strips markdown fences
and "Here is the JSON:"-style prefixes with built-in regexp_replace.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import per_context

MONEY = T.DecimalType(38, 6)

SIMPLE_RECEIPT_SCHEMA = T.StructType(
    [
        T.StructField("merchant_name", T.StringType(), True),
        T.StructField("receipt_date", T.StringType(), True),
        T.StructField("total_amount", MONEY, True),
        T.StructField("tax_amount", MONEY, True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("items_count", T.IntegerType(), True),
    ]
)

SIMPLE_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("check_number", T.StringType(), True),
        T.StructField("check_date", T.StringType(), True),
        T.StructField("payee", T.StringType(), True),
        T.StructField("amount", MONEY, True),
        T.StructField("bank_name", T.StringType(), True),
        T.StructField("is_signed", T.BooleanType(), True),
    ]
)

# Full nested models, mirroring the reference's primary extraction
# contract: Receipt{Merchant: MerchantInfo, Items: List<ReceiptLineItem>,
# Totals, Warnings} (ReceiptModels.cs:408-445, line items :260-290) and
# Check with bank/account/routing fields (CheckModels.cs:85-162).

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("description", T.StringType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("unit_price", MONEY, True),
        T.StructField("total_price", MONEY, True),
    ]
)

FULL_RECEIPT_SCHEMA = T.StructType(
    [
        T.StructField(
            "merchant",
            T.StructType(
                [
                    T.StructField("name", T.StringType(), True),
                    T.StructField("address", T.StringType(), True),
                    T.StructField("phone", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("receipt_date", T.StringType(), True),
        T.StructField(
            "totals",
            T.StructType(
                [
                    T.StructField("subtotal", MONEY, True),
                    T.StructField("tax", MONEY, True),
                    T.StructField("total", MONEY, True),
                ]
            ),
            True,
        ),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("items", T.ArrayType(ITEM_SCHEMA), True),
        T.StructField("items_count", T.IntegerType(), True),
        T.StructField("warnings", T.ArrayType(T.StringType()), True),
    ]
)

FULL_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("check_number", T.StringType(), True),
        T.StructField("check_date", T.StringType(), True),
        T.StructField("payee", T.StringType(), True),
        T.StructField("amount", MONEY, True),
        T.StructField("bank_name", T.StringType(), True),
        T.StructField("routing_number", T.StringType(), True),
        T.StructField("account_number", T.StringType(), True),
        T.StructField("account_type", T.StringType(), True),
        T.StructField("memo", T.StringType(), True),
        T.StructField("is_signed", T.BooleanType(), True),
    ]
)

ACCOUNT_TYPE_DOMAIN = ("checking", "savings")


def clean_extracted_text(col: Column) -> Column:
    """T5: strip ``` fences / json hints / chatty prefixes (CleanJsonText)."""
    c = F.regexp_replace(col, r"(?s)^\s*```(?:json|markdown)?\s*", "")
    c = F.regexp_replace(c, r"(?s)\s*```\s*$", "")
    c = F.regexp_replace(
        c, r"(?is)^\s*here\s+is\s+the\s+(?:extracted\s+)?(?:json|data)\s*:?\s*", ""
    )
    return F.trim(c)


def _field(text: Column, label: str) -> Column:
    """'Label: value' line -> value; '' (no match) -> NULL."""
    return F.nullif(
        F.regexp_extract(text, rf"(?m)^{label}:\s*(.+?)\s*$", 1), F.lit("")
    )


def _receipt_fields(text: Column) -> dict[str, Column]:
    """Every raw field either receipt schema consumes, extracted once.

    try_cast everywhere a parsed string becomes a number: under ANSI
    (Spark 4 default) a plain cast THROWS on malformed text and one bad
    row aborts the job; try_cast -> NULL -> the required-field gate
    marks the record unparsed instead (errors stay data, ST6).
    """
    return {
        "merchant": _field(text, "Merchant"),
        "date": _field(text, "Date"),
        "total": _field(text, "Total").try_cast(MONEY),
        "tax": _field(text, "Tax").try_cast(MONEY),
        "payment": F.nullif(
            F.regexp_extract(text, r"(?m)^Payment:\s*(cash|card|check)\s*$", 1),
            F.lit(""),
        ),
        "items_count": _field(text, "Items").try_cast("int"),
        "address": _field(text, "Address"),
        "phone": _field(text, "Phone"),
        "subtotal": _field(text, "Subtotal").try_cast(MONEY),
        "items": parse_items(text),
    }


def _check_fields(text: Column) -> dict[str, Column]:
    """Every raw field either check schema consumes, extracted once."""
    return {
        "number": _field(text, "Check Number"),
        "date": _field(text, "Date"),
        "payee": _field(text, "Payee"),
        "amount": _field(text, "Amount").try_cast(MONEY),
        "bank": _field(text, "Bank"),
        "signed": _field(text, "Signed"),
        "routing": _field(text, "Routing"),
        "account": _field(text, "Account"),
        "acct_type": _field(text, "Account Type"),
        "memo": _field(text, "Memo"),
    }


def _receipt_simple_from(f: dict[str, Column]) -> Column:
    struct = F.struct(
        f["merchant"].alias("merchant_name"),
        f["date"].alias("receipt_date"),
        f["total"].alias("total_amount"),
        f["tax"].alias("tax_amount"),
        f["payment"].alias("payment_method"),
        f["items_count"].alias("items_count"),
    )
    ok = f["merchant"].isNotNull() & f["date"].isNotNull() & f["total"].isNotNull()
    return F.when(ok, struct).otherwise(F.lit(None).cast(SIMPLE_RECEIPT_SCHEMA))


def _check_simple_from(f: dict[str, Column]) -> Column:
    struct = F.struct(
        f["number"].alias("check_number"),
        f["date"].alias("check_date"),
        f["payee"].alias("payee"),
        f["amount"].alias("amount"),
        f["bank"].alias("bank_name"),
        F.when(f["signed"].isNull(), F.lit(None).cast("boolean"))
        .otherwise(f["signed"] == "yes")
        .alias("is_signed"),
    )
    ok = f["number"].isNotNull() & f["payee"].isNotNull() & f["amount"].isNotNull()
    return F.when(ok, struct).otherwise(F.lit(None).cast(SIMPLE_CHECK_SCHEMA))


def parse_receipt(text: Column) -> Column:
    """Receipt struct from markdown text; NULL unless required fields
    (merchant, date, total — the 'simple schema' contract) all parse."""
    return _receipt_simple_from(_receipt_fields(text))


def parse_check(text: Column) -> Column:
    return _check_simple_from(_check_fields(text))


_ITEM_LINE_RE = r"(?m)^Item \d+: (I-[0-9a-f]{4} x\d+ @ \d+\.\d{2} = \d+\.\d{2})$"


def parse_items(text: Column) -> Column:
    """``Item N: I-xxxx xQ @ U.UU = T.TT`` lines -> array<struct> of line
    items (Receipt.Items, ReceiptModels.cs:260-290). Pure built-ins:
    regexp_extract_all for the lines, transform + regexp_extract per
    field — stays in whole-stage codegen."""
    lines = F.regexp_extract_all(text, F.lit(_ITEM_LINE_RE), F.lit(1))
    return F.transform(
        lines,
        lambda l: F.struct(
            F.regexp_extract(l, r"^(I-[0-9a-f]{4})", 1).alias("description"),
            F.regexp_extract(l, r" x(\d+) @", 1).try_cast("int").alias("quantity"),
            F.regexp_extract(l, r"@ (\d+\.\d{2}) =", 1)
            .try_cast(MONEY)
            .alias("unit_price"),
            F.regexp_extract(l, r"= (\d+\.\d{2})$", 1)
            .try_cast(MONEY)
            .alias("total_price"),
        ),
    )


def _receipt_full_from(f: dict[str, Column]) -> Column:
    # totals-consistency warning (the reference surfaces validation
    # warnings on the model, ReceiptModels.cs:441-445): integer-cents
    # comparison, exact in both engines.
    items = f["items"]
    items_cents = F.aggregate(
        items,
        F.lit(0).cast("long"),
        lambda acc, it: acc + (it["total_price"] * 100).cast("long"),
    )
    warnings = F.when(
        items_cents != (f["subtotal"] * 100).cast("long"),
        F.array(F.lit("ITEMS_TOTAL_MISMATCH")),
    ).otherwise(F.array().cast("array<string>"))
    struct = F.struct(
        F.struct(
            f["merchant"].alias("name"),
            f["address"].alias("address"),
            f["phone"].alias("phone"),
        ).alias("merchant"),
        f["date"].alias("receipt_date"),
        F.struct(
            f["subtotal"].alias("subtotal"),
            f["tax"].alias("tax"),
            f["total"].alias("total"),
        ).alias("totals"),
        f["payment"].alias("payment_method"),
        items.alias("items"),
        f["items_count"].alias("items_count"),
        warnings.alias("warnings"),
    )
    ok = (
        f["merchant"].isNotNull()
        & f["date"].isNotNull()
        & f["total"].isNotNull()
        & f["address"].isNotNull()
        & f["subtotal"].isNotNull()
        & (F.size(items) >= 1)
    )
    return F.when(ok, struct).otherwise(F.lit(None).cast(FULL_RECEIPT_SCHEMA))


def _check_full_from(f: dict[str, Column]) -> Column:
    struct = F.struct(
        f["number"].alias("check_number"),
        f["date"].alias("check_date"),
        f["payee"].alias("payee"),
        f["amount"].alias("amount"),
        f["bank"].alias("bank_name"),
        f["routing"].alias("routing_number"),
        f["account"].alias("account_number"),
        F.when(f["acct_type"].isin(*ACCOUNT_TYPE_DOMAIN), f["acct_type"]).alias(
            "account_type"
        ),
        f["memo"].alias("memo"),
        F.when(f["signed"].isNull(), F.lit(None).cast("boolean"))
        .otherwise(f["signed"] == "yes")
        .alias("is_signed"),
    )
    ok = (
        f["number"].isNotNull()
        & f["payee"].isNotNull()
        & f["amount"].isNotNull()
        & f["routing"].isNotNull()
        & f["account"].isNotNull()
    )
    return F.when(ok, struct).otherwise(F.lit(None).cast(FULL_CHECK_SCHEMA))


def route_and_extract(
    df: DataFrame,
    text_col: str = "ocr_text",
    mime_col: str = "mime",
    kind_col: str = "kind",
) -> DataFrame:
    """T8 document-type router, single pass (no re-scan per branch):

      * image/* spans  -> receipt extraction (receipts endpoint semantics,
        Program.cs:79-88)
      * application/pdf -> check extraction (Program.cs:91-100)
      * blank OCR text  -> error sentinel (empty-text guard,
        OcrRequestHandler.cs:53-56,169-179) — rows become data, never
        failures (ST6)

    Adds: ``receipt`` / ``check`` simple structs, ``receipt_full`` /
    ``check_full`` nested structs (the reference's primary contract),
    ``schema_used`` ('full' when the full model parsed, 'simple' when
    only the simple one did — the full->simple fallback, O9),
    ``extract_error``, ``confidence`` (OcrExtractionService.cs:231-241).
    """
    levels, hidden = _route_exprs(text_col, mime_col, kind_col)
    for level in levels:
        df = df.withColumns(level)
    return df.drop(*hidden)


@per_context
def _route_exprs(
    text_col: str, mime_col: str, kind_col: str
) -> tuple[tuple[dict[str, Column], ...], tuple[str, ...]]:
    """:func:`route_and_extract`'s projections, in order, and the hidden
    columns it drops at the end. Each level reads only the columns of
    the levels before it, and each stays its own projection: see the
    comments for why the first two must."""
    # Materialize the T5 cleanup chain ONCE as its own projected column:
    # Catalyst does not CSE a deterministic expression across the many
    # per-field regexp_extracts that consume it, so inlining `text` here
    # re-ran the 3-regex cleanup per extracted field (~6x per schema,
    # visible as ~300 regexp_replace nodes in the r2 pipeline plan).
    # CollapseProject keeps this projection separate because the alias is
    # non-cheap and multiply referenced, so the chain runs once per row.
    _clean = "__cleaned_text"
    cleaned = {_clean: clean_extracted_text(F.col(text_col))}
    text = F.col(_clean)
    mime = F.col(mime_col)
    kind = F.col(kind_col)
    is_media = kind.isin("image", "pdf")
    empty_text = is_media & (F.coalesce(F.trim(F.col(text_col)), F.lit("")) == "")

    # Materialize every RAW FIELD once, masked to NULL off its route (the
    # simple and full parsers share most fields; inlining both parses ran
    # each shared regexp_extract twice per media row, 'Signed' four
    # times). Masked hidden columns keep the lazy when() guard — text/html
    # rows run zero extraction regexes — while the simple/full structs and
    # their ok-gates below read the same materialized column. A masked-off
    # row yields all-NULL fields, fails every required-field gate, and
    # produces the same NULL struct the outer when() used to.
    rfields = _receipt_fields(text)
    cfields = _check_fields(text)
    is_receipt_row = mime.startswith("image/") & ~empty_text
    is_check_row = (mime == "application/pdf") & ~empty_text
    hidden = {f"__rf_{k}": F.when(is_receipt_row, v) for k, v in rfields.items()}
    hidden |= {f"__cf_{k}": F.when(is_check_row, v) for k, v in cfields.items()}
    rf = {k: F.col(f"__rf_{k}") for k in rfields}
    cf = {k: F.col(f"__cf_{k}") for k in cfields}

    structs = {
        "receipt": _receipt_simple_from(rf),
        "check": _check_simple_from(cf),
        "receipt_full": _receipt_full_from(rf),
        "check_full": _check_full_from(cf),
    }
    parsed = F.col("receipt").isNotNull() | F.col("check").isNotNull()
    outcome = {
        "schema_used": F.when(
            F.col("receipt_full").isNotNull() | F.col("check_full").isNotNull(),
            F.lit("full"),
        ).when(parsed, F.lit("simple")),
        "extract_error": F.when(empty_text, F.lit("empty_ocr_text")).otherwise(
            F.lit(None).cast("string")
        ),
        # confidence: 0.8 for a parsed simple model, 0.5 unknown/unparsed
        # (OcrExtractionService.cs:231-241; OcrConfiguration.cs:36).
        "confidence": F.when(parsed, F.lit(0.8)).otherwise(
            F.when(is_media & ~empty_text, F.lit(0.5)).otherwise(
                F.lit(None).cast("double")
            )
        ),
    }
    return (cleaned, hidden, structs, outcome), (_clean, *hidden)
