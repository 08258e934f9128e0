"""Deterministic synthetic OCR: media payload -> ordered markdown pages.

Architectural stand-in for the reference's external OCR call
(MistralOcrApiService.SendRequestAsync, MistralOcrApiService.cs:127-192):
a scalar Arrow UDF, exactly where a real engine would put the network
call — batches arrive via Arrow, results leave via Arrow, no per-row
Python beyond one f-string per markdown. The OCR text is a pure
function of ``md5(media_ref)`` (computed JVM-side with the built-in
``md5`` before the UDF), so goldens are stable, the pipeline has zero
network dependencies, and the DuckDB oracle can recompute every field.

Output shape mirrors the reference's page model
(OcrPageObject {index, markdown}, OcrModels.cs:131-144): an array of
(index, markdown) structs **emitted in reversed order** so the
downstream order-by-index concat (T3, MistralOcrApiService.cs:164 —
``concat_pages`` here) is genuinely exercised. Unknown media
(octet-stream) yields zero pages -> empty text, hitting the empty-OCR
guard (OcrRequestHandler.cs:53-56).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import per_context
from ..trie import OCTET_STREAM

OCR_MODEL = "synth-ocr-v1"

PAGE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("index", T.IntegerType(), False),
            T.StructField("markdown", T.StringType(), True),
        ]
    )
)

_H = "__ocr_h"  # internal md5 column, computed JVM-side


# -- shared deterministic rules (python + sql forms) -------------------------
#
# h      = md5(media_ref)                       (32 hex chars)
# digits = first 20 of (strip non-digits from h, right-padded with '0')
#
# receipt (mime image/*):          check (mime application/pdf):
#   merchant = 'M-' + h[0:8]         number = digits[0:6]
#   mm = 1 + int(digits[0:2]) % 12   payee  = 'P-' + h[8:16]
#   dd = 1 + int(digits[2:4]) % 28   amount = money(digits[6:12])
#   total = money(digits[4:10])      bank   = 'B-' + h[16:24]
#   tax   = money(digits[10:14])     signed = int(digits[12]) % 2 == 1
#   payment = cycle[int(digits[14]) % 3]
#   items   = 1 + int(digits[15]) % 9
# n_pages  = 1 + int(digits[16]) % 3; appendix page p: 'Page {p} appendix {h[24:28]}'
# money(c) = int(c) rendered as dollars.cents with no float math

PAYMENT_CYCLE = ("cash", "card", "check")
ACCOUNT_TYPE_CYCLE = ("checking", "savings")

# Full-schema block selector: d19 = int(digits[19]); d19 % 4 == 0 emits
# ONLY the simple fields (no Address/Subtotal/Items for receipts, no
# Routing/Account for checks) so the full->simple fallback
# (OcrExtractionService.cs:51-56) has real rows to fall back ON;
# d19 % 4 == 1 emits the full block but with an out-of-domain enum value
# (Payment: crypto / Account Type: bitcoin) so enum validation has real
# rows to quarantine (ReceiptModels.cs:11-192, CheckModels.cs:11-57).
INVALID_PAYMENT = "crypto"
INVALID_ACCOUNT_TYPE = "bitcoin"


def _money(c: int) -> str:
    """int cents -> 'dollars.cc' with no float math (== str(c).zfill(3)
    split before the last two digits, the reference's money rendering)."""
    return f"{c // 100}.{c % 100:02d}"


def _digit_matrix(h: np.ndarray) -> np.ndarray:
    """(n, 20) uint8: each md5 hex string's digits in order, right-padded
    with 0. A stable argsort of 'is not a digit' moves each row's digits
    to its front without reordering them."""
    b = np.frombuffer("".join(h).encode("ascii"), dtype=np.uint8).reshape(-1, 32)
    not_digit = (b < 48) | (b > 57)
    b = np.take_along_axis(b, np.argsort(not_digit, axis=1, kind="stable"), axis=1)
    b[np.arange(32) >= 32 - not_digit.sum(axis=1)[:, None]] = ord("0")
    return b[:, :20] - ord("0")


_P6 = np.array([100000, 10000, 1000, 100, 10, 1], dtype=np.int64)


def receipt_markdown(h: np.ndarray, dig: np.ndarray) -> list[str]:
    """Receipt markdown of md5 strings ``h`` with digit matrix ``dig``:
    one f-string per row over int fields computed once per batch, ~8x
    cheaper than whole-series pandas string ops and byte-identical to the
    independent oracle (tests/pandas_oracle.py:_ocr_text).
    """
    d = dig.astype(np.int64)  # uint8 arithmetic would wrap (e.g. *100)
    # .tolist() once: indexing a Python list of ints in the row loop is
    # ~3x cheaper than pulling np.int64 scalars out per row
    mm = (1 + (d[:, 0] * 10 + d[:, 1]) % 12).tolist()
    dd = (1 + (d[:, 2] * 10 + d[:, 3]) % 28).tolist()
    total_c = (d[:, 4:10] @ _P6).tolist()
    tax_c = (d[:, 10:14] @ _P6[2:]).tolist()
    mode = (d[:, 19] % 4).tolist()
    pay_i = (d[:, 14] % 3).tolist()
    n_items = (1 + d[:, 15] % 9).tolist()
    addr = (100 + (d[:, 2] * 100 + d[:, 3] * 10 + d[:, 4]) % 900).tolist()
    sub_c = np.maximum(d[:, 4:10] @ _P6 - (d[:, 10:14] @ _P6[2:]), 0).tolist()
    d0_2 = (d[:, 0] * 10 + d[:, 1]).tolist()
    d4_8 = (d[:, 4:8] @ _P6[2:]).tolist()
    phone = _digit_str(dig[:, 6:10]).tolist()
    out = []
    for r in range(len(h)):
        hx = h[r]
        m = mode[r]
        pay = INVALID_PAYMENT if m == 1 else PAYMENT_CYCLE[pay_i[r]]
        ni = n_items[r]
        md = (
            f"# Receipt\n\nMerchant: M-{hx[0:8]}"
            f"\nDate: 2024-{mm[r]:02d}-{dd[r]:02d}"
            f"\nTotal: {_money(total_c[r])}\nTax: {_money(tax_c[r])}"
            f"\nPayment: {pay}\nItems: {ni}"
        )
        if m != 0:
            md += (
                f"\nAddress: {addr[r]} Main St\nPhone: 555-{phone[r]}"
                f"\nSubtotal: {_money(sub_c[r])}"
            )
            a, b = d0_2[r], d4_8[r]
            for i in range(1, ni + 1):
                qty = 1 + (a + 3 * i) % 9
                unit = 100 + (b + 137 * i) % 9900
                s = (2 * i) % 24
                md += (
                    f"\nItem {i}: I-{hx[s:s + 4]} x{qty}"
                    f" @ {_money(unit)} = {_money(qty * unit)}"
                )
        out.append(md)
    return out


def check_markdown(h: np.ndarray, dig: np.ndarray) -> list[str]:
    """Check markdown, built like :func:`receipt_markdown`."""
    d = dig.astype(np.int64)  # uint8 arithmetic would wrap
    amount_c = (d[:, 6:12] @ _P6).tolist()
    signed = (d[:, 12] % 2).tolist()
    mode = (d[:, 19] % 4).tolist()
    mm = (1 + (d[:, 13] * 10 + d[:, 14]) % 12).tolist()
    dd = (1 + (d[:, 14] * 10 + d[:, 15]) % 28).tolist()
    acct_i = (d[:, 15] % 2).tolist()
    number = _digit_str(dig[:, 0:6]).tolist()
    routing = _digit_str(dig[:, 0:9]).tolist()
    account = _digit_str(dig[:, 10:18]).tolist()
    out = []
    for r in range(len(h)):
        hx = h[r]
        m = mode[r]
        md = (
            f"# Check\n\nCheck Number: {number[r]}\nPayee: P-{hx[8:16]}"
            f"\nAmount: {_money(amount_c[r])}\nBank: B-{hx[16:24]}"
            f"\nSigned: {'yes' if signed[r] else 'no'}"
        )
        if m != 0:
            acct = INVALID_ACCOUNT_TYPE if m == 1 else ACCOUNT_TYPE_CYCLE[acct_i[r]]
            md += (
                f"\nDate: 2024-{mm[r]:02d}-{dd[r]:02d}"
                f"\nRouting: {routing[r]}\nAccount: {account[r]}"
                f"\nAccount Type: {acct}\nMemo: memo-{hx[28:32]}"
            )
        out.append(md)
    return out


def _digit_str(cols: np.ndarray) -> np.ndarray:
    """(n, k) uint8 digit values -> array of k-char strings."""
    k = cols.shape[1]
    return np.frombuffer(
        np.ascontiguousarray(cols + ord("0")).tobytes(), dtype=f"S{k}"
    ).astype(f"U{k}")


OCR_RESULT_SCHEMA = T.StructType(
    [
        # flat page markdowns: the UDF ships plain strings; the nested
        # array<struct> page model is assembled JVM-side in run_ocr
        # (building per-row lists of dicts in Python and converting them
        # to Arrow nested arrays costs more than the OCR itself).
        T.StructField("main_md", T.StringType(), True),
        T.StructField("app1_md", T.StringType(), True),
        T.StructField("app2_md", T.StringType(), True),
        T.StructField("npages", T.IntegerType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("tokens", T.IntegerType(), True),
    ]
)


def _ocr_batch(h: pd.Series, mime: pd.Series) -> pd.DataFrame:
    """One Arrow batch of synthetic OCR over ``h`` = md5(media_ref), NULL
    on non-media rows, and ``mime``; FLAT columns (OCR_RESULT_SCHEMA).
    Rows with an md5 and an image/* (receipt) or pdf (check) mime render
    from one digit matrix; another media row gets npages 0 and NULLs
    (MistralOcrResult.Empty, MistralOcrResult.cs:11), a non-media row
    NULL in every column."""
    has_h = h.notna().to_numpy()
    m = mime.astype("string")
    is_receipt = has_h & m.str.startswith("image/").fillna(False).to_numpy(bool)
    is_check = has_h & (m == "application/pdf").fillna(False).to_numpy(bool)
    known = is_receipt | is_check
    hk = h.to_numpy(dtype=object)[known]
    dig = _digit_matrix(hk)
    rec = is_receipt[known]
    at = np.flatnonzero(known)
    main, app1, app2 = np.full((3, len(h)), None, dtype=object)
    main[at[rec]] = receipt_markdown(hk[rec], dig[rec])
    main[at[~rec]] = check_markdown(hk[~rec], dig[~rec])
    app1[at] = [f"Page 1 appendix {hx[24:28]}" for hx in hk]
    app2[at] = [f"Page 2 appendix {hx[24:28]}" for hx in hk]
    npages, tokens = np.zeros((2, len(h)), dtype=np.int32)
    npages[at] = 1 + dig[:, 16] % 3
    tokens[at] = 100 + dig[:, 17:19] @ _P6[4:]
    return pd.DataFrame(
        {
            "main_md": main, "app1_md": app1, "app2_md": app2,
            "npages": pd.arrays.IntegerArray(npages, ~has_h),
            "model": np.where(known, OCR_MODEL, None),
            "tokens": pd.arrays.IntegerArray(tokens, ~known),
        }
    )


@F.pandas_udf(OCR_RESULT_SCHEMA)
def _ocr_udf(h: pd.Series, mime: pd.Series) -> pd.DataFrame:
    return _ocr_batch(h, mime)


# Semantically the UDF IS deterministic (pure hash of its inputs), but
# marking it nondeterministic stops Catalyst from inlining it into
# success filters (`receipt.isNotNull()`) and pushing the copy below the
# salted exchange — which materialized as TWO ArrowEvalPython stages and
# ran the (expensive-in-real-life) OCR twice per media row. With the
# flag, the filter stays above the single OCR projection.
# Pinned by tests/test_plans.py::test_filtered_extract_single_ocr_stage.
_ocr_udf = _ocr_udf.asNondeterministic()


def run_ocr(
    df: DataFrame, media_ref_col: str = "media_ref", mime_col: str = "mime"
) -> DataFrame:
    """Append ``ocr_pages`` (unordered page structs), ``ocr_model``,
    ``ocr_tokens`` to rows with a media payload; non-media rows get NULLs.

    Scale design: a *scalar* Arrow-vectorized struct UDF over just
    ``(md5(media_ref), mime)`` — unlike mapInPandas, only those two thin
    columns cross the JVM->Python boundary (never the span text), and
    non-media rows contribute NULLs, which Arrow encodes for free. The
    md5 is computed JVM-side with the built-in. The UDF returns FLAT
    page markdowns; the reference-shaped ``array<struct<index,markdown>>``
    (OcrPageObject, OcrModels.cs:131-144) is assembled here with
    codegen'd ``array``/``slice`` — pages highest-index-first, so the
    downstream order-by-index concat (T3) is genuinely exercised.
    """
    res, fields = _ocr_exprs(media_ref_col, mime_col)
    # two projections: the UDF result, then the page fields read out of
    # it in its place
    return df.withColumn(_H, res).select(*df.columns, *fields)


@per_context
def _ocr_exprs(media_ref_col: str, mime_col: str) -> tuple[Column, tuple[Column, ...]]:
    res = _ocr_udf(F.md5(F.col(media_ref_col)), F.col(mime_col))
    r = F.col(_H)
    # reversed full page array [idx2, idx1, idx0]; slice keeps the LAST
    # npages entries (npages=2 -> [{1,app1},{0,main}]), npages=0 -> [].
    full = F.array(
        F.struct(F.lit(2).alias("index"), r["app2_md"].alias("markdown")),
        F.struct(F.lit(1).alias("index"), r["app1_md"].alias("markdown")),
        F.struct(F.lit(0).alias("index"), r["main_md"].alias("markdown")),
    )
    npages = r["npages"]
    pages = F.when(npages.isNull(), F.lit(None).cast(PAGE_SCHEMA)).otherwise(
        F.slice(full, F.lit(4) - npages, npages)
    )
    return res, (
        pages.alias("ocr_pages"), r["model"].alias("ocr_model"), r["tokens"].alias("ocr_tokens")
    )


def concat_pages(df: DataFrame, pages_col: str = "ocr_pages", out_col: str = "ocr_text") -> DataFrame:
    """T3 page concat, pure built-ins: sort pages by index, join markdown
    with blank lines (MistralOcrApiService.cs:164). Empty/NULL page
    arrays yield '' for media rows (empty-OCR guard input) and NULL for
    non-media rows.
    """
    return df.withColumn(out_col, _page_text(pages_col))


@per_context
def _page_text(pages_col: str) -> Column:
    pages = F.col(pages_col)
    ordered = F.array_sort(
        pages,
        lambda a, b: F.when(a["index"] < b["index"], -1)
        .when(a["index"] > b["index"], 1)
        .otherwise(0),
    )
    joined = F.array_join(F.transform(ordered, lambda p: p["markdown"]), "\n\n")
    return F.when(pages.isNull(), F.lit(None).cast("string")).otherwise(joined)


# -- OCR result metadata: page regions, dimensions, meta map, timing ---------

IMAGE_REGION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("index", T.IntegerType(), False),
            T.StructField(
                "bbox",
                T.StructType(
                    [
                        T.StructField("x", T.IntegerType(), False),
                        T.StructField("y", T.IntegerType(), False),
                        T.StructField("width", T.IntegerType(), False),
                        T.StructField("height", T.IntegerType(), False),
                    ]
                ),
                False,
            ),
        ]
    )
)


def with_ocr_metadata(
    df: DataFrame, media_ref_col: str = "media_ref", mime_col: str = "mime"
) -> DataFrame:
    """Append the reference's OCR result metadata, all pure built-ins
    (zero Python stages — every value is a rule over md5(media_ref)):

      * ``ocr_images``  — array<struct<index, bbox struct<x,y,width,height>>>
        per-page image regions (OcrImageObject, OcrModels.cs:146-172)
      * ``ocr_dims``    — struct<width,height> page dimensions
        (OcrModels.cs page ``dimensions``)
      * ``ocr_meta``    — map<string,string> result metadata
        (MistralOcrResult.Metadata, MistralOcrResult.cs:3-11)
      * ``processing_ms`` — synthetic duration (MistralOcrResult.ProcessingTime)

    Unknown payloads (octet-stream) and non-media rows carry NULLs — the
    Empty-result sentinel (MistralOcrResult.cs:11).
    """
    mime = F.col(mime_col)
    known = (
        F.col(media_ref_col).isNotNull()
        & mime.isNotNull()
        & (mime != OCTET_STREAM)
    )
    stripped = F.regexp_replace(F.md5(F.col(media_ref_col)), "[^0-9]", "")
    dgc = F.substring(F.concat(stripped, F.lit("0" * 20)), 1, 20)

    def di(pos: int, ln: int) -> F.Column:
        return F.substring(dgc, pos, ln).cast("int")

    width = (F.lit(512) + di(1, 3) % 512).cast("int")
    height = (F.lit(512) + di(4, 3) % 768).cast("int")
    n_images = di(19, 1) % 3

    def region(i: F.Column) -> F.Column:
        return F.struct(
            i.cast("int").alias("index"),
            F.struct(
                ((di(5, 3) + 97 * i) % 400).cast("int").alias("x"),
                ((di(8, 3) + 131 * i) % 600).cast("int").alias("y"),
                (32 + (di(11, 2) + 7 * i) % 200).cast("int").alias("width"),
                (32 + (di(13, 2) + 11 * i) % 200).cast("int").alias("height"),
            ).alias("bbox"),
        )

    images = (
        F.when(
            known & (n_images >= 1),
            F.transform(F.sequence(F.lit(0), n_images - 1), region),
        )
        .when(known, F.array().cast(IMAGE_REGION_SCHEMA))
        .otherwise(F.lit(None).cast(IMAGE_REGION_SCHEMA))
    )
    n_pages = (F.lit(1) + di(17, 1) % 3).cast("int")
    meta = F.when(
        known,
        F.create_map(
            F.lit("model"), F.lit(OCR_MODEL),
            F.lit("pages"), n_pages.cast("string"),
            F.lit("mime"), mime,
        ),
    )
    return (
        df.withColumn("ocr_images", images)
        .withColumn(
            "ocr_dims",
            F.when(known, F.struct(width.alias("width"), height.alias("height"))),
        )
        .withColumn("ocr_meta", meta)
        .withColumn(
            "processing_ms", F.when(known, (F.lit(50) + 3 * di(18, 2)).cast("int"))
        )
    )


# -- oracle SQL fragments (DuckDB + Spark SQL) -------------------------------


def _sql_digits(d, href: str) -> str:
    stripped = d.re_strip(href, "[^0-9]")
    return f"substr(concat({stripped}, '00000000000000000000'), 1, 20)"


def sql_money(cents: str) -> str:
    """SQL rendering integer cents as 'dollars.cc' (the ``_money`` rule)."""
    s = f"CAST(CAST({cents} AS BIGINT) AS STRING)"
    padded = f"(CASE WHEN length({s}) < 3 THEN lpad({s}, 3, '0') ELSE {s} END)"
    return (
        f"concat(substr({padded}, 1, length({padded}) - 2), '.', "
        f"substr({padded}, length({padded}) - 1, 2))"
    )


def ocr_field_exprs(d, h: str = "h") -> dict[str, str]:
    """SQL expressions (dialect d) for every synthetic-OCR-derived field,
    given ``h`` = md5(media_ref). Used to build DuckDB oracles that
    recompute what the Spark pipeline must extract.

    ``payment_method`` / ``account_type`` carry the VALIDATED value (NULL
    for the out-of-domain variant, mirroring the simple-parse regex /
    enum-domain gate); ``payment_method_raw`` / ``account_type_raw`` are
    the literal markdown values including the invalid ones.
    """
    dg = _sql_digits(d, h)
    pay = " ".join(f"WHEN {i} THEN '{p}'" for i, p in enumerate(PAYMENT_CYCLE))
    acct = " ".join(
        f"WHEN {i} THEN '{a}'" for i, a in enumerate(ACCOUNT_TYPE_CYCLE)
    )
    mode = f"(CAST(substr({dg}, 20, 1) AS INT) % 4)"
    pay_valid = f"CASE CAST(substr({dg}, 15, 1) AS INT) % 3 {pay} END"
    acct_valid = f"CASE CAST(substr({dg}, 16, 1) AS INT) % 2 {acct} END"
    total_c = f"CAST(substr({dg}, 5, 6) AS BIGINT)"
    tax_c = f"CAST(substr({dg}, 11, 4) AS BIGINT)"
    return {
        "merchant_name": f"concat('M-', substr({h}, 1, 8))",
        "receipt_date": (
            f"concat('2024-', lpad(CAST(1 + CAST(substr({dg}, 1, 2) AS INT) % 12 AS STRING), 2, '0'),"
            f" '-', lpad(CAST(1 + CAST(substr({dg}, 3, 2) AS INT) % 28 AS STRING), 2, '0'))"
        ),
        "total_amount": sql_money(f"substr({dg}, 5, 6)"),
        "tax_amount": sql_money(f"substr({dg}, 11, 4)"),
        "payment_method": (
            f"CASE WHEN {mode} = 1 THEN NULL ELSE {pay_valid} END"
        ),
        "payment_method_raw": (
            f"CASE WHEN {mode} = 1 THEN '{INVALID_PAYMENT}' ELSE {pay_valid} END"
        ),
        "items_count": f"1 + CAST(substr({dg}, 16, 1) AS INT) % 9",
        "check_number": f"substr({dg}, 1, 6)",
        "payee": f"concat('P-', substr({h}, 9, 8))",
        "check_amount": sql_money(f"substr({dg}, 7, 6)"),
        "bank_name": f"concat('B-', substr({h}, 17, 8))",
        "is_signed": f"CAST(substr({dg}, 13, 1) AS INT) % 2 = 1",
        "n_pages": f"1 + CAST(substr({dg}, 17, 1) AS INT) % 3",
        "appendix_1": f"concat('Page 1 appendix ', substr({h}, 25, 4))",
        "appendix_2": f"concat('Page 2 appendix ', substr({h}, 25, 4))",
        "ocr_tokens": f"100 + CAST(substr({dg}, 18, 2) AS INT)",
        # -- full-schema block (present iff full_mode != 0) -------------
        "full_mode": mode,
        "has_full": f"{mode} <> 0",
        "merchant_address": (
            f"concat(CAST(100 + CAST(substr({dg}, 3, 3) AS INT) % 900 AS STRING),"
            f" ' Main St')"
        ),
        "merchant_phone": f"concat('555-', substr({dg}, 7, 4))",
        "subtotal": sql_money(f"greatest({total_c} - {tax_c}, 0)"),
        "subtotal_cents": f"greatest({total_c} - {tax_c}, 0)",
        "item_qty": f"(1 + (CAST(substr({dg}, 1, 2) AS INT) + 3 * i) % 9)",
        "item_unit_cents": (
            f"(100 + (CAST(substr({dg}, 5, 4) AS INT) + 137 * i) % 9900)"
        ),
        "item_desc": f"substr({h}, 1 + ((2 * i) % 24), 4)",
        "check_date": (
            f"concat('2024-', lpad(CAST(1 + CAST(substr({dg}, 14, 2) AS INT) % 12 AS STRING), 2, '0'),"
            f" '-', lpad(CAST(1 + CAST(substr({dg}, 15, 2) AS INT) % 28 AS STRING), 2, '0'))"
        ),
        "routing_number": f"substr({dg}, 1, 9)",
        "account_number": f"substr({dg}, 11, 8)",
        "account_type": f"CASE WHEN {mode} = 1 THEN NULL ELSE {acct_valid} END",
        "account_type_raw": (
            f"CASE WHEN {mode} = 1 THEN '{INVALID_ACCOUNT_TYPE}' ELSE {acct_valid} END"
        ),
        "memo": f"concat('memo-', substr({h}, 29, 4))",
        # -- OCR metadata rules (with_ocr_metadata twins) ----------------
        "page_width": f"512 + CAST(substr({dg}, 1, 3) AS INT) % 512",
        "page_height": f"512 + CAST(substr({dg}, 4, 3) AS INT) % 768",
        "n_images": f"CAST(substr({dg}, 19, 1) AS INT) % 3",
        "img_x": f"((CAST(substr({dg}, 5, 3) AS INT) + 97 * i) % 400)",
        "img_y": f"((CAST(substr({dg}, 8, 3) AS INT) + 131 * i) % 600)",
        "img_w": f"(32 + (CAST(substr({dg}, 11, 2) AS INT) + 7 * i) % 200)",
        "img_h": f"(32 + (CAST(substr({dg}, 13, 2) AS INT) + 11 * i) % 200)",
        "processing_ms": f"50 + 3 * CAST(substr({dg}, 18, 2) AS INT)",
    }


def sql_receipt_item_line(d, e: dict[str, str]) -> str:
    """SQL for one receipt item markdown line (lambda var ``i``)."""
    qty, unit = e["item_qty"], e["item_unit_cents"]
    return (
        f"concat(chr(10), 'Item ', CAST(i AS STRING), ': I-', {e['item_desc']},"
        f" ' x', CAST({qty} AS STRING), ' @ ', {sql_money(unit)},"
        f" ' = ', {sql_money(f'{qty} * {unit}')})"
    )


def oracle_ocr_text_sql(d, mime: str = "mime", h: str = "h") -> str:
    """SQL expression for the FULL concatenated OCR text (pages in index
    order) given mime + h = md5(media_ref). Lets the DuckDB oracle verify
    the Arrow-UDF OCR stage + ordered page concat end to end."""
    e = ocr_field_exprs(d, h)
    nl = "chr(10)"
    item_lines = d.concat_over_series(
        e["items_count"], sql_receipt_item_line(d, e)
    )
    receipt_full = (
        f"concat({nl}, 'Address: ', {e['merchant_address']}, "
        f"{nl}, 'Phone: ', {e['merchant_phone']}, "
        f"{nl}, 'Subtotal: ', {e['subtotal']}, {item_lines})"
    )
    receipt_md = (
        f"concat('# Receipt', {nl}, {nl}, 'Merchant: ', {e['merchant_name']}, {nl}, "
        f"'Date: ', {e['receipt_date']}, {nl}, 'Total: ', {e['total_amount']}, {nl}, "
        f"'Tax: ', {e['tax_amount']}, {nl}, 'Payment: ', {e['payment_method_raw']}, {nl}, "
        f"'Items: ', CAST({e['items_count']} AS STRING), "
        f"CASE WHEN {e['has_full']} THEN {receipt_full} ELSE '' END)"
    )
    check_full = (
        f"concat({nl}, 'Date: ', {e['check_date']}, "
        f"{nl}, 'Routing: ', {e['routing_number']}, "
        f"{nl}, 'Account: ', {e['account_number']}, "
        f"{nl}, 'Account Type: ', {e['account_type_raw']}, "
        f"{nl}, 'Memo: ', {e['memo']})"
    )
    check_md = (
        f"concat('# Check', {nl}, {nl}, 'Check Number: ', {e['check_number']}, {nl}, "
        f"'Payee: ', {e['payee']}, {nl}, 'Amount: ', {e['check_amount']}, {nl}, "
        f"'Bank: ', {e['bank_name']}, {nl}, "
        f"'Signed: ', CASE WHEN {e['is_signed']} THEN 'yes' ELSE 'no' END, "
        f"CASE WHEN {e['has_full']} THEN {check_full} ELSE '' END)"
    )
    main = (
        f"CASE WHEN {mime} = 'application/octet-stream' THEN '' "
        f"WHEN {mime} LIKE 'image/%' THEN {receipt_md} ELSE {check_md} END"
    )
    return (
        f"CASE WHEN {mime} = 'application/octet-stream' THEN '' "
        f"WHEN {e['n_pages']} = 1 THEN {main} "
        f"WHEN {e['n_pages']} = 2 THEN concat({main}, {nl}, {nl}, {e['appendix_1']}) "
        f"ELSE concat({main}, {nl}, {nl}, {e['appendix_1']}, {nl}, {nl}, {e['appendix_2']}) END"
    )


__all__ = [
    "run_ocr",
    "concat_pages",
    "receipt_markdown",
    "check_markdown",
    "ocr_field_exprs",
    "sql_receipt_item_line",
    "sql_money",
    "OCR_MODEL",
    "PAYMENT_CYCLE",
    "ACCOUNT_TYPE_CYCLE",
    "INVALID_PAYMENT",
    "INVALID_ACCOUNT_TYPE",
]

