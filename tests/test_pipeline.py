"""End-to-end pipeline: span-sequence equality against the independent
pure-Python oracle, identity round-trip under salting, and extraction
semantics (typed fields, fallback, empty-text guard).
"""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus, pipeline
from nolock_social_ocr_services_spark.extract.ocr import concat_pages, run_ocr
from nolock_social_ocr_services_spark.extract.records import (
    clean_extracted_text,
    parse_receipt,
)
from tests.pandas_oracle import expected_extracted_spans


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return corpus.synthesize_documents(spark, sf_dir).cache()


def test_identity_roundtrip_under_salting(spark, docs):
    report = pipeline.identity_roundtrip_report(docs, salt_buckets=16)
    assert pipeline.equality_pass_rate(report) == 1.0


def test_span_sequence_equality_vs_python_oracle(spark, docs, sf_dir):
    got_rows = pipeline.extract_spans(docs, salt_buckets=16).collect()
    got: dict[str, list] = {}
    for r in got_rows:
        got.setdefault(r.doc_id, []).append((r.kind, r.text, r.media_ref, r.offset))
    for v in got.values():
        v.sort(key=lambda t: t[3])
    expected = expected_extracted_spans(sf_dir)
    assert set(got) == set(expected)
    mismatched = [
        k for k in expected if got[k] != expected[k]
    ]
    assert not mismatched, (
        f"{len(mismatched)} docs mismatch; first: "
        f"{got[mismatched[0]][:2]} vs {expected[mismatched[0]][:2]}"
    )


def test_extracted_documents_nested_order(spark, docs, sf_dir):
    nested = pipeline.extracted_documents(docs, salt_buckets=8)
    row = nested.filter(F.size("spans") >= 6).first()
    offsets = [s.offset for s in row.spans]
    assert offsets == sorted(offsets)


def test_typed_receipt_fields(spark, docs):
    """Every receipt row, not whichever comes first: the row order after
    the salted exchange depends on its partition count."""
    flat = pipeline.extract_spans(docs, salt_buckets=8)
    receipts = flat.filter(F.col("receipt").isNotNull())
    rows = receipts.select("receipt.*", "text").collect()
    assert rows
    for r in rows:
        assert r.merchant_name.startswith("M-")
        assert r.receipt_date.startswith("2024-")
        assert isinstance(r.total_amount, Decimal)
        assert 1 <= r.items_count <= 9
        # an out-of-domain enum validates to NULL, and only that one
        if "Payment: crypto" in r.text:
            assert r.payment_method is None
        else:
            assert r.payment_method in ("cash", "card", "check")
    assert any(r.payment_method is not None for r in rows)
    # receipts only from image mimes
    assert receipts.filter(~F.col("mime").startswith("image/")).count() == 0


def test_typed_check_fields(spark, docs):
    flat = pipeline.extract_spans(docs, salt_buckets=8)
    rows = flat.filter(F.col("check").isNotNull()).select("check.*").collect()
    assert rows
    for c in rows:
        assert c.payee.startswith("P-")
        assert c.bank_name.startswith("B-")
        assert isinstance(c.amount, Decimal)
        assert c.is_signed in (True, False)


def test_empty_ocr_guard_for_unknown_payloads(spark, docs):
    flat = pipeline.extract_spans(docs, salt_buckets=8)
    unknown = flat.filter(F.col("mime") == "application/octet-stream")
    assert unknown.count() > 0
    assert unknown.filter(F.col("extract_error") != "empty_ocr_text").count() == 0
    assert unknown.filter(F.col("receipt").isNotNull()).count() == 0
    # errors are data: no rows lost
    assert unknown.filter(F.col("text") != "").count() == 0


def test_confidence_defaults(spark, docs):
    flat = pipeline.extract_spans(docs, salt_buckets=8)
    parsed = flat.filter(F.col("receipt").isNotNull() | F.col("check").isNotNull())
    assert parsed.filter(F.col("confidence") != 0.8).count() == 0
    text_spans = flat.filter(F.col("kind").isin("text", "html"))
    assert text_spans.filter(F.col("confidence").isNotNull()).count() == 0


def test_page_order_reconstruction(spark, docs):
    exploded = pipeline.explode_spans(docs).filter(F.col("media_ref").isNotNull())
    from nolock_social_ocr_services_spark.operators.classify import classify_mime

    ocred = run_ocr(classify_mime(exploded, data_url_col="media_ref"))
    multi = ocred.filter(F.size("ocr_pages") == 3).first()
    # pages are emitted reversed by the OCR stage...
    assert [p["index"] for p in multi.ocr_pages] == [2, 1, 0]
    # ...and concat_pages must restore index order
    joined = concat_pages(ocred).filter(F.size("ocr_pages") == 3).first()
    parts = joined.ocr_text.split("\n\n")
    assert parts[0].startswith("# ")
    assert parts[-2].startswith("Page 1 appendix")
    assert parts[-1].startswith("Page 2 appendix")


def test_clean_extracted_text_chain(spark):
    rows = [
        ("```json\n{\"a\": 1}\n```",),
        ("Here is the JSON: {\"a\": 1}",),
        ("```markdown\n# Receipt\n```",),
        ("plain text",),
    ]
    df = spark.createDataFrame(rows, "t string")
    got = [r.c for r in df.select(clean_extracted_text(F.col("t")).alias("c")).collect()]
    assert got == ['{"a": 1}', '{"a": 1}', "# Receipt", "plain text"]


def test_receipt_parse_fallback_returns_null_struct(spark):
    # missing required Total -> whole struct NULL (simple-schema contract)
    df = spark.createDataFrame(
        [("# Receipt\n\nMerchant: M-abc\nDate: 2024-01-01",)], "t string"
    )
    row = df.select(parse_receipt(F.col("t")).alias("r")).first()
    assert row.r is None


def test_malformed_media_ref_never_fails_the_job(spark):
    """EdgeCaseTests.cs:33-150 analogue (corrupted/empty payload
    handling) at pipeline level: malformed base64, missing data-URL
    prefix, and empty payloads must become per-row error data
    (octet-stream + empty_ocr_text), never a job failure — under ANSI
    mode unbase64 would THROW; decode_data_url_prefix uses
    try_to_binary precisely for this (ST6)."""
    rows = [
        ("d1", [{"kind": "image", "text": None,
                 "media_ref": "data:image/png;base64,!!!notbase64!!!", "offset": 0}]),
        ("d2", [{"kind": "image", "text": None,
                 "media_ref": "no-data-url-prefix", "offset": 0}]),
        ("d3", [{"kind": "image", "text": None,
                 "media_ref": "data:image/png;base64,", "offset": 0}]),
        ("d4", [{"kind": "pdf", "text": None,
                 "media_ref": "data:application/pdf;base64,JVBERi0xLjQ=",
                 "offset": 0}]),
    ]
    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(rows, schema)
    out = {
        r.doc_id: r
        for r in pipeline.extract_spans(docs)
        .select("doc_id", "mime", "extract_error", "text")
        .collect()
    }
    for bad in ("d1", "d2", "d3"):
        assert out[bad].mime == "application/octet-stream"
        assert out[bad].extract_error == "empty_ocr_text"
        assert out[bad].text == ""
    # a valid payload in the same batch still extracts
    assert out["d4"].mime == "application/pdf"
    assert out["d4"].extract_error is None
    assert out["d4"].text.startswith("# Check")


def test_malformed_field_values_become_unparsed_records(spark):
    """ANSI-mode cast hardening: 'Total: not-a-number' must yield an
    unparsed record (NULL struct, 0.5 confidence), never a
    CAST_INVALID_INPUT job abort — mirrors the reference treating LLM
    parse failures as per-item errors (JsonExtractionService.cs:148-188).
    """
    from nolock_social_ocr_services_spark.extract.records import route_and_extract

    rows = [
        ("g1", "image", "image/png",
         "Merchant: X\nTotal: not-a-number\nDate: soon", "data:x"),
        ("g2", "pdf", "application/pdf",
         "Check Number: 12\nPayee: P\nAmount: 1e3abc", "data:x"),
        ("g4", "image", "image/png",
         "Merchant: M\nDate: 2024-01-01\nTotal: 12.34", "data:x"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, kind string, mime string, ocr_text string, media_ref string"
    )
    out = {r.doc_id: r for r in route_and_extract(df).collect()}
    assert out["g1"].receipt is None and out["g1"].confidence == 0.5
    assert out["g2"].check is None and out["g2"].confidence == 0.5
    assert out["g4"].receipt is not None and out["g4"].confidence == 0.8


def test_adversarial_text_content_roundtrips(spark):
    """SecurityTests.cs analogue: XSS/SQLi payloads, unicode, embedded
    newlines/quotes/control chars in span TEXT are data, not code — the
    pipeline must carry them through extraction + reassembly unchanged
    (text spans pass through verbatim; html spans strip tags only)."""
    nasty = [
        "<script>alert('xss')</script>Robert'); DROP TABLE docs;--",
        'quotes " \' ` and \\ backslash',
        "unicode: 日本語 🚀 émojis  nbsp",
        "line1\nline2\ttabbed\r\nwindows",
        "null\x00byte and ctrl\x07chars",
    ]
    rows = [
        (f"adv{i}", [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
        for i, t in enumerate(nasty)
    ]
    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(rows, schema)
    out = {
        r.doc_id: r.text
        for r in pipeline.extract_spans(docs).select("doc_id", "text").collect()
    }
    for i, t in enumerate(nasty):
        assert out[f"adv{i}"] == t, (i, out[f"adv{i}"])
    # same payloads as HTML spans: tags stripped, the job never fails
    hrows = [
        (f"h{i}", [{"kind": "html", "text": t, "media_ref": None, "offset": 0}])
        for i, t in enumerate(nasty)
    ]
    hdocs = spark.createDataFrame(hrows, schema)
    hout = pipeline.extract_spans(hdocs).select("doc_id", "text").collect()
    assert len(hout) == len(nasty)
    got = {r.doc_id: r.text for r in hout}
    assert "<script>" not in (got["h0"] or "")  # tags stripped, payload inert
