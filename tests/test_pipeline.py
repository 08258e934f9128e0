"""End-to-end pipeline: span-sequence equality against the independent
pure-Python oracle, identity round-trip under salting, and extraction
semantics (typed fields, fallback, empty-text guard).
"""

import base64
import random
import re
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus, pipeline
from nolock_social_ocr_services_spark.corpus import HTML_PREFIX, HTML_SUFFIX, SIG_HEX
from nolock_social_ocr_services_spark.extract.ocr import concat_pages, run_ocr
from nolock_social_ocr_services_spark.extract.records import (
    clean_extracted_text,
    parse_receipt,
    route_and_extract,
)
from nolock_social_ocr_services_spark.operators.reassemble import reassemble_spans
from nolock_social_ocr_services_spark.operators.salt import salted_repartition
from tests.pandas_oracle import expected_documents, expected_extracted_spans


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return corpus.synthesize_documents(spark, sf_dir).cache()


def test_identity_roundtrip_under_salting(spark, docs):
    """explode -> salt -> reassemble with no extraction reproduces every
    document's (kind, text, media_ref, offset) sequence in offset order."""
    rebuilt = reassemble_spans(salted_repartition(pipeline.explode_spans(docs)))
    got = {r.doc_id: [tuple(s) for s in r.spans] for r in rebuilt.collect()}
    expected = {
        r.doc_id: sorted(
            ((s.kind, s.text, s.media_ref, s.offset) for s in r.spans or []),
            key=lambda t: t[3],
        )
        for r in docs.collect()
    }
    assert got == expected


def test_span_sequence_equality_vs_python_oracle(spark, docs, sf_dir):
    got_rows = pipeline.extract_spans(docs).collect()
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
    nested = pipeline.extracted_documents(docs)
    row = nested.filter(F.size("spans") >= 6).first()
    offsets = [s.offset for s in row.spans]
    assert offsets == sorted(offsets)


def test_every_document_comes_out_once_whatever_its_spans(spark):
    """A document whose spans are [] or NULL comes out with spans = [];
    the flat output stays one row per span."""
    rows = [
        {"doc_id": "t1", "spans": [
            {"kind": "text", "text": "héllo wörld", "media_ref": None, "offset": 0}
        ]},
        {"doc_id": "e1", "spans": []},
        {"doc_id": "n1", "spans": None},
    ]
    schema = (
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame([(r["doc_id"], r["spans"]) for r in rows], schema)
    got = sorted(
        (r.doc_id, [tuple(s) for s in r.spans])
        for r in pipeline.extracted_documents(docs).collect()
    )
    assert got == sorted(expected_documents(rows).items())
    flat = pipeline.extract_spans(docs).select("doc_id", "offset").collect()
    assert [tuple(r) for r in flat] == [("t1", 0)]


DOC_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def _edge_span(rng: random.Random, offset: int) -> dict:
    """One span of a random kind: known kinds, unknown and NULL ones;
    image/pdf spans whose media_ref is NULL; data URLs of every signature
    the corpus uses (an unknown one included), on any kind."""
    kinds = ("text", "html", "image", "pdf", "image", "pdf", "video", "HTML", "", None)
    kind = rng.choice(kinds)
    words = " ".join(rng.choice(("a", "&amp;", "<b>x</b>", "héllo", "Total: 1.00")) for _ in range(4))
    text = {"text": words, "html": HTML_PREFIX + words + HTML_SUFFIX}.get(kind)
    if text is None and rng.random() < 0.5:
        text = words  # text on a media or unknown kind is not read
    media_ref = None
    if rng.random() < (0.25 if kind in ("text", "html") else 0.7):
        mime = rng.choice(sorted(SIG_HEX))
        payload = bytes.fromhex(SIG_HEX[mime]) + f"edge:{offset}:{rng.random()}".encode()
        media_ref = f"data:{mime};base64," + base64.b64encode(payload).decode()
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _edge_documents(seed: int) -> list[dict]:
    """Documents of 0-8 spans whose offsets repeat, one with ``[]``, one
    with NULL spans and one huge document of 2,000 spans; no NULL offset
    (its contract is open)."""
    rng = random.Random(seed)
    docs = [{"doc_id": "empty", "spans": []}, {"doc_id": "null", "spans": None}]
    for d in range(150):
        n = rng.randrange(9)
        docs.append({
            "doc_id": f"e{d:03d}",
            "spans": [_edge_span(rng, rng.randrange(max(n // 2, 1))) for _ in range(n)],
        })
    docs.append({"doc_id": "huge", "spans": [_edge_span(rng, i // 3) for i in range(2000)]})
    return docs


def _same_spans(got: dict[str, list[tuple]], expected: dict[str, list[tuple]]) -> None:
    """Each document's spans come in offset order and, as a multiset, are
    the expected ones: spans tied on offset may come in any order
    (``reassemble_spans``)."""
    assert set(got) == set(expected)
    for doc_id, spans in got.items():
        offsets = [s[3] for s in spans]
        assert offsets == sorted(offsets), doc_id
        assert Counter(spans) == Counter(expected[doc_id]), doc_id


def test_edge_documents_match_the_oracle(spark):
    """Every generated edge document comes out exactly once, nested and
    flat, with the oracle's spans: NULL media_ref on image/pdf spans,
    unknown kinds, duplicate offsets and one huge document."""
    rows = _edge_documents(seed=13)
    docs = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in rows], DOC_SCHEMA)
    expected = expected_documents(rows)
    nested = pipeline.extracted_documents(docs).collect()
    assert len(nested) == len(rows)
    _same_spans({r.doc_id: [tuple(s) for s in r.spans] for r in nested}, expected)
    flat: dict[str, list[tuple]] = {}
    for r in pipeline.extract_spans(docs).select("doc_id", *pipeline.SPAN_FIELDS).collect():
        flat.setdefault(r.doc_id, []).append(tuple(r)[1:])
    for spans in flat.values():
        spans.sort(key=lambda s: s[3])
    _same_spans(flat, {k: v for k, v in expected.items() if v})


def _optimized(df) -> str:
    """The optimized logical plan, expression ids masked."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(lambda \w+_|pythonUDF)\d+", r"\1n", re.sub(r"#\d+L?", "#n", plan))


def test_extracted_documents_plan_is_the_records_composition_pruned(spark, docs):
    """The nested output builds no records layer, and Catalyst runs the
    same plan as when it did: ColumnPruning removes every records column
    from extract_rows projected to the span fields."""
    old = reassemble_spans(
        pipeline.extract_rows(docs).select("doc_id", "offset", "kind", "text", "media_ref"),
        span_fields=pipeline.SPAN_FIELDS,
    )
    assert _optimized(pipeline.extracted_documents(docs)) == _optimized(old)


def test_extracted_documents_builds_no_records_layer(spark, docs, monkeypatch):
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return route_and_extract(*args, **kwargs)

    monkeypatch.setattr(pipeline, "route_and_extract", counting)
    pipeline.extracted_documents(docs)
    assert calls == 0
    pipeline.extract_rows(docs)  # the counter does see the records layer
    assert calls == 1


def test_second_build_makes_few_jvm_calls(spark, docs, monkeypatch):
    """The pipeline's Columns are built once per context: a build after
    the first is under a hundred py4j commands (the DataFrame calls and
    their argument lists; 86 when measured), not the thousands that
    rebuilding every F.col/F.when/regex Column costs."""
    import gc
    import threading

    import py4j.clientserver as cs

    warm = pipeline.extracted_documents(docs)  # fills the memo
    send = cs.ClientServerConnection.send_command
    builder = threading.get_ident()
    calls = 0

    def counting(self, command):
        nonlocal calls
        # py4j's finalizer thread sends the releases of objects freed
        # earlier; only the building thread's commands are the build's
        calls += threading.get_ident() == builder
        return send(self, command)

    # a gc pass would free unrelated py4j objects inside the window
    gc.disable()
    try:
        monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
        again = pipeline.extracted_documents(docs)
        monkeypatch.undo()
    finally:
        gc.enable()
    assert calls <= 120, calls
    assert again.columns == warm.columns


def test_new_context_rebuilds_memoized_columns(spark, docs, monkeypatch):
    """Memoized Columns belong to the JVM that made them: when the
    context changes, the memo builds every Column afresh instead of
    reusing the old handles, and the rebuilt pipeline still matches the
    oracle. The context key is swapped, so no second JVM starts."""
    from nolock_social_ocr_services_spark import session

    pipeline.extracted_documents(docs)
    old = dict(session._memo)
    new_context = object()
    monkeypatch.setattr(session, "_context_key", lambda: new_context)
    rebuilt = pipeline.extracted_documents(docs)
    assert session._memo and set(session._memo) <= set(old)
    assert not [k for k, v in session._memo.items() if v is old[k]]
    rows = [r.asDict(recursive=True) for r in docs.collect()]
    got = {r.doc_id: [tuple(s) for s in r.spans] for r in rebuilt.collect()}
    assert got == expected_documents(rows)


def test_typed_receipt_fields(spark, docs):
    """Every receipt row, not whichever comes first: the row order after
    the salted exchange depends on its partition count."""
    flat = pipeline.extract_spans(docs)
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
    flat = pipeline.extract_spans(docs)
    rows = flat.filter(F.col("check").isNotNull()).select("check.*").collect()
    assert rows
    for c in rows:
        assert c.payee.startswith("P-")
        assert c.bank_name.startswith("B-")
        assert isinstance(c.amount, Decimal)
        assert c.is_signed in (True, False)


def test_empty_ocr_guard_for_unknown_payloads(spark, docs):
    flat = pipeline.extract_spans(docs)
    unknown = flat.filter(F.col("mime") == "application/octet-stream")
    assert unknown.count() > 0
    assert unknown.filter(F.col("extract_error") != "empty_ocr_text").count() == 0
    assert unknown.filter(F.col("receipt").isNotNull()).count() == 0
    # errors are data: no rows lost
    assert unknown.filter(F.col("text") != "").count() == 0


def test_confidence_defaults(spark, docs):
    flat = pipeline.extract_spans(docs)
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
