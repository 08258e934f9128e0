"""Single-process pure-Python reference implementation of the full
extraction pipeline (FIXTURES.md §3: the span-sequence-equality oracle).

Deliberately NOT built on Spark or on the package's vectorized code
paths: plain ``re``/``hashlib``/loops over pyarrow-read parquet, so a
bug in the Spark pipeline cannot hide in shared code. Only the
pure-Python ``MimeTypeTrie`` is shared — it is itself pinned by golden
byte vectors in test_trie.py.
"""

from __future__ import annotations

import base64
import hashlib
import re

import pyarrow.parquet as pq

from nolock_social_ocr_services_spark.corpus import (
    GIANT_EVERY,
    GIANT_SPANS,
    HTML_PREFIX,
    HTML_SUFFIX,
    IMAGE_MIME_CYCLE,
    SIG_HEX,
)
from nolock_social_ocr_services_spark.trie import OCTET_STREAM, lenient_trie

_TRIE = lenient_trie()


def _money(c: str) -> str:
    s = str(int(c)).zfill(3)
    return s[:-2] + "." + s[-2:]


def _ocr_text(media_ref: str, mime: str) -> str:
    if mime == OCTET_STREAM:
        return ""
    h = hashlib.md5(media_ref.encode()).hexdigest()
    digits = (re.sub(r"[^0-9]", "", h) + "0" * 20)[:20]
    mode = int(digits[19]) % 4  # 0 simple-only, 1 full+invalid enum
    if mime.startswith("image/"):
        mm = 1 + int(digits[0:2]) % 12
        dd = 1 + int(digits[2:4]) % 28
        pay = (
            "crypto" if mode == 1
            else ("cash", "card", "check")[int(digits[14]) % 3]
        )
        n_items = 1 + int(digits[15]) % 9
        main = (
            f"# Receipt\n\nMerchant: M-{h[0:8]}\nDate: 2024-{mm:02d}-{dd:02d}"
            f"\nTotal: {_money(digits[4:10])}\nTax: {_money(digits[10:14])}"
            f"\nPayment: {pay}"
            f"\nItems: {n_items}"
        )
        if mode != 0:
            sub_c = max(int(digits[4:10]) - int(digits[10:14]), 0)
            main += (
                f"\nAddress: {100 + int(digits[2:5]) % 900} Main St"
                f"\nPhone: 555-{digits[6:10]}"
                f"\nSubtotal: {_money(str(sub_c))}"
            )
            for i in range(1, n_items + 1):
                qty = 1 + (int(digits[0:2]) + 3 * i) % 9
                unit = 100 + (int(digits[4:8]) + 137 * i) % 9900
                desc = h[(2 * i) % 24 : (2 * i) % 24 + 4]
                main += (
                    f"\nItem {i}: I-{desc} x{qty}"
                    f" @ {_money(str(unit))} = {_money(str(qty * unit))}"
                )
    else:  # application/pdf
        main = (
            f"# Check\n\nCheck Number: {digits[0:6]}\nPayee: P-{h[8:16]}"
            f"\nAmount: {_money(digits[6:12])}\nBank: B-{h[16:24]}"
            f"\nSigned: {'yes' if int(digits[12]) % 2 else 'no'}"
        )
        if mode != 0:
            cmm = 1 + int(digits[13:15]) % 12
            cdd = 1 + int(digits[14:16]) % 28
            acct = (
                "bitcoin" if mode == 1
                else ("checking", "savings")[int(digits[15]) % 2]
            )
            main += (
                f"\nDate: 2024-{cmm:02d}-{cdd:02d}"
                f"\nRouting: {digits[0:9]}"
                f"\nAccount: {digits[10:18]}"
                f"\nAccount Type: {acct}"
                f"\nMemo: memo-{h[28:32]}"
            )
    n_pages = 1 + int(digits[16]) % 3
    pages = [main] + [f"Page {p} appendix {h[24:28]}" for p in range(1, n_pages)]
    return "\n\n".join(pages)


def _strip_html(html: str) -> str:
    s = re.sub(r"(?s)<!--.*?-->", "", html)
    s = re.sub(
        r"(?is)<(script|style|head|nav|header|footer|aside|form)\b[^>]*>.*?</\1\s*>",
        "",
        s,
    )
    s = re.sub(r"(?s)<[^>]+>", "", s)
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        s = s.replace(ent, ch)
    return s.strip()


def _extracted_text(kind: str, text: str | None, media_ref: str | None) -> str | None:
    """One span's extraction result, by kind. Any other kind is media:
    the OCR text of its payload, or None when it has none."""
    if kind == "text":
        return text
    if kind == "html":
        return _strip_html(text)
    if media_ref is None:
        return None
    payload = base64.b64decode(media_ref.split(";base64,", 1)[1])
    return _ocr_text(media_ref, _TRIE.search(payload) or OCTET_STREAM)


def expected_documents(docs: list[dict]) -> dict[str, list[tuple]]:
    """doc_id -> ordered [(kind, text, media_ref, offset)] for input rows
    ``{"doc_id", "spans"}``: every document exactly once, and ``[]`` for
    one whose ``spans`` is empty or NULL."""
    return {
        d["doc_id"]: [
            (s["kind"], _extracted_text(s["kind"], s["text"], s["media_ref"]),
             s["media_ref"], s["offset"])
            for s in sorted(d["spans"] or [], key=lambda s: s["offset"])
        ]
        for d in docs
    }


def expected_extracted_spans(sf_dir: str) -> dict[str, list[tuple]]:
    """doc_id -> ordered [(kind, text, media_ref, offset)] after extraction.

    Re-derives the corpus from the driver documents parquet with plain
    Python (independent of corpus.py's SQL), classifies each payload with
    the pure-Python trie, and applies the extraction rules.
    """
    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    out: dict[str, list[tuple]] = {}
    for d in tbl:
        did, text, n_chars = d["doc_id"], d["text"], d["n_chars"]
        doc_key = f"doc-{did:08d}"
        n_spans = GIANT_SPANS if did % GIANT_EVERY == 0 else 2 + did % 6
        spans = []
        for i in range(n_spans):
            kc = (did * 31 + i * 7) % 10
            kind = "text" if kc < 4 else "html" if kc < 7 else "image" if kc < 9 else "pdf"
            v = (did + 3 * i) % 8
            start = (did + i * 13) % max(n_chars - 60, 1)
            content = text[start : start + 60]
            if kind == "text":
                raw, ref = content, None
            elif kind == "html":
                raw, ref = HTML_PREFIX + content + HTML_SUFFIX, None
            else:
                if kind == "image":
                    mime = IMAGE_MIME_CYCLE[v] if v < 7 else OCTET_STREAM
                else:
                    mime = "application/pdf" if v < 7 else OCTET_STREAM
                payload = bytes.fromhex(SIG_HEX[mime]) + f"{doc_key}:{i}".encode()
                raw = None
                ref = f"data:{mime};base64," + base64.b64encode(payload).decode()
            spans.append((kind, _extracted_text(kind, raw, ref), ref, i))
        out[doc_key] = spans
    return out
