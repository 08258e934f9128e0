"""No-JVM unit tests for the synthetic-OCR batch generators.

The batch builds one NumPy digit matrix over the md5s it renders and
per-row f-strings from it (extract/ocr.py); these tests pin it DIRECTLY
against the independent pure-python oracle
(tests/pandas_oracle.py:_ocr_text), without paying for a SparkSession.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from nolock_social_ocr_services_spark.corpus import IMAGE_MIME_CYCLE
from nolock_social_ocr_services_spark.extract import ocr
from nolock_social_ocr_services_spark.trie import OCTET_STREAM

from tests.pandas_oracle import _ocr_text


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _pages_joined(row_main, row_app1, row_app2, npages) -> str:
    pages = [row_main] + [row_app1, row_app2][: max(npages - 1, 0)]
    return "\n\n".join(pages)


def test_ocr_batch_matches_pure_python_oracle():
    """Every (mime, md5) combination the pipeline produces, vs _ocr_text."""
    refs = [f"ref-{i}" for i in range(500)]
    cases = []
    for i, r in enumerate(refs):
        mime = ["image/png", "application/pdf", "image/jpeg"][i % 3]
        cases.append((_md5(r), mime, r))
    h = pd.Series([c[0] for c in cases], dtype="string")
    mime = pd.Series([c[1] for c in cases], dtype="string")
    out = ocr._ocr_batch(h, mime)
    for r, (hx, m, ref) in enumerate(cases):
        got = _pages_joined(
            out["main_md"][r], out["app1_md"][r], out["app2_md"][r],
            int(out["npages"][r]),
        )
        assert got == _ocr_text(ref, m), (ref, m)


def test_ocr_batch_null_and_unknown_rows():
    h = pd.Series([None, _md5("x"), _md5("y")], dtype="string")
    mime = pd.Series([None, "application/octet-stream", "image/png"],
                     dtype="string")
    out = ocr._ocr_batch(h, mime)
    # non-media row: everything NULL
    assert pd.isna(out["main_md"][0]) and pd.isna(out["npages"][0])
    # media + unknown payload: npages 0 sentinel, no markdown
    assert pd.isna(out["main_md"][1]) and out["npages"][1] == 0
    assert out["main_md"][2].startswith("# Receipt")


def test_mixed_shuffled_batch_matches_oracle():
    """More than one Arrow batch's worth of receipt, check, octet-stream
    and non-media rows, shuffled, under a non-default index: every row
    against _ocr_text and the NULL / npages-0 sentinels."""
    rng = np.random.default_rng(7)
    mimes = [*IMAGE_MIME_CYCLE, "application/pdf", OCTET_STREAM, None]
    cases = []
    for i in range(5000):
        m = mimes[rng.integers(len(mimes))]
        ref = None if m is None else f"mix-{i}"
        cases.append((ref, m))
    h = pd.Series([None if r is None else _md5(r) for r, _ in cases],
                  index=rng.permutation(len(cases)) + 10_000, dtype=object)
    mime = pd.Series([m for _, m in cases], index=h.index, dtype=object)
    out = ocr._ocr_batch(h, mime)
    assert len(out) == len(cases)
    rows = out.astype(object).where(out.notna(), None).to_dict("records")
    for (ref, m), row in zip(cases, rows):
        if m is None:  # non-media row: every column NULL
            assert all(v is None for v in row.values()), row
        elif m == OCTET_STREAM:  # unknown payload: npages 0, no pages
            assert row["npages"] == 0, row
            assert {k: v for k, v in row.items() if k != "npages"} == dict.fromkeys(
                ("main_md", "app1_md", "app2_md", "model", "tokens"))
        else:
            hx = _md5(ref)
            dg = (re.sub(r"[^0-9]", "", hx) + "0" * 20)[:20]
            got = _pages_joined(row["main_md"], row["app1_md"],
                                row["app2_md"], row["npages"])
            assert got == _ocr_text(ref, m), (ref, m)
            assert row["npages"] == 1 + int(dg[16]) % 3
            assert row["tokens"] == 100 + int(dg[17:19])
            assert row["model"] == ocr.OCR_MODEL


def test_digit_matrix_paths_agree():
    """The md5 digit matrix: each row's digits in order, 0-padded."""
    hxs = np.array([_md5(f"r{i}") for i in range(64)], dtype=object)

    def ref_digits(s: str) -> list[int]:
        d = [int(c) for c in s if c.isdigit()][:20]
        return d + [0] * (20 - len(d))

    fast = ocr._digit_matrix(hxs)
    assert fast.shape == (64, 20)
    assert fast.tolist() == [ref_digits(s) for s in hxs]


def test_money_rendering_no_float():
    assert ocr._money(0) == "0.00"
    assert ocr._money(5) == "0.05"
    assert ocr._money(99) == "0.99"
    assert ocr._money(100) == "1.00"
    assert ocr._money(12345) == "123.45"


def test_digit_str_blocks():
    dig = np.array([[1, 2, 3], [9, 0, 7]], dtype=np.uint8)
    assert ocr._digit_str(dig).tolist() == ["123", "907"]
    # non-contiguous slice (the builders pass strided views)
    wide = np.arange(40, dtype=np.uint8).reshape(2, 20) % 10
    assert ocr._digit_str(wide[:, 3:6]).tolist() == ["345", "345"]
