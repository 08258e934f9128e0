"""Microbenchmark the synthetic-OCR pandas batch (no Spark): where does
the ArrowEvalPython stage's Python time actually go? Prints the best of
five wall times for the full batch, the digit matrix and each markdown
builder.

    python tools/profile_ocr_batch.py [rows]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nolock_social_ocr_services_spark.extract import ocr  # noqa: E402


def mk_batch(n: int) -> tuple[pd.Series, pd.Series]:
    hs = [hashlib.md5(f"ref-{i}".encode()).hexdigest() for i in range(n)]
    mimes = ["image/png", "application/pdf", None, "image/jpeg"] * (n // 4 + 1)
    mime = pd.Series(mimes[:n], dtype="string")
    h = pd.Series(hs, dtype="string").where(mime.notna(), None)
    return h, mime


def timeit(label: str, fn, reps: int = 5) -> float:
    best = min(_time_once(fn) for _ in range(reps))
    print(f"{label:28s} {best * 1e3:8.1f} ms")
    return best


def _time_once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 65536
    h, mime = mk_batch(n)
    print(f"batch n={n}")
    timeit("full _ocr_batch", lambda: ocr._ocr_batch(h, mime))

    # the batch's own split: md5s of the rendered rows, their digit matrix
    is_r = mime.str.startswith("image/").fillna(False).to_numpy(bool)
    is_c = (mime == "application/pdf").fillna(False).to_numpy(bool)
    hv = h.to_numpy(dtype=object)
    hk = hv[is_r | is_c]
    timeit("_digit_matrix", lambda: ocr._digit_matrix(hk))
    hr, hc = hv[is_r], hv[is_c]
    dr, dc = ocr._digit_matrix(hr), ocr._digit_matrix(hc)
    timeit("receipt_markdown", lambda: ocr.receipt_markdown(hr, dr))
    timeit("check_markdown", lambda: ocr.check_markdown(hc, dc))


if __name__ == "__main__":
    main()
