"""MIME-trie unit vectors, mirroring the reference's
OCRservices.Tests/Utils/MimeTypeTrieTests.cs (see FIXTURES.md §2).
``MimeTypeTrie.search`` is the reference the Spark when-chain is checked
against (tests/test_classify.py).
"""

import time

import numpy as np
import pytest

from nolock_social_ocr_services_spark.trie import (
    LENIENT_SIGNATURES,
    PREFIX_LEN,
    MimeTypeTrie,
    build_trie,
    lenient_trie,
    strict_trie,
)


# -- production-table golden vectors (MimeTypeTrieTests.cs:171-205,241-276,813) --

GOLDEN = [
    (bytes.fromhex("FFD8FFE00010") + b"JFIF", "image/jpeg"),
    (bytes.fromhex("FFD8FFE1") + b"\x00" * 8, "image/jpeg"),
    (bytes.fromhex("FFD8FFE2") + b"\x00" * 8, "image/jpeg"),
    (bytes.fromhex("FFD8FFE8") + b"\x00" * 8, "image/jpeg"),
    (bytes.fromhex("FFD8FFDB") + b"\x00" * 8, "image/jpeg"),
    (bytes.fromhex("FFD8FFC0") + b"\x00" * 8, "image/jpeg"),
    (bytes.fromhex("89504E470D0A1A0A") + b"\x00" * 8, "image/png"),
    (bytes.fromhex("474946383761") + b"gifdata", "image/gif"),
    (bytes.fromhex("474946383961") + b"gifdata", "image/gif"),
    (bytes.fromhex("424D3600000000"), "image/bmp"),
    (bytes.fromhex("5249464612345678") + b"WEBPVP8 ", "image/webp"),
    (bytes.fromhex("00000100") + b"\x00" * 4, "image/x-icon"),
    (bytes.fromhex("49492A00") + b"\x00" * 4, "image/tiff"),
    (bytes.fromhex("4D4D002A") + b"\x00" * 4, "image/tiff"),
    (bytes.fromhex("255044462D312E34"), "application/pdf"),
    (bytes.fromhex("000000186674797068656963"), "image/heic"),
]


@pytest.mark.parametrize("payload,expected", GOLDEN, ids=[m for _, m in GOLDEN])
def test_lenient_table_golden(payload, expected):
    assert lenient_trie().search(payload) == expected


def test_partial_signature_is_null():
    # MimeTypeTrieTests.cs:104-115 — '89 50' alone matches nothing
    # (shortest PNG form in the lenient table is 4 bytes).
    assert lenient_trie().search(bytes.fromhex("8950")) is None


def test_divergent_suffix_is_null_on_full_signature_trie():
    # MimeTypeTrieTests.cs:363-376 — trie holding only the 8-byte PNG
    # signature must NOT match 89504E47 + garbage.
    t = MimeTypeTrie()
    t.add(bytes.fromhex("89504E470D0A1A0A"), "image/png")
    assert t.search(bytes.fromhex("89504E47FFFFFFFF")) is None


def test_lenient_table_short_png_form_matches_divergent_suffix():
    # With the production lenient table the 4-byte short form matches.
    assert lenient_trie().search(bytes.fromhex("89504E47FFFFFFFF")) == "image/png"


def test_longest_prefix_wins():
    # MimeTypeTrieTests.cs:145-165,636-657 — deepest stored MIME wins.
    t = MimeTypeTrie()
    t.add(b"\xff\xd8", "short/type")
    t.add(b"\xff\xd8\xff\xe0", "long/type")
    assert t.search(b"\xff\xd8\xff\xe0rest") == "long/type"
    assert t.search(b"\xff\xd8\xff") == "short/type"  # falls back to shorter
    assert t.search(b"\xff\xd8") == "short/type"


def test_only_leading_prefix_counts():
    # MimeTypeTrieTests.cs:341-360 — embedded PNG signature later in the
    # payload is ignored; only the leading bytes classify.
    payload = b"\xff\xd8" + b"garbage" + bytes.fromhex("89504E470D0A1A0A")
    assert lenient_trie().search(payload) == "image/jpeg"


@pytest.mark.parametrize(
    "payload",
    [b"", None, b"\xff", bytes.fromhex("00000000"), bytes.fromhex("FFFFFFFF")],
    ids=["empty", "none", "single-ff", "zeros", "ones"],
)
def test_no_match_vectors(payload):
    # MimeTypeTrieTests.cs:93-101,325-338,378-395
    assert lenient_trie().search(payload) is None


def test_conflicting_signature_raises():
    # MimeTypeTrieTests.cs:49-62
    t = MimeTypeTrie()
    t.add(b"\xff\xd8", "image/jpeg")
    with pytest.raises(ValueError):
        t.add(b"\xff\xd8", "image/png")
    t.add(b"\xff\xd8", "image/jpeg")  # same mime re-add is fine


def test_add_validation():
    t = MimeTypeTrie()
    with pytest.raises(ValueError):
        t.add(b"", "image/jpeg")
    with pytest.raises(ValueError):
        t.add(b"\x01", "")
    with pytest.raises(ValueError):
        t.add(None, "image/jpeg")


def test_get_all_mime_types():
    # MimeTypeTrie.cs:60-79 enumeration, used in strict-mode error message.
    assert strict_trie().get_all_mime_types() == sorted(
        {"image/jpeg", "image/png", "image/gif", "image/webp", "image/bmp"}
    )
    assert "application/pdf" in lenient_trie().get_all_mime_types()


def test_branching_gif_signatures():
    # MimeTypeTrieTests.cs:594-608 — GIF87a vs GIF89a share a 4-byte stem.
    t = lenient_trie()
    assert t.search(bytes.fromhex("474946383761")) == "image/gif"
    assert t.search(bytes.fromhex("474946383961")) == "image/gif"
    assert t.search(bytes.fromhex("474946383861")) is None  # GIF88a is not a thing


def test_prefix_len_covers_longest_signature():
    assert max(len(s) for s, _ in LENIENT_SIGNATURES) <= PREFIX_LEN


def test_search_early_exit_on_large_payload():
    # MimeTypeTrieTests.cs:480-498: the walk stops at the first missing
    # edge, so payload size must not matter.
    big = bytes.fromhex("FFD8FF") + b"\x00" * (10 * 1024 * 1024)
    trie = lenient_trie()
    t0 = time.monotonic()
    assert all(trie.search(big) == "image/jpeg" for _ in range(10_000))
    assert time.monotonic() - t0 < 1.0  # 10k classifications well under 1s


def test_thousand_signatures():
    # MimeTypeTrieTests.cs:501-530 — many signatures, all resolvable.
    t = MimeTypeTrie()
    rng = np.random.default_rng(42)
    sigs = {}
    while len(sigs) < 1000:
        sig = bytes(rng.integers(0, 256, size=6, dtype=np.uint8))
        sigs.setdefault(sig, f"application/x-{len(sigs)}")
    t0 = time.monotonic()
    for sig, mime in sigs.items():
        t.add(sig, mime)
    assert time.monotonic() - t0 < 1.0
    got = [t.search(sig + b"tail") for sig in sigs]
    assert got == list(sigs.values())
