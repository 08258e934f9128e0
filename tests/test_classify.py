"""Spark-side classification stage: the trie's when-chain over the
synthesized corpus must detect exactly the MIME each payload was
constructed with (unknown signatures -> octet-stream fallback), agree
with the reference ``MimeTypeTrie.search`` on every decoded prefix, and
decode no more than a 16-byte-equivalent prefix of each payload.
"""

import random

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus
from nolock_social_ocr_services_spark.operators.classify import (
    classify_mime,
    decode_data_url_prefix,
    trie_match_expr,
)
from nolock_social_ocr_services_spark.trie import (
    OCTET_STREAM,
    MimeTypeTrie,
    lenient_trie,
    strict_trie,
)


@pytest.fixture(scope="module")
def media_spans(spark, sf_dir):
    return (
        corpus.flat_spans(spark, sf_dir)
        .filter(F.col("media_ref").isNotNull())
        .select("doc_id", "offset", F.col("mime").alias("intended_mime"), "media_ref")
        .cache()
    )


def test_classify_detects_constructed_mime(media_spans):
    out = classify_mime(media_spans, data_url_col="media_ref", out_col="detected")
    mismatches = out.filter(F.col("detected") != F.col("intended_mime"))
    assert mismatches.count() == 0
    assert out.filter(F.col("detected").isNull()).count() == 0


def test_classify_octet_stream_fallback(media_spans):
    out = classify_mime(media_spans, data_url_col="media_ref", out_col="detected")
    fb = out.filter(F.col("intended_mime") == "application/octet-stream")
    assert fb.count() > 0
    assert fb.filter(F.col("detected") != "application/octet-stream").count() == 0


def test_strict_mode_nulls_unknown(media_spans):
    out = classify_mime(
        media_spans,
        data_url_col="media_ref",
        out_col="detected",
        strict=True,
        trie=strict_trie(),
    )
    unknown = out.filter(F.col("intended_mime") == "application/octet-stream")
    assert unknown.filter(F.col("detected").isNotNull()).count() == 0


def test_classify_binary_column(spark):
    rows = [
        (bytes.fromhex("FFD8FFE0") + b"x" * 100, "image/jpeg"),
        (bytes.fromhex("89504E470D0A1A0A") + b"y" * 100, "image/png"),
        (bytes.fromhex("ABCDEF"), "application/octet-stream"),
        (b"", "application/octet-stream"),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "payload binary, expected string")
    out = classify_mime(df, payload_col="payload", out_col="mime")
    got = {r.expected: r.mime for r in out.collect()}
    for r in out.collect():
        assert r.mime == r.expected


def test_decode_data_url_prefix_roundtrip(spark):
    import base64

    payload = bytes.fromhex("89504E470D0A1A0A") + b"hello world padding"
    url = "data:image/png;base64," + base64.b64encode(payload).decode()
    df = spark.createDataFrame([(url,)], "media_ref string")
    prefix = df.select(decode_data_url_prefix(F.col("media_ref")).alias("p")).first().p
    assert bytes(prefix) == payload[:18]  # 24 b64 chars -> 18 bytes
    assert bytes(prefix)[:16] == payload[:16]


def test_custom_trie_longest_prefix_in_spark(spark):
    t = MimeTypeTrie()
    t.add(b"\xff\xd8", "short/type")
    t.add(b"\xff\xd8\xff\xe0", "long/type")
    df = spark.createDataFrame(
        [(b"\xff\xd8\xff\xe0rest",), (b"\xff\xd8\xff",), (b"\xab",)],
        "payload binary",
    )
    out = classify_mime(df, payload_col="payload", out_col="mime", trie=t)
    assert [r.mime for r in out.collect()] == [
        "long/type",
        "short/type",
        "application/octet-stream",
    ]


def test_prefix_slicing_stays_jvm_side(media_spans):
    # Classification is one JVM expression over a substring of the
    # payload: no Python stage, so no payload crosses into Python.
    out = classify_mime(media_spans, data_url_col="media_ref", out_col="detected")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "substring" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mime_from_url_map(spark):
    """S4 extension map (ImageUrlToDataUrlTransformer.cs:21-36): path
    extension wins case-insensitively, query/fragment stripped, unknown
    or missing extension -> image/jpeg default (:235)."""
    from nolock_social_ocr_services_spark.operators.classify import mime_from_url

    cases = [
        ("https://a/x.jpg", "image/jpeg"),
        ("https://a/x.JPEG", "image/jpeg"),
        ("https://a/x.png?w=1", "image/png"),
        ("https://a/x.svg#frag", "image/svg+xml"),
        ("https://a/x.tif", "image/tiff"),
        ("https://a/x.pdf", "application/pdf"),
        ("https://a/x.dat", "image/jpeg"),  # unknown ext -> default
        ("https://a/noext", "image/jpeg"),  # no ext -> default
        (None, None),
    ]
    df = spark.createDataFrame(
        [(u,) for u, _ in cases], "url string"
    ).withColumn("mime", mime_from_url(F.col("url")))
    got = {r.url: r.mime for r in df.collect()}
    for url, want in cases:
        assert got[url] == want, (url, got[url], want)


def test_classify_with_url_fallback(spark, media_spans):
    """Magic bytes win; octet-stream payloads defer to the URL ext."""
    from nolock_social_ocr_services_spark.operators.classify import (
        classify_with_url_fallback,
    )

    with_url = media_spans.withColumn(
        "payload_prefix", decode_data_url_prefix(F.col("media_ref"))
    ).withColumn("url", F.lit("https://img.example/x.webp"))
    out = classify_with_url_fallback(with_url, url_col="url", out_col="combined")
    # every known payload keeps its trie mime
    known = out.filter(F.col("intended_mime") != "application/octet-stream")
    assert known.filter(F.col("combined") != F.col("intended_mime")).count() == 0
    # unknown payloads pick up the url extension mime
    unknown = out.filter(F.col("intended_mime") == "application/octet-stream")
    assert unknown.count() > 0
    assert unknown.filter(F.col("combined") != "image/webp").count() == 0


def test_expr_engine_equivalent_to_search(media_spans):
    """classify_mime must agree with the reference MimeTypeTrie.search,
    run locally on the same decoded prefixes, on EVERY corpus span in
    both modes."""
    for trie, strict, fallback in (
        (lenient_trie(), False, OCTET_STREAM),
        (strict_trie(), True, None),
    ):
        out = classify_mime(
            media_spans, data_url_col="media_ref", out_col="m",
            strict=strict, trie=trie,
        ).select("m", decode_data_url_prefix(F.col("media_ref")).alias("p"))
        rows = out.collect()
        assert rows
        for r in rows:
            want = trie.search(bytes(r.p)) if r.p is not None else None
            assert r.m == (want or fallback), (bytes(r.p or b"").hex(), r.m, want)


def test_expr_engine_random_trie_parity(spark):
    """trie_match_expr == MimeTypeTrie.search on a seeded random trie:
    1-8 byte signatures grown from shared stems (so longest-prefix
    choices are exercised), probed with each signature plus a tail, its
    truncations, divergent last bytes, random bytes and empty input."""
    rng = random.Random(20261017)
    stems = [bytes(rng.randrange(256) for _ in range(rng.randint(1, 3))) for _ in range(6)]
    trie = MimeTypeTrie()
    sigs = set()
    while len(sigs) < 60:
        stem = rng.choice(stems)
        sig = stem + bytes(rng.randrange(256) for _ in range(rng.randint(0, 8 - len(stem))))
        if sig not in sigs:
            sigs.add(sig)
            trie.add(sig, f"x/{len(sigs)}")
    probes = [b""]
    for sig in sorted(sigs):
        probes.append(sig + bytes(rng.randrange(256) for _ in range(4)))
        probes.extend(sig[:k] for k in range(1, len(sig)))
        probes.append(sig[:-1] + bytes([(sig[-1] + 1) % 256]))
    for _ in range(100):
        probes.append(bytes(rng.randrange(256) for _ in range(rng.randint(1, 12))))
    df = spark.createDataFrame([(p,) for p in probes], "p binary")
    got = df.select("p", trie_match_expr(F.col("p"), trie=trie, fallback=None).alias("m"))
    rows = got.collect()
    assert len(rows) == len(probes)
    for r in rows:
        assert r.m == trie.search(bytes(r.p)), bytes(r.p).hex()


def test_expr_engine_golden_vectors(spark):
    """Longest-prefix semantics of the when-chain on edge payloads:
    short forms vs long forms, branching GIF, partial/divergent, NULL,
    malformed base64."""
    rows = [
        ("data:x;base64,/9j/4A==", "image/jpeg"),          # FFD8FF E0: long form
        ("data:x;base64,/9g=", "image/jpeg"),              # FFD8 only: 2-byte short form
        ("data:x;base64,iVBORw0KGgo=", "image/png"),       # full 8-byte png
        ("data:x;base64,iVBORw==", "image/png"),           # 4-byte short form
        ("data:x;base64,R0lGODdh", "image/gif"),           # GIF87a
        ("data:x;base64,R0lGODlh", "image/gif"),           # GIF89a
        ("data:x;base64,R0lGOQ==", "application/octet-stream"),  # GIF8 9-divergent
        ("data:x;base64,JVBERg==", "application/pdf"),
        ("data:x;base64,!!notbase64", "application/octet-stream"),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "media_ref string, expect string")
    out = classify_mime(df, data_url_col="media_ref", out_col="m", engine="expr")
    for r in out.collect():
        assert r.m == r.expect, (r.media_ref, r.m, r.expect)


def test_unknown_engine_raises(media_spans):
    for engine in ("udf", "bogus"):
        with pytest.raises(ValueError, match="unknown classify engine"):
            classify_mime(media_spans, data_url_col="media_ref", engine=engine)
