"""Multimodal plumbing: schema, batch-shape, and stub contracts."""

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark.functions import multimodal as mm


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [
        (0, bytes.fromhex("FFD8FFE0") + b"jpegdata" * 10),
        (1, bytes.fromhex("89504E470D0A1A0A") + b"pngdata" * 10),
        (2, b""),
        (3, None),
    ]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_decode_stub_raises_without_fake(payloads):
    df = mm.decode_images(payloads, deterministic_fake=False)
    with pytest.raises(Exception, match="NotImplementedError|Pillow|libvips"):
        df.collect()


def test_fake_decode_schema_and_shape(payloads):
    out = mm.decode_images(payloads, deterministic_fake=True)
    rows = {r.id: r for r in out.collect()}
    assert len(rows) == 4  # row-count preserved
    ok = rows[0]
    assert ok.decode_ok and 64 <= ok.width < 256 and ok.channels in (1, 3)
    assert len(ok.features) == mm.FEATURE_DIM
    assert all(0 <= f <= 1 for f in ok.features)
    for bad in (2, 3):
        assert not rows[bad].decode_ok
        assert rows[bad].features is None
    # original columns preserved
    assert rows[1].payload is not None


def test_fake_decode_deterministic(payloads):
    a = {r.id: r.features for r in mm.decode_images(payloads, deterministic_fake=True).collect()}
    b = {r.id: r.features for r in mm.decode_images(payloads, deterministic_fake=True).collect()}
    assert a == b


def test_resize_dims_builtin(spark):
    from nolock_social_ocr_services_spark.functions.multimodal import resize_dims

    df = spark.createDataFrame(
        [(1, 512, 256), (2, 100, 50), (3, 256, 1024), (4, 1, 1)],
        "id long, width int, height int",
    ).select("id", resize_dims(F.col("width"), F.col("height"), 256).alias("t"))
    out = {r.id: (r.t.target_w, r.t.target_h) for r in df.collect()}
    assert out[1] == (256, 128)   # downscale by longest side
    assert out[2] == (100, 50)    # already fits: untouched
    assert out[3] == (64, 256)    # portrait
    assert out[4] == (1, 1)       # floor never hits 0


def test_resize_images_stub_alignment(spark):
    from nolock_social_ocr_services_spark.functions import multimodal as mm

    rows = [(i, bytes([i]) * 10, 300 + i, 200) for i in range(6)] + [
        (99, None, None, None)
    ]
    df = spark.createDataFrame(
        rows, "id long, payload binary, width int, height int"
    )
    out = mm.resize_images(df, deterministic_fake=True)
    got = {r.id: r for r in out.collect()}
    assert len(got) == 7  # row-for-row: no drops, no dupes
    assert got[99].resized is None
    # deterministic: same payload+target -> same token across runs
    again = {r.id: r.resized for r in mm.resize_images(
        df, deterministic_fake=True).collect()}
    assert all(bytes(got[i].resized) == bytes(again[i]) for i in range(6))


def test_resize_images_without_fake_raises(spark):
    from nolock_social_ocr_services_spark.functions import multimodal as mm
    import pyspark

    df = spark.createDataFrame(
        [(1, b"xx", 10, 10)], "id long, payload binary, width int, height int"
    )
    with pytest.raises(Exception, match="Pillow|NotImplementedError"):
        mm.resize_images(df, deterministic_fake=False).collect()


def _make_toy_codec():
    """Minimal 'real' codec for the swap test: payload = b'IMG' + w + h
    + c (one byte each). Anything else raises -> decode_ok=False.
    Defined DYNAMICALLY (function scope) so cloudpickle ships the class
    by value to executors — the tests directory is not on the worker
    import path, exactly like a user-supplied codec from a notebook."""

    class ToyCodec:
        def decode(self, payload):
            import numpy as np

            if payload[:3] != b"IMG" or len(payload) < 6:
                raise ValueError("not a toy image")
            w, h, c = payload[3], payload[4], payload[5]
            feats = np.resize(
                np.frombuffer(payload, dtype=np.uint8).astype(np.float64),
                16,
            ) / 255.0
            return w, h, c, feats

        def resample(self, payload, target_w, target_h):
            self.decode(payload)  # validate
            return b"IMG" + bytes([target_w, target_h, payload[5]])

    return ToyCodec()


@pytest.fixture
def toy_codec():
    mm.register_codec(_make_toy_codec())
    yield
    mm.register_codec(None)


def test_codec_autodetect_absent_in_container():
    # no image lib here; the fake is the only runnable path by default
    assert mm.available_codec() is None


def test_registered_codec_used_without_code_edits(spark, toy_codec):
    """Directive: the real-codec path must be swappable in without
    editing the stages — register a codec, run decode WITHOUT the fake
    flag, get real decodes + error-as-data for corrupt payloads."""
    rows = [
        (0, b"IMG" + bytes([120, 80, 3]) + b"pixels"),
        (1, b"notanimage"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in mm.decode_images(df).collect()}
    assert out[0].decode_ok and (out[0].width, out[0].height, out[0].channels) == (120, 80, 3)
    assert len(out[0].features) == mm.FEATURE_DIM
    assert not out[1].decode_ok and out[1].features is None  # corrupt -> data
    assert not out[2].decode_ok


def test_registered_codec_resample(spark, toy_codec):
    df = spark.createDataFrame(
        [(0, b"IMG" + bytes([200, 100, 1]) + b"x")], "id long, payload binary"
    )
    dec = mm.decode_images(df)
    out = mm.resize_images(dec, max_side=50).collect()[0]
    # 200x100 fits into 50 -> 50x25; toy codec re-encodes the header
    assert out.resized == b"IMG" + bytes([50, 25, 1])


# -- perceptual hash + near-dup -------------------------------------------------


def test_phash_bits_threshold_rule(spark):
    """bit i set iff features[i] > mean(features); NULL features -> NULL."""
    rows = [
        (0, [1.0] * 8 + [0.0] * 8),   # mean 0.5 -> low 8 bits set
        (1, [0.5] * 16),              # all equal: no bit strictly > mean
        (2, None),
    ]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    out = {r.id: r.phash for r in mm.with_phash(df).collect()}
    assert out[0] == 0x00FF
    assert out[1] == 0
    assert out[2] is None


def test_phash_near_dup_with_registered_codec(spark, toy_codec):
    """End to end through a REAL (injected) codec: two toy images whose
    payloads differ by one trailing pixel byte produce near-identical
    feature vectors -> small hamming -> paired; an unrelated image is
    not. The multimodal analogue of text near-dup, same banded join."""
    from nolock_social_ocr_services_spark.functions import dedup as dd

    a1 = b"IMG" + bytes([100, 100, 3]) + bytes(range(40))
    a2 = b"IMG" + bytes([100, 100, 3]) + bytes(range(39)) + b"\x29"  # 1 byte off
    b1 = b"IMG" + bytes([90, 60, 1]) + bytes(range(200, 240))
    df = spark.createDataFrame(
        [("a1", a1), ("a2", a2), ("b1", b1)], "span_id string, payload binary"
    )
    dec = mm.decode_images(df)  # registered toy codec, no fake flag
    ph = mm.with_phash(dec).select("span_id", "phash")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_near_dup(
            ph, max_hamming=2, bands=4, bits=16, id_col="span_id",
            sim_col="phash",
        ).collect()
    }
    assert ("a1", "a2") in pairs and pairs[("a1", "a2")] <= 2
    assert not any("b1" in p for p in pairs)


# -- BmpCodec: the real-codec branch, end-to-end, no image library -------------


@pytest.fixture
def bmp_codec():
    mm.register_codec(mm.BmpCodec())
    yield
    mm.register_codec(None)


def _test_image():
    """8x6 RGB gradient + known corners; returns (pixels, payload)."""
    import numpy as np

    px = np.zeros((6, 8, 3), dtype=np.uint8)
    for y in range(6):
        for x in range(8):
            px[y, x] = (x * 30, y * 40, (x + y) * 10)
    px[0, 0] = (255, 255, 255)
    px[5, 7] = (0, 0, 0)
    return px, mm.encode_bmp(px)


def test_bmp_roundtrip_decode_exact():
    """Byte-level round trip: encode -> decode gives exact dims and the
    hand-computed ITU-R 601 luma thumbnail."""
    import numpy as np

    px, payload = _test_image()
    w, h, c, feats = mm.BmpCodec().decode(payload)
    assert (w, h, c) == (8, 6, 3)
    luma = (
        px[:, :, 0].astype(np.int64) * 299
        + px[:, :, 1].astype(np.int64) * 587
        + px[:, :, 2].astype(np.int64) * 114
    ) // 1000
    sy = (np.arange(4) * 6) // 4
    sx = (np.arange(4) * 8) // 4
    expected = luma[np.ix_(sy, sx)].astype(np.float64).reshape(16) / 255.0
    np.testing.assert_array_equal(feats, expected)


def test_bmp_codec_decode_images_end_to_end(spark, bmp_codec):
    """decode_images with deterministic_fake=False runs the REAL-codec
    branch: auto-detect returns the registered BmpCodec, the closure
    ships it to executors, output is byte-asserted."""
    import numpy as np

    px, payload = _test_image()
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"not a bmp")), (3, None)],
        "id long, payload binary",
    )
    rows = {r.id: r for r in mm.decode_images(df).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (8, 6, 3)
    assert rows[1].decode_ok
    _, _, _, feats = mm.BmpCodec().decode(payload)
    np.testing.assert_array_equal(np.array(rows[1].features), feats)
    # corrupt payload: error-as-data, not a batch failure (ST6)
    assert not rows[2].decode_ok and rows[2].features is None
    assert not rows[3].decode_ok


def test_bmp_codec_phash_end_to_end(spark, bmp_codec):
    """decode -> with_phash over the real-codec branch: the hash long
    equals the hand-computed threshold-vs-mean bit fold."""
    px, payload = _test_image()
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, payload binary")
    out = mm.with_phash(mm.decode_images(df)).collect()[0]
    _, _, _, feats = mm.BmpCodec().decode(payload)
    mean = feats.sum() / len(feats)
    expected = sum(1 << i for i, v in enumerate(feats) if v > mean)
    assert out.phash == expected


def test_bmp_codec_resize_images_bytes_exact(spark, bmp_codec):
    """resize_images real-codec branch: resized payload bytes equal the
    nearest-neighbor resample computed directly."""
    px, payload = _test_image()
    df = spark.createDataFrame(
        [(1, bytearray(payload), 8, 6)],
        "id long, payload binary, width int, height int",
    )
    out = mm.resize_images(df, max_side=4).collect()[0]
    # resize_dims: 8x6 -> scale 0.5 -> 4x3
    expected = mm.BmpCodec().resample(payload, 4, 3)
    assert bytes(out.resized) == expected
    assert len(expected) == 4 * 3 * 3


def test_bmp_two_tone_thumbnail_collapse_rule():
    """The invariant bmp_decode_phash's oracle rides on: for ANY width
    8..12, the 4x4 nearest-neighbor column samples split exactly 2/2
    around w//2, so a left/right two-tone image always yields thumbnail
    rows [A, A, B, B] and an aHash of 0x3333 / 0xCCCC / 0."""
    import numpy as np

    codec = mm.BmpCodec()
    for d in [0, 3, 17, 255, 256, 511, 9999]:
        w, h = 8 + d % 5, 6 + d % 3
        a = (d % 256, (2 * d) % 256, (3 * d) % 256)
        b = ((5 * d) % 256, (7 * d) % 256, (11 * d) % 256)
        px = np.zeros((h, w, 3), np.uint8)
        px[:, : w // 2] = a
        px[:, w // 2 :] = b
        gw, gh, gc, feats = codec.decode(mm.encode_bmp(px))
        assert (gw, gh, gc) == (w, h, 3)
        la = (299 * a[0] + 587 * a[1] + 114 * a[2]) // 1000
        lb = (299 * b[0] + 587 * b[1] + 114 * b[2]) // 1000
        np.testing.assert_array_equal(
            feats, np.array([la, la, lb, lb] * 4, dtype=np.float64) / 255.0
        )
        mean = feats.sum() / 16
        phash = sum(1 << i for i, v in enumerate(feats) if v > mean)
        assert phash == (13107 if la > lb else 52428 if lb > la else 0)
