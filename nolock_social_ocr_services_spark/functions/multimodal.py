"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
stages.

The Spark-side architecture here is real and tested — schemas,
partition-preserving batch iteration, UDF signatures, batch shapes. The
codec step AUTO-DETECTS a real image library: ``available_codec()``
returns a Pillow-backed codec when PIL imports (a real cluster), or any
codec injected via ``register_codec`` (deployment hook, also how the
tests prove the path is swappable without code edits), and ``None`` in
this container (no image libs, installs disallowed) — in which case
``decode_images``/``resize_images`` raise ``NotImplementedError`` unless
``deterministic_fake=True``, whose seeded pure function of the payload
bytes produces stable metadata + features (what the oracle pins down).
The codec is resolved DRIVER-SIDE at plan build and captured in the
mapInPandas closure, so it ships to executors with the task — no
worker-side import-order dependence.

The reference treats payloads the same way: opaque byte streams with a
sniffed MIME (OcrRequestHandler.cs:69-82) handed to an external decoder.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)

FEATURE_DIM = 16


class PillowCodec:
    """Real image codec backed by PIL, used automatically when Pillow is
    importable (a real cluster). Same contract as the deterministic
    fake: decode -> (width, height, channels, FEATURE_DIM features);
    resample -> raw bytes of the resized image."""

    def decode(self, payload: bytes) -> tuple[int, int, int, np.ndarray]:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        width, height = img.size
        channels = len(img.getbands())
        # 16-dim feature: 4x4 grayscale thumbnail, row-major, [0,1]
        thumb = img.convert("L").resize((4, 4))
        feats = (
            np.asarray(thumb, dtype=np.float64).reshape(FEATURE_DIM) / 255.0
        )
        return width, height, channels, feats

    def resample(self, payload: bytes, target_w: int, target_h: int) -> bytes:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        return img.resize((target_w, target_h)).tobytes()


class BmpCodec:
    """Pure-Python codec for uncompressed 24-bit BMP — no image library
    needed, so the REAL-codec branch of decode/resize (the closure
    capture, per-payload try/except, feature extraction, byte output)
    is exercisable end-to-end in this container. Same contract as
    PillowCodec: decode -> (w, h, channels, FEATURE_DIM features with
    the ITU-R 601 luma 4x4 thumbnail), resample -> raw RGB bytes
    (nearest-neighbor). BMP is the right format for a ~60-line decoder:
    fixed little-endian headers, raw BGR rows bottom-up, 4-byte row
    padding, no compression. Malformed payloads raise ValueError, which
    ``decode_image_batch`` turns into decode_ok=False rows (ST6)."""

    def _parse(self, payload: bytes):
        import struct

        if len(payload) < 54 or payload[:2] != b"BM":
            raise ValueError("not a BMP")
        pix_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            raise ValueError("unsupported BMP header")
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if bpp != 24 or comp != 0 or width <= 0 or height == 0:
            raise ValueError("only uncompressed 24-bit BMP supported")
        bottom_up = height > 0
        height = abs(height)
        stride = (width * 3 + 3) & ~3
        if len(payload) < pix_off + stride * height:
            raise ValueError("truncated BMP pixel data")
        # rows as (height, width, 3) RGB, top-down
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * height, offset=pix_off
        ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
        if bottom_up:
            rows = rows[::-1]
        return rows[:, :, ::-1]  # BGR -> RGB

    def decode(self, payload: bytes) -> tuple[int, int, int, np.ndarray]:
        px = self._parse(payload)
        h, w = px.shape[:2]
        # ITU-R 601 integer luma (Pillow convert("L") formula), then a
        # 4x4 nearest-neighbor thumbnail, row-major, [0,1]
        luma = (
            px[:, :, 0].astype(np.int64) * 299
            + px[:, :, 1].astype(np.int64) * 587
            + px[:, :, 2].astype(np.int64) * 114
        ) // 1000
        sy = (np.arange(4) * h) // 4
        sx = (np.arange(4) * w) // 4
        thumb = luma[np.ix_(sy, sx)]
        feats = thumb.astype(np.float64).reshape(FEATURE_DIM) / 255.0
        return w, h, 3, feats

    def resample(self, payload: bytes, target_w: int, target_h: int) -> bytes:
        px = self._parse(payload)
        h, w = px.shape[:2]
        sy = (np.arange(target_h) * h) // target_h
        sx = (np.arange(target_w) * w) // target_w
        return px[np.ix_(sy, sx)].tobytes()


def encode_bmp(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    bottom-up BMP — the test-side generator for BmpCodec round-trips."""
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in px[::-1]:  # bottom-up
        line = row[:, ::-1].tobytes()  # RGB -> BGR
        body += line + b"\x00" * (stride - len(line))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    return header + info + bytes(body)


_REGISTERED_CODEC = None


def register_codec(codec) -> None:
    """Install a custom codec (any object with ``decode``/``resample``)
    ahead of auto-detection. Must be picklable: it is captured in the
    mapInPandas closure and shipped to executors."""
    global _REGISTERED_CODEC
    _REGISTERED_CODEC = codec


def available_codec():
    """The codec the decode/resize stages will use: an explicitly
    registered one, else Pillow if importable, else None (this
    container: no image libs -> None, the deterministic fake is the
    only runnable path)."""
    if _REGISTERED_CODEC is not None:
        return _REGISTERED_CODEC
    try:
        import PIL  # noqa: F401
    except ImportError:
        return None
    return PillowCodec()


def _fake_decode(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Deterministic stand-in for a real image decoder: dims + a feature
    vector derived from the payload digest. Stable across runs/hosts.

    The digest hashes the UPPERCASE HEX of the payload (not the raw
    bytes) so an independent SQL oracle can recompute it — DuckDB's
    ``md5`` only accepts VARCHAR, and ``md5(hex(blob))`` is its exact
    equivalent (see the decode_image_meta oracle in queries.py)."""
    d = hashlib.md5(payload.hex().upper().encode("ascii")).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    channels = 1 + (d[2] % 2) * 2  # 1 or 3
    rng = np.frombuffer(d, dtype=np.uint8).astype(np.float64)
    feats = np.resize(rng, FEATURE_DIM) / 255.0
    return width, height, channels, feats


def decode_image_batch(
    payloads: pd.Series, deterministic_fake: bool = False, codec=None
) -> pd.DataFrame:
    """One Arrow batch: binary payloads -> (width,height,channels,
    decode_ok, features). ``codec`` = a real decoder (auto-detected by
    the calling stage); ``deterministic_fake`` = the seeded stand-in;
    neither -> NotImplementedError (this container ships no image lib).
    A real codec's per-payload failures become decode_ok=False rows —
    errors stay data (ST6), one corrupt image never fails the batch."""
    if not deterministic_fake and codec is None:
        raise NotImplementedError(
            "image decoding requires a codec (Pillow auto-detected, or "
            "register_codec(...)); pass deterministic_fake=True for the "
            "seeded stand-in"
        )
    metas = []
    feats = []
    for p in payloads:
        if p is None or len(p) == 0:
            metas.append((None, None, None, False))
            feats.append(None)
            continue
        if deterministic_fake:
            w, h, c, f = _fake_decode(bytes(p))
        else:
            try:
                w, h, c, f = codec.decode(bytes(p))
            except Exception:
                metas.append((None, None, None, False))
                feats.append(None)
                continue
        metas.append((w, h, c, True))
        feats.append(np.asarray(f, dtype=np.float64).tolist())
    out = pd.DataFrame(metas, columns=["width", "height", "channels", "decode_ok"])
    out["features"] = feats
    return out


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    deterministic_fake: bool = False,
    codec=None,
) -> DataFrame:
    """mapInPandas stage: append image metadata + feature vector columns.

    Batch shape contract: output rows == input rows per batch, original
    columns preserved, so the stage composes anywhere in a pipeline
    without realignment joins.

    Codec resolution happens HERE (driver, plan build): the resolved
    codec object rides the closure to executors, so the same code is the
    real decoder on a cluster with Pillow and the guarded fake here.
    Pass ``codec=`` to pin one explicitly for this stage (a query
    should not have to mutate the process-global registry).
    """
    if codec is None:
        codec = None if deterministic_fake else available_codec()
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("decode_ok", T.BooleanType(), False),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = decode_image_batch(
                pdf[payload_col],
                deterministic_fake=deterministic_fake,
                codec=codec,
            )
            yield pd.concat(
                [pdf.reset_index(drop=True), decoded.reset_index(drop=True)], axis=1
            )

    return df.mapInPandas(process, schema=out_schema)


def with_phash(
    df: DataFrame,
    features_col: str = "features",
    out_col: str = "phash",
    n_bits: int = FEATURE_DIM,
) -> DataFrame:
    """Perceptual hash over the decoded feature vector: bit i is set
    iff features[i] > mean(features) — the aHash/pHash thresholding
    rule (pHash proper thresholds low-frequency DCT coefficients
    against their central tendency; the features column here IS the
    low-frequency thumbnail, 4x4 grayscale under the Pillow codec).
    Near-duplicate images — recompressed, slightly cropped, format-
    shifted — keep most bits, so hamming distance on the hash is the
    image analogue of SimHash on text.

    Pure built-ins AFTER the decode stage: the mean is materialized
    once as its own column (Catalyst does not CSE across projection
    expressions — inlining it would recompute the fold per bit), then
    the n_bits threshold tests fold into one long. NULL features
    (decode failures) get a NULL hash and fall out of the band join."""
    feats = F.col(features_col)
    mean = F.aggregate(feats, F.lit(0.0), lambda a, v: a + v) / F.size(feats)
    tmp = df.withColumn("_fmean", F.when(F.size(feats) > 0, mean))
    bits_sum = None
    for i in range(n_bits):
        term = F.when(
            F.element_at(feats, i + 1) > F.col("_fmean"), F.lit(1 << i)
        ).otherwise(F.lit(0)).cast("long")
        bits_sum = term if bits_sum is None else bits_sum + term
    return tmp.withColumn(
        out_col, F.when(F.col("_fmean").isNotNull(), bits_sum)
    ).drop("_fmean")


def resize_dims(
    width: F.Column, height: F.Column, max_side: int = 256
) -> F.Column:
    """Aspect-preserving fit-in-box target dims, pure built-ins (stays
    in whole-stage codegen): struct(target_w, target_h). Images already
    inside the box keep their dims (no upscaling)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_side)) / F.greatest(width, height).cast("double"),
    )
    return F.struct(
        F.greatest(F.floor(width * scale), F.lit(1)).cast("int").alias("target_w"),
        F.greatest(F.floor(height * scale), F.lit(1)).cast("int").alias("target_h"),
    )


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    width_col: str = "width",
    height_col: str = "height",
    max_side: int = 256,
    deterministic_fake: bool = False,
) -> DataFrame:
    """mapInPandas resize stage. Target dims are computed JVM-side by
    ``resize_dims`` (so the plan prunes to only the needed columns); the
    pixel resample uses the auto-detected codec (Pillow on a real
    cluster, or register_codec), else the deterministic fake emits a
    payload-digest token as the "resized" payload so tests can pin
    row alignment and schema without an image library.
    """
    codec = None if deterministic_fake else available_codec()
    with_dims = df.withColumn(
        "_target", resize_dims(F.col(width_col), F.col(height_col), max_side)
    )
    # `_target` is a stage-internal helper: it must not leak into the
    # output schema (downstream selects / written schemas).
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("resized", T.BinaryType(), True)]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not deterministic_fake and codec is None:
                raise NotImplementedError(
                    "pixel resample requires a codec (Pillow auto-detected, "
                    "or register_codec(...)); pass deterministic_fake=True "
                    "for the seeded stand-in"
                )
            resized = []
            for p, t in zip(pdf[payload_col], pdf["_target"]):
                if p is None or t is None or t.get("target_w") is None:
                    resized.append(None)
                elif deterministic_fake:
                    token = hashlib.md5(
                        bytes(p) + b"|%dx%d" % (t["target_w"], t["target_h"])
                    ).digest()
                    resized.append(token)
                else:
                    try:
                        resized.append(
                            codec.resample(
                                bytes(p), t["target_w"], t["target_h"]
                            )
                        )
                    except Exception:
                        resized.append(None)  # corrupt image: error-as-data
            out = pdf.reset_index(drop=True).drop(columns=["_target"])
            out["resized"] = resized
            yield out

    return with_dims.mapInPandas(process, schema=out_schema)
