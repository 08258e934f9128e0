"""Span MIME classification as a DataFrame stage.

Vectorized re-creation of the reference's classify step
(``OcrRequestHandler.DetectMimeType``, OcrRequestHandler.cs:115-118, and
``PipelineNodeImageToUrl``, PipelineNodeImageToUrl.cs:22-48): the trie's
signature table is compiled into a codegen'd ``when`` chain, so
classification runs entirely in the JVM with no Python stage.

Scale note (SURVEY.md §4 O1): only a ``PREFIX_LEN``-byte slice of each
payload is ever decoded — the slice happens via ``substring`` on the
binary / base64 string column before ``hex``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import per_context
from ..trie import OCTET_STREAM, PREFIX_LEN, lenient_trie

# base64 chars needed to decode PREFIX_LEN bytes (4 chars per 3 bytes).
_B64_PREFIX_CHARS = ((PREFIX_LEN + 2) // 3) * 4


def decode_data_url_prefix(media_ref: Column) -> Column:
    """JVM-side: data-URL string -> first PREFIX_LEN payload bytes.

    The reference receives raw streams and *builds* data URLs
    (PipelineNodeImageToUrl.cs:30-32); our corpus stores the data URL, so
    classification first recovers the leading payload bytes. Everything
    here is built-in (codegen'd): locate ';base64,', slice just enough
    base64 chars to cover PREFIX_LEN bytes, unbase64.
    """
    b64_part = F.substring_index(media_ref, ";base64,", -1)
    # try_to_binary, not unbase64: under ANSI mode (Spark 4 default)
    # unbase64 THROWS on malformed base64, so one corrupt media_ref
    # would abort the whole job — at 10^12 docs that is a guaranteed
    # multi-hour-job killer. try_to_binary yields NULL instead, which
    # classifies as unknown payload -> octet-stream -> per-row
    # extract_error (errors stay data, ST6). The slice length is % 4 ==
    # 0 so valid prefixes are never cut mid-unit.
    return F.try_to_binary(
        F.substring(b64_part, 1, _B64_PREFIX_CHARS), F.lit("base64")
    )


def trie_match_expr(
    prefix: Column, trie=None, fallback: str | None = OCTET_STREAM
) -> Column:
    """The trie compiled to a pure JVM expression (whole-stage codegen).

    Longest-prefix match as a ``when`` chain over ``hex(prefix)``:
    signatures are tested longest-first (built innermost-out, so the
    longest ends up outermost). That is the deepest-node-wins rule of
    ``MimeTypeTrie.search`` (MimeTypeTrie.cs:36-58), the reference the
    tests check it against. NULL / empty / unmatched prefixes yield
    ``fallback``.

    The signature table is static and tiny, so a codegen'd branch chain
    beats shipping prefixes over Arrow to a Python worker (measured on
    the sf0.1 x20 corpus, local[16]: 2.07-2.28 s vs 2.27-2.78 s for the
    whole pipeline against a broadcast NumPy-trie pandas UDF).
    """
    sigs = (trie or lenient_trie()).signatures()
    hexcol = F.hex(prefix)
    expr = F.lit(fallback).cast("string")
    for sig, mime in sorted(sigs, key=lambda s: len(s[0])):
        expr = F.when(hexcol.startswith(sig.hex().upper()), F.lit(mime)).otherwise(
            expr
        )
    return expr


def classify_mime(
    df: DataFrame,
    payload_col: str = "payload_prefix",
    out_col: str = "mime",
    *,
    data_url_col: str | None = None,
    strict: bool = False,
    trie=None,
    engine: str = "expr",
) -> DataFrame:
    """Add ``out_col`` with the trie-detected MIME of each row's payload.

    Args:
        payload_col: binary column holding (at least) the payload head.
        data_url_col: if given, derive the payload prefix JVM-side from a
            data-URL string column instead of ``payload_col``.
        strict: strict mode maps unknown signatures to NULL (callers
            quarantine; the reference throws NotSupportedException,
            PipelineNodeImageToUrl.cs:38-48); lenient mode (default) falls
            back to application/octet-stream (OcrRequestHandler.cs:115-118).
        engine: only ``"expr"``, the trie compiled to a codegen'd
            ``when`` chain (:func:`trie_match_expr`); kept as a keyword
            so existing callers that name it keep working.
    """
    if engine != "expr":
        raise ValueError(f"unknown classify engine {engine!r}")
    build = _mime_expr if trie is None else _mime_expr.__wrapped__
    return df.withColumn(out_col, build(payload_col, data_url_col, strict, trie))


@per_context
def _mime_expr(payload_col: str, data_url_col: str | None, strict: bool, trie) -> Column:
    """The MIME Column of :func:`classify_mime`, built once per context
    for the default trie (a custom ``trie`` is built per call)."""
    fallback = None if strict else OCTET_STREAM
    if data_url_col is not None:
        src = F.col(data_url_col)
        prefix = decode_data_url_prefix(src)
    else:
        src = F.col(payload_col)
        prefix = F.substring(src, 1, PREFIX_LEN)
    matched = trie_match_expr(prefix, trie=trie, fallback=fallback)
    # NULL payload stays NULL mime in both modes (nothing to classify).
    return F.when(src.isNull(), F.lit(None).cast("string")).otherwise(matched)


# -- S4: extension -> MIME fallback (URL sources) -----------------------------

# Mirrors the reference's MimeTypeMap (ImageUrlToDataUrlTransformer.cs:21-36)
# and DetectMimeTypeFromUrl (:217-236): extension of the URL *path* (query/
# fragment excluded), lowercased; unknown/missing -> "image/jpeg".
EXT_MIME: dict[str, str] = {
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "png": "image/png",
    "gif": "image/gif",
    "bmp": "image/bmp",
    "webp": "image/webp",
    "svg": "image/svg+xml",
    "ico": "image/x-icon",
    "tiff": "image/tiff",
    "tif": "image/tiff",
    "pdf": "application/pdf",
}
EXT_MIME_DEFAULT = "image/jpeg"


def mime_from_url(url: Column) -> Column:
    """MIME type from a URL's file extension — pure built-ins (codegen'd).

    Re-creation of ``DetectMimeTypeFromUrl``
    (ImageUrlToDataUrlTransformer.cs:217-236): take the extension of the
    URL path (``Uri.LocalPath`` semantics -> strip query/fragment first),
    case-insensitive map, default ``image/jpeg``.
    """
    path = F.regexp_replace(url, r"[?#].*$", "")
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    expr = F.lit(EXT_MIME_DEFAULT)
    for e, m in EXT_MIME.items():
        expr = F.when(ext == e, F.lit(m)).otherwise(expr)
    return F.when(url.isNull(), F.lit(None).cast("string")).otherwise(expr)


def classify_with_url_fallback(
    df: DataFrame,
    payload_col: str = "payload_prefix",
    url_col: str = "url",
    out_col: str = "mime",
) -> DataFrame:
    """Trie classification with S4 URL-extension fallback: magic bytes
    win; unknown payloads (octet-stream) defer to the URL extension —
    the combined behavior of OcrRequestHandler.DetectMimeType +
    DetectMimeTypeFromUrl when a source URL is available."""
    classified = classify_mime(df, payload_col=payload_col, out_col="__trie_mime")
    return classified.withColumn(
        out_col,
        F.when(
            F.col("__trie_mime").isNotNull() & (F.col("__trie_mime") != OCTET_STREAM),
            F.col("__trie_mime"),
        ).otherwise(mime_from_url(F.col(url_col))),
    ).drop("__trie_mime")
