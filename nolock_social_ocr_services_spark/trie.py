"""Magic-byte MIME classification: byte-prefix trie + signature tables.

Re-creation (from scratch, Spark-first) of the reference's byte-signature
classifier:

* ``MimeTypeTrie`` mirrors the semantics of the C# trie
  (reference ``Nolock.social.OCRservices.Core/Utils/MimeTypeTrie.cs:3-79``):
  ``add`` inserts a byte signature -> MIME (conflicting re-insert raises,
  ``MimeTypeTrie.cs:13-34``); ``search`` walks the payload byte-by-byte,
  remembers the deepest node carrying a MIME (longest-prefix match) and
  early-exits on the first missing edge (``MimeTypeTrie.cs:36-58``);
  ``get_all_mime_types`` enumerates every stored MIME
  (``MimeTypeTrie.cs:60-79``).

* The Spark stage (``operators.classify.trie_match_expr``) compiles
  ``signatures()`` into a codegen'd when-chain over the payload's first
  ``PREFIX_LEN`` bytes; it is property-tested against ``search``.

Production signature tables reproduce the reference exactly:

* strict 5-format table  — ``PipelineNodeImageToUrl.cs:11-20`` (unknown
  signature raises, listing supported types, ``:38-48``);
* lenient 11-signature table — ``OcrRequestHandler.cs:120-139`` (unknown
  falls back to ``application/octet-stream``, ``:115-118``).
"""

from __future__ import annotations

OCTET_STREAM = "application/octet-stream"


class MimeTypeTrie:
    """Byte-prefix trie with longest-prefix-match search."""

    __slots__ = ("_root", "_count")

    def __init__(self) -> None:
        # node = (children: dict[int, node], mime: str | None) — stored as a
        # 2-item list so mime can be assigned after creation.
        self._root: list = [{}, None]
        self._count = 0

    def add(self, signature: bytes, mime_type: str) -> None:
        """Insert signature -> mime.

        Re-inserting the same signature with a *different* MIME raises
        (mirrors the conflict behavior tested in MimeTypeTrieTests.cs:49-62).
        """
        if signature is None:
            raise ValueError("signature must not be None")
        if mime_type is None or not mime_type.strip():
            raise ValueError("mime_type must be a non-empty string")
        if len(signature) == 0:
            raise ValueError("signature must not be empty")
        node = self._root
        for b in signature:
            node = node[0].setdefault(b, [{}, None])
        if node[1] is not None and node[1] != mime_type:
            raise ValueError(
                f"conflicting MIME for signature {signature.hex()}: "
                f"{node[1]!r} vs {mime_type!r}"
            )
        if node[1] is None:
            node[1] = mime_type
            self._count += 1

    def search(self, data: bytes | None) -> str | None:
        """Longest-prefix match; None when no stored signature prefixes data."""
        if not data:
            return None
        node = self._root
        found = None
        for b in data:
            child = node[0].get(b)
            if child is None:
                break  # early exit on first missing edge
            node = child
            if node[1] is not None:
                found = node[1]  # deepest (longest) match wins
        return found

    def get_all_mime_types(self) -> list[str]:
        """All stored MIME types (DFS order, deduplicated, sorted)."""
        out: set[str] = set()
        stack = [self._root]
        while stack:
            node = stack.pop()
            if node[1] is not None:
                out.add(node[1])
            stack.extend(node[0].values())
        return sorted(out)

    def __len__(self) -> int:
        return self._count

    def signatures(self) -> list[tuple[bytes, str]]:
        """All stored (signature, mime) pairs (DFS, deterministic order)."""
        out: list[tuple[bytes, str]] = []
        stack: list[tuple[bytes, list]] = [(b"", self._root)]
        while stack:
            prefix, node = stack.pop()
            if node[1] is not None:
                out.append((prefix, node[1]))
            for b in sorted(node[0], reverse=True):
                stack.append((prefix + bytes([b]), node[0][b]))
        return out


# -- production signature tables (reference parity) -------------------------

#: Strict 5-format table: PipelineNodeImageToUrl.cs:11-20.
STRICT_SIGNATURES: tuple[tuple[bytes, str], ...] = (
    (bytes.fromhex("FFD8FF"), "image/jpeg"),
    (bytes.fromhex("89504E470D0A1A0A"), "image/png"),
    (bytes.fromhex("474946383761"), "image/gif"),  # GIF87a
    (bytes.fromhex("474946383961"), "image/gif"),  # GIF89a
    (bytes.fromhex("52494646"), "image/webp"),  # RIFF container
    (bytes.fromhex("424D"), "image/bmp"),
)

#: Lenient table (superset, adopted for the pipeline): OcrRequestHandler.cs:125-137.
LENIENT_SIGNATURES: tuple[tuple[bytes, str], ...] = STRICT_SIGNATURES + (
    (bytes.fromhex("FFD8"), "image/jpeg"),  # 2-byte short form
    (bytes.fromhex("89504E47"), "image/png"),  # 4-byte short form
    (bytes.fromhex("00000100"), "image/x-icon"),
    (bytes.fromhex("49492A00"), "image/tiff"),  # II* little-endian
    (bytes.fromhex("4D4D002A"), "image/tiff"),  # MM* big-endian
    (bytes.fromhex("25504446"), "application/pdf"),  # %PDF
    (bytes.fromhex("0000001866747970"), "image/heic"),  # ....ftyp
)


def build_trie(signatures: tuple[tuple[bytes, str], ...]) -> MimeTypeTrie:
    trie = MimeTypeTrie()
    for sig, mime in signatures:
        trie.add(sig, mime)
    return trie


def strict_trie() -> MimeTypeTrie:
    return build_trie(STRICT_SIGNATURES)


def lenient_trie() -> MimeTypeTrie:
    return build_trie(LENIENT_SIGNATURES)


#: Max bytes the classifier ever needs from a payload (longest signature = 8;
#: 16 leaves headroom). Payloads are sliced to this length JVM-side, so the
#: classifier never decodes a full payload (SURVEY.md §4 O1).
PREFIX_LEN = 16
