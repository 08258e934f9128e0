"""PySpark-native re-creation of nolock-social-ocr-services' extraction
pipeline (from scratch — NOT a port of the C# reference at /root/reference).

Core surface:
    trie         — magic-byte MIME trie + strict/lenient signature tables
    corpus       — deterministic interleaved documents synthesizer
    operators    — classify / salt / reassemble DataFrame stages
    extract      — html boilerplate strip, synthetic OCR, typed records
    pipeline     — end-to-end extract pipeline (flat spans, nested documents)
    lineage      — per-partition lineage + checkpoint manifest + resume
    functions    — text analysis, dedup, similarity, multimodal plumbing
    streaming    — Structured Streaming variants
"""

__version__ = "0.1.0"
