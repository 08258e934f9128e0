"""Main-content extraction for text/HTML spans — DOM-heuristic
boilerplate stripping (north_rule: "HTML boilerplate strip, PDF/layout
parse, DOM heuristics").

The reference delegates text cleanup to its OCR provider's markdown and
to ``CleanJsonText`` (JsonExtractionService.cs:193-243); our engine owns
the text path, so this module implements the classic boilerplate
heuristics directly as JVM built-ins (regexp inside whole-stage codegen
— no Python stage):

  1. drop non-content DOM regions: <script> <style> <head> <nav>
     <header> <footer> <aside> <form> (tag-block removal);
  2. strip comments and remaining tags;
  3. unescape the common HTML entities;
  4. trim.

``main_content`` scores candidate DOM blocks by their non-anchor text,
the classic content/boilerplate discriminator.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_BLOCK_TAGS = ("script", "style", "head", "nav", "header", "footer", "aside", "form")
_BLOCK_RE = re.compile(
    r"(?is)<(" + "|".join(_BLOCK_TAGS) + r")\b[^>]*>.*?</\1\s*>"
)
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_TAG_RE = re.compile(r"(?s)<[^>]+>")
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; doesn't double-decode
)


def strip_boilerplate(col: Column) -> Column:
    """NULL-safe boilerplate strip — pure built-ins (JVM regexp, inside
    whole-stage codegen; no Python worker in this stage).

    The rule chain: comments out, non-content DOM blocks out
    (backreferenced close tag), remaining tags out, common entities
    unescaped (&amp; last so &amp;lt; does not double-decode), trim. The pipeline builds this Column once
    per SparkContext (``pipeline._extracted_text``).
    """
    c = F.regexp_replace(col, _COMMENT_RE.pattern, "")
    c = F.regexp_replace(c, _BLOCK_RE.pattern, "")
    c = F.regexp_replace(c, _TAG_RE.pattern, "")
    for ent, ch in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(c)


_CONTENT_BLOCK_RE = (
    r"(?is)<(nav|main|article|section|header|footer|aside|div)\b[^>]*>"
    r"(.*?)</\1\s*>"
)


def _block_text(b: Column) -> Column:
    return F.trim(F.regexp_replace(b, r"(?s)<[^>]+>", ""))


def _anchor_chars(b: Column) -> Column:
    return F.length(
        F.array_join(
            F.transform(
                F.split(b, "<a\\b"),
                lambda seg: F.regexp_extract(seg, "(?s)[^>]*>(.*?)</a", 1),
            ),
            "",
        )
    )


def main_content(col: Column) -> Column:
    """Readability-style main-content selection over candidate DOM
    blocks — struct<main_text, main_score, n_blocks>.

    The classic content heuristic (Readability/boilerpipe family):
    candidate blocks are the sectioning elements; each is scored by its
    NON-ANCHOR text length (``len(text) - len(anchor text)`` — the
    integer-exact form of ``text_len * (1 - link_density)``, chosen so
    scores compare identically on every engine with no float ties);
    the highest-scoring block wins, earliest block on ties. Nav bars
    and footer link farms score near zero, body copy scores its length.

    Scale design: like :func:`strip_boilerplate` this is pure per-row
    built-ins — regexp block extraction, a ``transform`` to score, one
    per-row ``array_sort`` — zero Python stages, zero shuffles; the
    operator runs at scan speed inside whole-stage codegen.
    """
    blocks = F.regexp_extract_all(col, F.lit(_CONTENT_BLOCK_RE), F.lit(2))
    scored = F.transform(
        blocks,
        lambda b, i: F.struct(
            (
                -F.greatest(
                    F.length(_block_text(b)) - _anchor_chars(b), F.lit(0)
                )
            ).alias("neg_score"),
            i.alias("pos"),
            _block_text(b).alias("btext"),
        ),
    )
    best = F.element_at(F.array_sort(scored), 1)
    return F.when(
        col.isNull() | (F.size(blocks) == 0), F.lit(None)
    ).otherwise(
        F.struct(
            best["btext"].alias("main_text"),
            (-best["neg_score"]).alias("main_score"),
            F.size(blocks).alias("n_blocks"),
        )
    )
