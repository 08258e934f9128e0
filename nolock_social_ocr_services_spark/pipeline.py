"""End-to-end extraction pipeline (the reference's EP1/EP2 spine,
SURVEY.md §3, re-expressed as one declarative Spark plan):

    documents(doc_id, spans[])                  Iceberg/parquet scan
      -> explode_outer(spans)                   U2 flatten
      -> salted repartition                     §4 custom #1 (skew)
      -> trie classify (codegen'd when-chain)   C1-C4
      -> synthetic OCR (scalar Arrow UDF)       T2 stand-in
      -> ordered page concat (built-ins)        T3 / W1
      -> html boilerplate strip                 north_rule text path
      -> typed field extraction (built-ins)     T4-T8
      -> per-doc ordered re-assembly            W1 invariant

Every stage up to the html strip is the span-text core (``_span_text``),
which both outputs share. Each output builds only the layers it reads,
as the reference runs only the chain an endpoint needs
(Program.cs:75-102): ``extracted_documents`` reassembles the core's span
fields, and ``extract_rows`` is the one place that adds the typed field
extraction (``route_and_extract``) on top of it.

Every stage keeps per-row failures as data (error columns), never
failing the job for one row (ST6, ReactivePipelineExtensions.cs:180-188).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .extract.html import strip_boilerplate
from .extract.ocr import concat_pages, run_ocr
from .extract.records import route_and_extract
from .operators.classify import classify_mime
from .operators.reassemble import reassemble_spans
from .operators.salt import salted_repartition
from .session import per_context

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> one row per span. A document whose ``spans``
    is empty or NULL keeps one row with every span field NULL; its NULL
    ``offset`` marks that row as no span (``reassemble_spans`` turns it
    back into ``[]``). Catalyst prunes unselected nested fields out of
    the scan (check ReadSchema in .explain)."""
    exploded, fields = _explode_exprs()
    return docs.select(*exploded).select(*fields)


@per_context
def _explode_exprs() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    return (
        (F.col("doc_id"), F.explode_outer("spans").alias("s")),
        tuple(F.col(c) for c in ("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")),
    )


def _span_text(docs: DataFrame) -> DataFrame:
    """The span-text core: explode -> salted exchange -> classify -> OCR
    -> page text -> ``extracted_text``, the extraction result per kind.
    One row per span plus the NULL-offset row of each document without
    spans. Both outputs build on it; neither builds it another way."""
    # No count: AQE coalesces the exchange below spark.sql.shuffle.partitions
    # from its shuffle bytes; parallelismFirst aims at bytes/defaultParallelism
    # (at least 1 MB), so a large input still fills every core. A small one
    # gets few tasks: each Python task pays ~0.25 CPU-s up front, mostly in
    # pyspark's setup_spark_files re-reading its zipimport directories.
    salted = salted_repartition(explode_spans(docs))
    classified = classify_mime(salted, data_url_col="media_ref", out_col="mime")
    return concat_pages(run_ocr(classified)).withColumn("extracted_text", _extracted_text())


@per_context
def _extracted_text() -> Column:
    html_only = F.when(F.col("kind") == "html", F.col("text"))  # masked input
    return (
        F.when(F.col("kind") == "html", strip_boilerplate(html_only))
        .when(F.col("kind") == "text", F.col("text"))
        .otherwise(F.col("ocr_text"))
    )


def _renamed(names: tuple[str, ...]) -> tuple[Column, ...]:
    """``names`` as Columns, with ``text`` read from ``extracted_text``."""
    return tuple(
        F.col("extracted_text").alias("text") if c == "text" else F.col(c) for c in names
    )


@per_context
def _output() -> tuple[Column, ...]:
    return _renamed((
        "doc_id", "offset", "kind", "mime", "text", "media_ref", "receipt", "check",
        "receipt_full", "check_full", "schema_used", "extract_error", "confidence",
        "ocr_model", "ocr_tokens",
    ))


@per_context
def _span_columns() -> tuple[Column, ...]:
    return _renamed(("doc_id", "offset", "kind", "text", "media_ref"))


@per_context
def _has_offset() -> Column:
    return F.col("offset").isNotNull()


def extract_rows(docs: DataFrame) -> DataFrame:
    """Every layer, the typed field extraction on top of the span-text
    core: one row per span plus the NULL-offset row of each document
    without spans, so every input document has at least one row
    (``lineage.run_extract_job`` writes these rows). The only
    composition of ``route_and_extract``: ``extract_spans``, the
    checkpoint job, the streaming job and the query catalog all reach
    the records layer through it.

    Every Column comes from a ``session.per_context`` memo, and each
    layer adds its columns in one projection per level it needs (OCR:
    the UDF result, then the page fields in its place; records: cleaned
    text, masked fields, structs, outcome), so a build after the first
    is 15 plan analyses."""
    typed = route_and_extract(_span_text(docs), text_col="ocr_text")
    return typed.select(*_output())


def extract_spans(docs: DataFrame) -> DataFrame:
    """Flat extracted spans: classify + extract every span, one row per
    span. A document without spans, like a span without an offset, has
    no row here.

    ``text`` holds the extraction result per kind: raw text for 'text'
    spans, boilerplate-stripped for 'html', ordered-page OCR markdown for
    media spans ('' for unknown payloads, flagged in extract_error).

    Plan shape (scale-deliberate): ONE scan, ONE salted exchange sized
    by AQE from the input (at most spark.sql.shuffle.partitions), no
    branch-and-union (Catalyst would push branch filters below the
    exchange and triple the scan+shuffle). Pandas UDFs are evaluated
    unconditionally on every row even under when(), so instead the UDF
    *inputs* are masked to NULL for non-applicable rows — a scalar Arrow
    UDF ships only its argument columns, and NULL inputs cost ~1 bit/row
    on the transfer: text spans never ship their text into the OCR UDF,
    media spans never ship into the boilerplate stripper.

    Classification is the trie compiled to a codegen'd when-chain
    (classify.trie_match_expr), so the OCR UDF is the pipeline's only
    Python stage.

    Build cost: the Columns are built once per SparkContext
    (``session.per_context``) and each layer is one projection per level
    it needs, so building this DataFrame again is a few hundred py4j
    calls, not thousands. The plan is the same either way.
    """
    return extract_rows(docs).filter(_has_offset())


def extracted_documents(docs: DataFrame) -> DataFrame:
    """Nested output: (doc_id, spans[]) with extracted text, offset order
    restored after the salted shuffle — the span-sequence contract. Every
    input document comes out exactly once; one whose ``spans`` is empty
    or NULL comes out with ``spans = []``.

    Reassembles the span-text core's span fields and builds no records
    layer, which its output would not read: a build after the first is
    10 plan analyses and under a hundred py4j calls. Its optimized plan
    is the one Catalyst derives from ``extract_rows`` projected to the
    span fields, whose records columns ColumnPruning removes."""
    return reassemble_spans(_span_text(docs).select(*_span_columns()), span_fields=SPAN_FIELDS)
