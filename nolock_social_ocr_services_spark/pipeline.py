"""End-to-end extraction pipeline (the reference's EP1/EP2 spine,
SURVEY.md §3, re-expressed as one declarative Spark plan):

    documents(doc_id, spans[])                  Iceberg/parquet scan
      -> explode(spans)                         U2 flatten
      -> salted repartition                     §4 custom #1 (skew)
      -> trie classify (codegen'd when-chain)   C1-C4
      -> synthetic OCR (scalar Arrow UDF)       T2 stand-in
      -> ordered page concat (built-ins)        T3 / W1
      -> html boilerplate strip                 north_rule text path
      -> typed field extraction (built-ins)     T4-T8
      -> per-doc ordered re-assembly            W1 invariant

Every stage keeps per-row failures as data (error columns), never
failing the job for one row (ST6, ReactivePipelineExtensions.cs:180-188).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract.html import strip_boilerplate
from .extract.ocr import concat_pages, run_ocr
from .extract.records import route_and_extract
from .operators.classify import classify_mime
from .operators.reassemble import reassemble_spans, span_sequence_equal
from .operators.salt import salted_repartition


def barrier_filter(df: DataFrame, cond) -> DataFrame:
    """Filter on already-projected columns WITHOUT letting Catalyst
    substitute the predicate below the projection.

    PushPredicateThroughNonJoin only rewrites ``Filter(Project(...))``
    when EVERY project expression is deterministic, so one throwaway
    ``monotonically_increasing_id()`` column pins the filter above the
    projection. The predicate must REFERENCE that column (OR'd with an
    always-false test of it, inside one non-splittable disjunct) —
    otherwise ColumnPruning deletes the unused nondeterministic field
    first and the now-deterministic Project lets the filter through.
    Why it matters here: a success filter like ``receipt.isNotNull()``
    otherwise inlines the WHOLE extraction expression (the cleanup
    regex chain per tested field) into a pre-projection predicate — the
    plan then runs the regex battery once per field in the filter and
    again in the projection. With the barrier the struct is computed
    once and the filter tests its null bit. Costs one long column,
    dropped immediately; row pruning still happens before any
    downstream stage."""
    return (
        df.withColumn("__no_pushdown", F.monotonically_increasing_id())
        .filter(cond | (F.col("__no_pushdown") < F.lit(0)))
        .drop("__no_pushdown")
    )


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> one row per span. Catalyst prunes unselected
    nested fields out of the scan (check ReadSchema in .explain)."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def extract_spans(docs: DataFrame, salt_buckets: int | None = None) -> DataFrame:
    """Flat extracted spans: classify + extract every span.

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
    """
    exploded = explode_spans(docs)
    # No count: AQE coalesces the exchange below spark.sql.shuffle.partitions
    # from its shuffle bytes; parallelismFirst aims at bytes/defaultParallelism
    # (at least 1 MB), so a large input still fills every core. A small one
    # gets few tasks: each Python task pays ~0.25 CPU-s up front, mostly in
    # pyspark's setup_spark_files re-reading its zipimport directories.
    salted = salted_repartition(exploded, salt_buckets=salt_buckets)
    classified = classify_mime(salted, data_url_col="media_ref", out_col="mime")
    ocred = concat_pages(run_ocr(classified))
    html_only = F.when(F.col("kind") == "html", F.col("text"))  # masked input
    extracted = ocred.withColumn(
        "extracted_text",
        F.when(F.col("kind") == "html", strip_boilerplate(html_only))
        .when(F.col("kind") == "text", F.col("text"))
        .otherwise(F.col("ocr_text")),
    )
    typed = route_and_extract(extracted, text_col="ocr_text")
    return typed.select(
        "doc_id",
        "offset",
        "kind",
        "mime",
        F.col("extracted_text").alias("text"),
        "media_ref",
        "receipt",
        "check",
        "receipt_full",
        "check_full",
        "schema_used",
        "extract_error",
        "confidence",
        "ocr_model",
        "ocr_tokens",
    )


def extracted_documents(docs: DataFrame, salt_buckets: int | None = None) -> DataFrame:
    """Nested output: (doc_id, spans[]) with extracted text, offset order
    restored after the salted shuffle — the span-sequence contract."""
    flat = extract_spans(docs, salt_buckets=salt_buckets)
    return reassemble_spans(
        flat, span_fields=("kind", "text", "media_ref", "offset")
    )


def identity_roundtrip_report(docs: DataFrame, salt_buckets: int | None = None) -> DataFrame:
    """Build-plan step 3 invariant: explode -> salt -> reassemble with NO
    extraction must reproduce the input spans exactly (per-doc equal flag).
    """
    exploded = explode_spans(docs)
    salted = salted_repartition(exploded, salt_buckets=salt_buckets)
    rebuilt = reassemble_spans(salted)
    return span_sequence_equal(docs, rebuilt)


def equality_pass_rate(report: DataFrame) -> float:
    """Fraction of docs whose span sequence matches (north-star metric)."""
    row = report.agg(
        F.avg(F.col("equal").cast("double")).alias("rate")
    ).first()
    return float(row.rate) if row.rate is not None else 0.0
