"""Ordered per-document span re-assembly.

Spark re-creation of the reference's page-order contract: OCR pages carry
an ``index`` and text is joined in index order
(MistralOcrApiService.cs:164; page model OcrModels.cs:131-144). Here the
order key is ``offset`` (BASELINE.json input_hint) and re-assembly must
hold after arbitrary repartitioning/salting — this operator is the
guardian of the span-sequence-equality invariant
``(kind, text, media_ref, order)`` per ``doc_id``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import per_context


def reassemble_spans(
    exploded: DataFrame,
    span_fields: tuple[str, ...] = ("kind", "text", "media_ref", "offset"),
    doc_col: str = "doc_id",
    order_col: str = "offset",
    out_col: str = "spans",
) -> DataFrame:
    """Collapse exploded span rows back to ``(doc_id, spans[])`` in offset order.

    ``collect_list`` gives no ordering guarantee after a shuffle, so the
    offset is embedded in each struct and the array is ``array_sort``-ed
    by it — one aggregation, no window + second shuffle. At 100 TB this is
    a single hash-aggregate exchange on ``doc_id``; per-doc arrays stay
    small (spans per doc, not corpus-wide). Spans tied on ``order_col``
    come out in unspecified order: the comparator returns 0 on ties.

    A row whose ``order_col`` is NULL contributes no span (its struct is
    NULL and ``collect_list`` drops it) but still yields its document:
    ``explode_spans`` emits one such row for a document whose spans are
    empty or NULL, which therefore comes out with ``[]``.
    """
    return exploded.groupBy(doc_col).agg(_ordered_spans(span_fields, order_col, out_col))


@per_context
def _ordered_spans(span_fields: tuple[str, ...], order_col: str, out_col: str) -> Column:
    span_struct = F.struct(*[F.col(f).alias(f) for f in span_fields])
    return F.array_sort(
        F.collect_list(F.when(F.col(order_col).isNotNull(), span_struct)),
        lambda a, b: F.when(a[order_col] < b[order_col], -1)
        .when(a[order_col] > b[order_col], 1)
        .otherwise(0),
    ).alias(out_col)

