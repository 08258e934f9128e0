"""Output checker: every document's extracted span sequence
``(kind, text, media_ref, offset)`` against the rule-derived expectation
the generator stored (see ``gen.py``). A document that is missing,
duplicated, extra or different is one failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gen import fingerprint_docs, fingerprint_flat, python_fingerprint


def expected_set(spark: SparkSession, expected_path: str, name: str) -> DataFrame:
    """(doc_id, efp, n_spans, unit) of one generated set."""
    return (
        spark.read.parquet(expected_path)
        .filter(F.col("set") == name)
        .select("doc_id", F.col("fp").alias("efp"), "n_spans", "unit")
    )


def _count_bad(expected: DataFrame, got: DataFrame) -> tuple[int, int]:
    """(documents expected, documents wrong) for got = (doc_id, fp)."""
    per_doc = got.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.first("fp").alias("fp")
    )
    joined = expected.select("doc_id", "efp").join(per_doc, "doc_id", "full_outer")
    bad = (
        F.col("efp").isNull()
        | F.col("fp").isNull()
        | (F.col("n") != 1)
        | (F.col("fp") != F.col("efp"))
    )
    row = joined.agg(
        F.count("efp").alias("attempted"),
        F.sum(bad.cast("int")).alias("failed"),
    ).first()
    return int(row.attempted), int(row.failed or 0)


def check_nested(expected: DataFrame, docs: DataFrame) -> tuple[int, int]:
    """Nested output ``(doc_id, spans[])``: spans must already be in
    offset order."""
    return _count_bad(expected, fingerprint_docs(docs))


def check_flat(expected: DataFrame, flat: DataFrame) -> tuple[int, int]:
    """Flat span rows (``lineage.read_output``); a duplicated span makes
    its document wrong."""
    return _count_bad(expected, fingerprint_flat(flat))


def check_rows(expected: dict, doc_ids: list, rows) -> int:
    """Collected request result against the request's expected
    fingerprints; returns the number of wrong documents."""
    got: dict = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(python_fingerprint(r["spans"]))
    bad = sum(1 for d in doc_ids if got.get(d) != [expected[d]])
    return bad + sum(1 for d in got if d not in expected)


def check_lineage(expected: DataFrame, lineage: DataFrame) -> list[str]:
    """Problems with the lineage rows of a finished checkpointed job:
    one row per unit, and doc/span totals equal to the input's."""
    want = expected.agg(F.count("*"), F.sum("n_spans")).first()
    got = lineage.agg(
        F.count("*"), F.countDistinct("part_id"), F.sum("doc_count"), F.sum("span_count")
    ).first()
    problems = []
    if got[0] != got[1]:
        problems.append(f"{got[0]} lineage rows for {got[1]} units")
    if (got[2], got[3]) != (want[0], want[1]):
        problems.append(f"lineage totals docs/spans {got[2]}/{got[3]}, expected {want[0]}/{want[1]}")
    return problems
