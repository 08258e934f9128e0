"""Partition-granular checkpointing + per-partition lineage (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Spark has no built-in resumable-batch primitive (SURVEY.md §4 custom
strategy #3), so this module implements the protocol explicitly:

* the corpus is split into ``num_parts`` deterministic resume units
  (``part_id = pmod(hash(doc_id), P)`` — on a real deployment these are
  Iceberg partitions; hash-of-key keeps the unit assignment stable
  across runs and cluster sizes);
* each unit is extracted and written to ``data/part_id=K/`` with
  idempotent overwrite (a document without spans keeps one NULL-offset
  row, so every document is in the output); the same write job counts
  the unit's documents in, spans out and trie hits per MIME with
  ``DataFrame.observe``. THEN
* the unit's lineage row, built on the driver from those counts
  (FIXTURES.md §5), is written the same way under
  ``_lineage/part_id=K/``. That partition is the unit's commit record:
  a unit is committed if and only if its lineage partition exists.
  Spark's dynamic partition overwrite moves each partition directory
  into place with one rename when the write job commits, so the
  directory appears whole or not at all; and it is written only after
  the unit's data has landed, so a kill at any point is safe: an
  uncommitted unit is simply re-overwritten on resume;
* resume = list the ``part_id=`` directories under ``_lineage`` (no
  Spark job) and process only the remaining units
  (``OcrRequestHandler``'s per-request idempotence, lifted to partition
  granularity);
* readers go through ``read_output``, which only exposes committed
  units, so a killed run never leaks partial data; ``read_lineage``
  has one row per committed unit and none for any other.

Output written by earlier versions also has a ``_manifest`` table; it
is ignored. A unit with a lineage row and no manifest row there is
committed, because its data landed before its lineage row.

The reference's progress/statistics events (ThroughWithProgress,
ReactivePipelineExtensions.cs:199-251; PipelineStatistics,
ReactiveMistralOcrPipeline.cs:262-269) map onto the lineage rows.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_rows
from .trie import OCTET_STREAM, lenient_trie


LINEAGE_COLUMNS = (
    "run_id", "part_id", "doc_count", "span_count", "trie_hits", "committed_at"
)
_LINEAGE_SCHEMA = (
    "run_id string, part_id int, doc_count long, span_count long, "
    "trie_hits map<string,long>"
)
#: every MIME the pipeline's (lenient) classifier can give a media span
_MIMES = (*lenient_trie().get_all_mime_types(), OCTET_STREAM)


def with_part_id(docs: DataFrame, num_parts: int) -> DataFrame:
    return docs.withColumn(
        "part_id", F.pmod(F.hash(F.col("doc_id")), F.lit(num_parts))
    )


def committed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    """Committed units: those whose lineage partition
    ``_lineage/part_id=K/`` exists. A directory listing, no Spark job
    (``spark`` is unused)."""
    lin = f"{out_dir}/_lineage"
    if not os.path.isdir(lin):
        return set()
    return {
        int(d.removeprefix("part_id="))
        for d in os.listdir(lin)
        if d.startswith("part_id=")
    }


def _mime_hits(batch: list[int]) -> list[Column]:
    """Spans per unit and MIME (``"<part_id> <mime>"``): the trie-hit
    histogram, one ``count_if`` per MIME the classifier can give."""
    unit, mime = F.col("part_id"), F.col("mime")
    return [
        F.count_if((unit == p) & (mime == m)).alias(f"{p} {m}")
        for p in batch
        for m in _MIMES
    ]


def _observed(obs: Observation) -> defaultdict[str, int]:
    """The metrics ``obs`` counted, 0 for any it has none for.

    AQE replaces a shuffle stage that wrote no rows with an empty
    relation and drops the metrics observed inside it (PySpark then
    fails to convert the schema-less row it gets); every document has
    at least one exploded row, so that happens only when the batch read
    no document, and then every count is 0."""
    try:
        seen = obs.get
    except Py4JJavaError:
        seen = {}
    return defaultdict(int, seen)


def run_extract_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    num_parts: int = 16,
    fail_after: int | None = None,
    batch_size: int = 1,
) -> list[int]:
    """Run (or resume) the checkpointed extraction job.

    Returns the list of part_ids processed by THIS invocation (already-
    committed units, those with a lineage partition, are skipped).
    ``fail_after=k`` injects a crash after >= k units commit (kill/resume
    tests; checked at batch boundaries).

    ``batch_size``: units extracted per Spark job — one scan + one
    dynamic-partition-overwrite write per batch, i.e. ceil(P/B) scans
    for P units (the part_id filter is a hash of doc_id, so a scan reads
    the whole input). At 1 (default) every unit is its own job, the
    finest resume granularity; at scale set batch_size ~ 8-64. Lineage
    rows, the units' commit records, are written AFTER the batch's data
    lands, so a kill mid-batch just re-extracts that batch's uncommitted
    units on resume (idempotent overwrite). Resume granularity coarsens
    to the batch only for in-flight work, never for committed units.
    """
    docsp = with_part_id(docs, num_parts)
    done = committed_parts(spark, out_dir)
    pending = [p for p in range(num_parts) if p not in done]
    processed: list[int] = []
    for i in range(0, len(pending), max(batch_size, 1)):
        if fail_after is not None and len(processed) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} commits")
        batch = pending[i : i + max(batch_size, 1)]
        unit_dirs = {p: f"{out_dir}/data/part_id={p}" for p in batch}
        # a killed attempt may have left files in these uncommitted units;
        # clearing them means that after the write a unit has a directory
        # exactly when it has documents.
        for path in unit_dirs.values():
            shutil.rmtree(path, ignore_errors=True)
        # the write job counts each unit's documents on its input and its
        # spans (rows with an offset: a document without spans has one
        # NULL-offset row) and trie hits on its output, so lineage needs
        # no re-read of the data
        docs_in, spans_out = Observation(), Observation()
        unit, has_offset = F.col("part_id"), F.col("offset").isNotNull()
        batch_docs = (
            docsp.filter(unit.isin(batch))
            .observe(docs_in, *[F.count_if(unit == p).alias(str(p)) for p in batch])
            .drop("part_id")
        )
        flat = extract_rows(batch_docs)
        # part_id is a pure function of doc_id -> re-derive after
        # extraction and write all units of the batch in ONE job.
        flat_p = with_part_id(flat, num_parts).observe(
            spans_out,
            *[F.count_if((unit == p) & has_offset).alias(str(p)) for p in batch],
            *_mime_hits(batch),
        )
        (
            flat_p.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(f"{out_dir}/data")
        )
        # the partitioned write makes no directory for a unit without
        # documents; an empty file keeps every committed unit readable.
        for p, path in unit_dirs.items():
            if not os.path.exists(path):
                spark.createDataFrame([], flat.schema).write.parquet(path)
        # data landed -> now the lineage rows, which commit the units
        # (ordering = crash safety)
        docs_n, spans = _observed(docs_in), _observed(spans_out)
        _write_lineage(spark, out_dir, [
            (run_id, p, docs_n[str(p)], spans[str(p)],
             {m: spans[f"{p} {m}"] for m in _MIMES if spans[f"{p} {m}"]})
            for p in batch
        ])
        processed.extend(batch)
    return processed


def _write_lineage(spark: SparkSession, out_dir: str, rows: list[tuple]) -> None:
    """Commit the batch's units: one job writes each unit's lineage row,
    and its commit renames each ``_lineage/part_id=K/`` into place."""
    (
        spark.createDataFrame(rows, _LINEAGE_SCHEMA)
        .withColumn("committed_at", F.current_timestamp())
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(f"{out_dir}/_lineage")
    )


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed extraction output only (uncommitted dirs are invisible):
    one row per span, and for each document without spans one row whose
    NULL ``offset`` (and NULL span fields) stands for it."""
    done = committed_parts(spark, out_dir)
    df = spark.read.option("basePath", f"{out_dir}/data").parquet(
        *[f"{out_dir}/data/part_id={p}" for p in sorted(done)]
    )
    return df.drop("part_id")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per committed unit (``_lineage`` is partitioned by part_id)."""
    return spark.read.parquet(f"{out_dir}/_lineage").select(*LINEAGE_COLUMNS)
