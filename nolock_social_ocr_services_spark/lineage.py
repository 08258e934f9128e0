"""Partition-granular checkpointing + per-partition lineage (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Spark has no built-in resumable-batch primitive (SURVEY.md §4 custom
strategy #3), so this module implements the protocol explicitly:

* the corpus is split into ``num_parts`` deterministic resume units
  (``part_id = pmod(hash(doc_id), P)`` — on a real deployment these are
  Iceberg partitions; hash-of-key keeps the unit assignment stable
  across runs and cluster sizes);
* each unit is extracted and written to ``data/part_id=K/`` with
  idempotent overwrite, THEN a lineage row (doc/span counts + trie-hit
  histogram, FIXTURES.md §5, overwritten the same way under
  ``_lineage/part_id=K/``) and a manifest marker are committed —
  write-data-then-manifest ordering makes a kill at any point safe:
  an uncommitted unit is simply re-overwritten on resume;
* resume = anti-join the unit list against the committed manifest and
  process only the remainder (``OcrRequestHandler``'s per-request
  idempotence, lifted to partition granularity);
* readers go through ``read_output``, which only exposes committed
  units, so a killed run never leaks partial data.

The reference's progress/statistics events (ThroughWithProgress,
ReactivePipelineExtensions.cs:199-251; PipelineStatistics,
ReactiveMistralOcrPipeline.cs:262-269) map onto the lineage rows.
"""

from __future__ import annotations

import os
import shutil

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_spans


LINEAGE_COLUMNS = (
    "run_id", "part_id", "doc_count", "span_count", "trie_hits", "committed_at"
)


def with_part_id(docs: DataFrame, num_parts: int) -> DataFrame:
    return docs.withColumn(
        "part_id", F.pmod(F.hash(F.col("doc_id")), F.lit(num_parts))
    )


def committed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    """Units whose manifest marker exists (= fully committed)."""
    manifest = f"{out_dir}/_manifest"
    if not os.path.exists(manifest):
        return set()
    rows = spark.read.parquet(manifest).select("part_id").distinct().collect()
    return {r.part_id for r in rows}


def _lineage_rows(
    flat_out: DataFrame, run_id: str, doc_counts: dict[int, int], empty_parts: list[int]
) -> DataFrame:
    """One (run_id, part_id, doc_count, span_count, trie_hits,
    committed_at) row per part_id in one aggregation over the re-read
    committed output, plus a zero-span row for each unit in
    ``empty_parts`` (no spans, so absent from ``flat_out``).

    ``doc_count`` is looked up in ``doc_counts`` (part_id -> documents
    read for the unit), not counted in ``flat_out``: a document whose
    spans are empty or NULL has no flat row."""
    spark = flat_out.sparkSession
    hits = (
        flat_out.filter(F.col("mime").isNotNull())
        .groupBy("part_id", "mime")
        .agg(F.count("*").alias("n"))
        .groupBy("part_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("mime"), F.col("n")))
            ).alias("trie_hits")
        )
    )
    counts = flat_out.groupBy("part_id").agg(F.count("*").alias("span_count"))
    zero = spark.createDataFrame(
        [(p, 0, {}) for p in empty_parts],
        "part_id int, span_count long, trie_hits map<string,long>",
    )
    docs_in = F.create_map(*[F.lit(x) for p, n in doc_counts.items() for x in (p, n)])
    return (
        counts.join(hits, on="part_id", how="left")
        .unionByName(zero)
        .withColumn("doc_count", docs_in[F.col("part_id")].cast("long"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
        .select(*LINEAGE_COLUMNS)
    )


def _docs_read(docs_in: Observation, batch: list[int]) -> dict[int, int]:
    """Documents the batch read per unit, from ``docs_in``. AQE replaces
    a shuffle stage that wrote no rows with an empty relation and drops
    the metrics observed inside it (PySpark then fails to convert the
    schema-less row it gets); every document has at least one exploded
    row, so that happens only when the batch read no document."""
    try:
        seen = docs_in.get
    except Py4JJavaError:
        seen = {}
    return {p: seen.get(str(p), 0) for p in batch}


def run_extract_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    num_parts: int = 16,
    salt_buckets: int | None = None,
    fail_after: int | None = None,
    batch_size: int = 1,
) -> list[int]:
    """Run (or resume) the checkpointed extraction job.

    Returns the list of part_ids processed by THIS invocation (already-
    committed units are skipped via the manifest anti-check).
    ``fail_after=k`` injects a crash after >= k units commit (kill/resume
    tests; checked at batch boundaries).

    ``batch_size``: units extracted per Spark job — one scan + one
    dynamic-partition-overwrite write per batch, i.e. ceil(P/B) scans
    for P units (the part_id filter is a hash of doc_id, so a scan reads
    the whole input). At 1 (default) every unit is its own job, the
    finest resume granularity; at scale set batch_size ~ 8-64. Manifests
    are committed per unit AFTER the batch's data lands, so a kill
    mid-batch just re-extracts that batch's uncommitted units on resume
    (idempotent overwrite). Resume granularity coarsens to the batch
    only for in-flight work, never for committed units.
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
        # exactly when it has spans.
        for path in unit_dirs.values():
            shutil.rmtree(path, ignore_errors=True)
        # documents in per unit, counted by the write job itself: a
        # document without spans has no row in the flat output
        docs_in = Observation()
        per_unit = [F.count_if(F.col("part_id") == p).alias(str(p)) for p in batch]
        batch_docs = (
            docsp.filter(F.col("part_id").isin(batch))
            .observe(docs_in, *per_unit)
            .drop("part_id")
        )
        flat = extract_spans(batch_docs, salt_buckets=salt_buckets)
        # part_id is a pure function of doc_id -> re-derive after
        # extraction and write all units of the batch in ONE job.
        flat_p = with_part_id(flat, num_parts)
        (
            flat_p.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(f"{out_dir}/data")
        )
        # the partitioned write makes no directory for a unit without
        # spans; an empty file keeps every committed unit readable.
        empty = [p for p, path in unit_dirs.items() if not os.path.exists(path)]
        for p in empty:
            spark.createDataFrame([], flat.schema).write.parquet(unit_dirs[p])
        # data committed -> now lineage + manifest (ordering = crash safety).
        # A kill between the two leaves the batch uncommitted; its resume
        # replaces these units' lineage rows rather than adding to them.
        re_read = spark.read.parquet(f"{out_dir}/data").filter(
            F.col("part_id").isin(batch)
        )
        (
            _lineage_rows(re_read, run_id, _docs_read(docs_in, batch), empty)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(f"{out_dir}/_lineage")
        )
        _write_manifest(spark, out_dir, run_id, batch)
        processed.extend(batch)
    return processed


def _write_manifest(
    spark: SparkSession, out_dir: str, run_id: str, parts: list[int]
) -> None:
    rows = spark.createDataFrame(
        [(run_id, p, "committed", f"{out_dir}/data/part_id={p}") for p in parts],
        "run_id string, part_id int, status string, output_snapshot string",
    ).withColumn("committed_at", F.current_timestamp())
    rows.write.mode("append").parquet(f"{out_dir}/_manifest")


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed extraction output only (uncommitted dirs are invisible)."""
    done = committed_parts(spark, out_dir)
    df = spark.read.option("basePath", f"{out_dir}/data").parquet(
        *[f"{out_dir}/data/part_id={p}" for p in sorted(done)]
    )
    return df.drop("part_id")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """One row per committed unit (``_lineage`` is partitioned by part_id)."""
    return spark.read.parquet(f"{out_dir}/_lineage").select(*LINEAGE_COLUMNS)
