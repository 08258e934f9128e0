"""Structured Streaming variants of the extraction pipeline.

The reference is stream-native (Rx over HTTP requests, SURVEY.md §2.10);
batch is our primary mode, but the same stages compose under
``readStream``:

* ``stream_extract`` — file-source stream of corpus parquet ->
  the SAME extract_spans stages (classify UDF, OCR UDF, typed parse are
  all stateless projections, legal in streaming) -> sink.
  ``maxFilesPerTrigger`` is the rate-limit knob (ST2's
  RateLimitWindow/Count, ReactiveMistralOcrPipeline.cs:151-163).
* ``windowed_stats`` — ST8/ST11 statistics stream: event-time windowed
  success/error counts with a watermark for late data (the reference's
  interval-sampled PipelineStatistics, ReactiveMistralOcrPipeline.cs:73-87,
  GroupByUntil 5s windows in ComprehensiveReactivePipelineTests.cs:207-213).
* ``running_doc_counter`` — ST7 progress events via
  ``applyInPandasWithState``: per-doc running span counters emitted as
  the stream advances (custom stateful operator surface).

Bounded-run control (U5 take-until / ST10 graceful shutdown) maps to
``query.stop()`` / ``processAllAvailable()`` — exercised in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..pipeline import extract_spans


def stream_extract(
    spark: SparkSession,
    corpus_path: str,
    schema=None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming DataFrame of extracted spans from a corpus directory."""
    if schema is None:
        schema = spark.read.parquet(corpus_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(corpus_path)
    )
    # salted_repartition uses repartition(), fine in streaming; the
    # per-doc reassembly (stateful agg) belongs to the sink side/batch.
    return extract_spans(stream)


def windowed_stats(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 seconds",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Event-time windowed success/error counts with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count("*").alias("total"),
            F.sum(
                (F.col("extract_error").isNotNull()).cast("long")
            ).alias("errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "total",
            "errors",
            (1.0 - F.col("errors") / F.col("total")).alias("success_rate"),
        )
    )


def running_doc_counter(spans_stream: DataFrame) -> DataFrame:
    """ST7 progress: per-doc cumulative span count via
    applyInPandasWithState (custom stateful operator)."""
    import pandas as pd

    output_schema = "doc_id string, spans_seen long"
    state_schema = "spans_seen long"

    def update(key, pdfs, state):
        seen = state.get[0] if state.exists else 0
        for pdf in pdfs:
            seen += len(pdf)
        state.update((seen,))
        yield pd.DataFrame({"doc_id": [key[0]], "spans_seen": [seen]})

    return (
        spans_stream.groupBy("doc_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] | list[str],
    ts_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication: emit the first-seen row per key.

    With ``(ts_col, within)`` set, uses ``dropDuplicatesWithinWatermark``
    — dedup state is dropped once the watermark passes, so state size is
    bounded by the key arrival rate times the watermark horizon. That is
    the 100-TB path: plain ``dropDuplicates`` on a stream keeps EVERY
    key in the state store forever, which only works when the distinct
    key space is small or the run is bounded (availableNow backfills).
    """
    if ts_col is not None and within is not None:
        return stream.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return stream.dropDuplicates(list(keys))
