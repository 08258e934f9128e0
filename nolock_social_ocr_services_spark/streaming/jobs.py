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
    salt_buckets: int | None = None,
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
    return extract_spans(stream, salt_buckets=salt_buckets)


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


def priority_rate_limited_sink(
    stream: DataFrame,
    process,
    priority_col: str = "priority",
    order_col: str | None = None,
):
    """ST2/ST3 (rate limiting + priority grouping) the Spark way.

    The reference's Rx pipeline windows requests into 1-second buckets
    of <= RateLimitCount and serves higher-priority groups first
    (ReactiveMistralOcrPipeline.cs:151-163,195-202; GroupBy :155). In
    Structured Streaming the admission control belongs to the SOURCE —
    ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` plus
    ``trigger(processingTime=...)`` cap rows-per-second, and anything
    not admitted stays queued in the source (nothing is dropped, unlike
    a sink-side ``limit``). What remains for the sink is ordering:
    this ``foreachBatch`` wrapper hands ``process`` each micro-batch
    sorted highest-priority-first (ties broken by ``order_col`` for
    determinism), so downstream effects (writes, API calls) happen in
    priority order within every admitted window.

    Returns a ``DataStreamWriter`` — caller picks trigger/options and
    calls ``.start()``.
    """
    cols = [F.col(priority_col).desc()]
    if order_col is not None:
        cols.append(F.col(order_col).asc())

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df.orderBy(*cols), batch_id)

    return stream.writeStream.foreachBatch(handle)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 minute",
    within: str = "INTERVAL 1 MINUTE",
) -> DataFrame:
    """Watermarked stream-stream inner join: each left event joins
    right events of the same key from the trailing ``within`` window.

    The event-time range condition + both-side watermarks are what
    BOUND the join state (Spark evicts right rows older than
    left_watermark - within): without them a stream-stream join
    buffers both streams forever. Columns are prefixed l_/r_ so
    key/ts collisions can't occur.
    """
    lw = left.withWatermark(ts_col, watermark).select(
        [F.col(c).alias(f"l_{c}") for c in left.columns]
    )
    rw = right.withWatermark(ts_col, watermark).select(
        [F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{ts_col}") <= F.col(f"l_{ts_col}"))
        & (
            F.col(f"r_{ts_col}")
            >= F.expr(f"l_{ts_col} - {within}")
        )
    )
    return lw.join(rw, cond, "inner")


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static broadcast enrichment: join each micro-batch against
    a small static dimension table (MIME -> routing metadata, tenant
    configs, ...). The static side is broadcast, so the stream never
    shuffles — per-trigger cost is a map-side hash lookup, which is the
    only join shape that stays flat as trigger rate grows. The static
    side is re-resolved per micro-batch, so a dim TABLE (e.g. a
    parquet path re-read in foreachBatch) can be updated mid-stream.
    """
    return stream.join(F.broadcast(dim), on=on, how="left")
