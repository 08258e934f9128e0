"""Structured Streaming: streaming extract == batch extract on the same
corpus; windowed stats with watermark; stateful progress counters."""

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus, pipeline
from nolock_social_ocr_services_spark.streaming import jobs


@pytest.fixture(scope="module")
def corpus_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_corpus"))
    corpus.write_corpus(spark, sf_dir, path, partitions=8)
    return path


def test_stream_extract_matches_batch(spark, corpus_path, tmp_path_factory):
    stream = jobs.stream_extract(spark, corpus_path, max_files_per_trigger=2)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT doc_id, offset, kind, mime, text, media_ref FROM stream_out"
    ).collect()
    batch = (
        pipeline.extract_spans(spark.read.parquet(corpus_path))
        .select("doc_id", "offset", "kind", "mime", "text", "media_ref")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert len(got) > 0


def test_windowed_stats_with_watermark(spark):
    rows = [
        ("2024-01-01 00:00:01", None),
        ("2024-01-01 00:00:02", "empty_ocr_text"),
        ("2024-01-01 00:00:07", None),
        ("2024-01-01 00:00:08", None),
    ]
    df = spark.createDataFrame(rows, "ts_s string, extract_error string").select(
        F.to_timestamp("ts_s").alias("ts"), "extract_error"
    )
    out = jobs.windowed_stats(df, window="5 seconds").orderBy("window_start")
    got = out.collect()
    assert len(got) == 2
    assert got[0].total == 2 and got[0].errors == 1 and got[0].success_rate == 0.5
    assert got[1].total == 2 and got[1].errors == 0 and got[1].success_rate == 1.0


def test_running_doc_counter_stateful(spark, corpus_path):
    schema = spark.read.parquet(corpus_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(corpus_path)
    )
    spans = pipeline.explode_spans(stream).select("doc_id", "offset")
    counted = jobs.running_doc_counter(spans)
    q = (
        counted.writeStream.format("memory")
        .queryName("progress_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # final per-doc count (last update) must equal the batch span count
    final = spark.sql(
        """SELECT doc_id, max(spans_seen) AS n FROM progress_out GROUP BY doc_id"""
    )
    batch = (
        spark.read.parquet(corpus_path)
        .select("doc_id", F.size("spans").alias("n"))
    )
    diff = final.join(batch, on="doc_id").filter("final.n != batch.n") \
        if False else final.alias("f").join(batch.alias("b"), on="doc_id").filter(
            F.col("f.n") != F.col("b.n")
        )
    assert diff.count() == 0
    assert final.count() == batch.count()


def test_stream_dedup_unbounded_matches_distinct(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sdedup"))
    rows = [(i % 7, f"payload-{i % 7}") for i in range(100)]
    spark.createDataFrame(rows, "k long, text string").repartition(6).write.mode(
        "overwrite"
    ).parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(d)
    )
    q = (
        jobs.stream_dedup(stream, keys=("k",))
        .writeStream.format("memory")
        .queryName("sdedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sdedup_t")
    assert out.count() == 7  # one survivor per key across ALL triggers
    assert {r.k for r in out.collect()} == set(range(7))


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path_factory):
    import datetime as dt

    d = str(tmp_path_factory.mktemp("sdedup_wm"))
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i % 5, base + dt.timedelta(seconds=i)) for i in range(50)
    ]
    spark.createDataFrame(rows, "k long, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        jobs.stream_dedup(stream, keys=("k",), ts_col="ts", within="10 minutes")
        .writeStream.format("memory")
        .queryName("sdedup_wm_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sdedup_wm_t")
    # all dups fall inside one watermark horizon -> exactly one row per key
    assert out.count() == 5
    assert {r.k for r in out.collect()} == set(range(5))
