"""Checkpoint/resume protocol: a killed run resumes from the last
committed partition, recomputes nothing already committed, and the final
output is identical to an uninterrupted run (FIXTURES.md §5)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from nolock_social_ocr_services_spark import corpus, lineage


N_PARTS = 6
DOC_SCHEMA = (
    "doc_id string, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return corpus.synthesize_documents(spark, sf_dir).cache()


def _rows(df):
    return sorted(
        (r.doc_id, r.offset, r.kind, r.mime, r.text, r.media_ref)
        for r in df.select(
            "doc_id", "offset", "kind", "mime", "text", "media_ref"
        ).collect()
    )


def _lineage_parts(spark, out_dir):
    return {r.part_id for r in lineage.read_lineage(spark, out_dir).collect()}


def test_kill_and_resume_byte_identical(spark, docs, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    killed_dir = str(tmp_path_factory.mktemp("killed"))

    # uninterrupted reference run
    done = lineage.run_extract_job(
        spark, docs, clean_dir, run_id="clean", num_parts=N_PARTS
    )
    assert done == list(range(N_PARTS))

    # killed run: crashes after 2 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        lineage.run_extract_job(
            spark, docs, killed_dir, run_id="run1", num_parts=N_PARTS, fail_after=2
        )
    assert lineage.committed_parts(spark, killed_dir) == {0, 1}
    assert _lineage_parts(spark, killed_dir) == {0, 1}

    # partial output only exposes committed units
    partial = lineage.read_output(spark, killed_dir)
    assert 0 < partial.count() < spark.read.parquet(f"{clean_dir}/data").count()

    # resume: processes exactly the remaining units
    resumed = lineage.run_extract_job(
        spark, docs, killed_dir, run_id="run2", num_parts=N_PARTS
    )
    assert resumed == list(range(2, N_PARTS))
    assert lineage.committed_parts(spark, killed_dir) == set(range(N_PARTS))

    # final output identical to the clean run
    assert _rows(lineage.read_output(spark, killed_dir)) == _rows(
        lineage.read_output(spark, clean_dir)
    )

    # re-running a complete job is a no-op
    assert lineage.run_extract_job(
        spark, docs, killed_dir, run_id="run3", num_parts=N_PARTS
    ) == []


def test_lineage_rows_cover_corpus(spark, docs, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("lin"))
    lineage.run_extract_job(spark, docs, out_dir, run_id="r", num_parts=N_PARTS)
    lin = lineage.read_lineage(spark, out_dir)
    assert lin.count() == N_PARTS
    assert set(lin.columns) == {
        "run_id", "part_id", "doc_count", "span_count", "trie_hits", "committed_at"
    }
    totals = lin.agg(
        F.sum("doc_count").alias("docs"), F.sum("span_count").alias("spans")
    ).first()
    assert totals.docs == docs.count()
    assert totals.spans == docs.agg(F.sum(F.size("spans"))).first()[0]
    # trie-hit histogram totals == media span count (A5)
    hist_total = (
        lin.select(F.explode("trie_hits").alias("m", "n")).agg(F.sum("n")).first()[0]
    )
    media = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.media_ref").isNotNull())
        .count()
    )
    assert hist_total == media


def test_kill_at_a_batch_commit_shows_only_committed_units(
    spark, docs, tmp_path, monkeypatch
):
    """A kill at the second batch's commit, after its data has landed:
    read_lineage shows exactly the committed units, and the resume
    re-extracts the rest, so every unit ends with exactly one row."""
    out = str(tmp_path / "out")
    write_lineage = lineage._write_lineage
    calls = []

    def kill_second(*args):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError("killed at the second commit")
        write_lineage(*args)

    monkeypatch.setattr(lineage, "_write_lineage", kill_second)
    with pytest.raises(RuntimeError, match="second commit"):
        lineage.run_extract_job(
            spark, docs, out, run_id="k", num_parts=N_PARTS, batch_size=2
        )
    monkeypatch.undo()
    assert os.path.isdir(f"{out}/data/part_id=2")
    assert lineage.committed_parts(spark, out) == {0, 1}
    assert _lineage_parts(spark, out) == {0, 1}
    assert lineage.run_extract_job(
        spark, docs, out, run_id="r", num_parts=N_PARTS, batch_size=2
    ) == list(range(2, N_PARTS))
    lin = lineage.read_lineage(spark, out)
    assert lin.columns == [
        "run_id", "part_id", "doc_count", "span_count", "trie_hits", "committed_at"
    ]
    got = lin.agg(
        F.count("*"), F.countDistinct("part_id"),
        F.sum("doc_count"), F.sum("span_count"),
    ).first()
    n_spans = docs.agg(F.sum(F.size("spans"))).first()[0]
    assert tuple(got) == (N_PARTS, N_PARTS, docs.count(), n_spans)


def test_committed_parts_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """committed_parts lists the lineage partitions: it finds no unit
    before the first commit, even over landed data, and runs no Spark
    job. Until then read_output and read_lineage are empty, with the
    columns they have after it."""
    docs = spark.createDataFrame([("t1", [("text", "hello", None, 0)])], DOC_SCHEMA)
    out = str(tmp_path / "out")
    assert lineage.committed_parts(spark, out) == set()
    os.makedirs(out)

    def empty_reads():
        output, lin = lineage.read_output(spark, out), lineage.read_lineage(spark, out)
        assert output.count() == 0 and lin.count() == 0
        return output.dtypes, lin.dtypes

    before = empty_reads()

    def kill(*args):
        raise RuntimeError("killed at the first commit")

    monkeypatch.setattr(lineage, "_write_lineage", kill)
    with pytest.raises(RuntimeError, match="first commit"):
        lineage.run_extract_job(spark, docs, out, run_id="k", num_parts=2, batch_size=2)
    monkeypatch.undo()
    assert os.path.isdir(f"{out}/data")
    assert lineage.committed_parts(spark, out) == set()
    assert empty_reads() == before
    lineage.run_extract_job(spark, docs, out, run_id="r", num_parts=2, batch_size=2)
    output, lin = lineage.read_output(spark, out), lineage.read_lineage(spark, out)
    assert (output.dtypes, lin.dtypes) == before
    assert output.count() == 1 and lin.count() == 2
    sc = spark.sparkContext
    sc.setJobGroup("committed_parts", "find the committed units")
    try:
        assert lineage.committed_parts(spark, out) == {0, 1}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("committed_parts")) == []


def test_doc_count_includes_documents_without_spans(spark, tmp_path):
    """A document whose spans are [] or NULL counts in doc_count, not in
    span_count, and read_output has one row for it with NULL span fields."""
    docs = spark.createDataFrame(
        [("t1", [("text", "hello", None, 0)]), ("e1", []), ("n1", None)], DOC_SCHEMA
    )
    out = str(tmp_path / "out")
    lineage.run_extract_job(spark, docs, out, run_id="r", num_parts=2, batch_size=2)
    lin = lineage.read_lineage(spark, out)
    got = lin.agg(F.sum("doc_count"), F.sum("span_count")).first()
    assert tuple(got) == (3, 1)
    # no media span anywhere: every unit's histogram is empty, whether
    # its spans are all text or it has none
    assert [r.trie_hits for r in lin.collect()] == [{}, {}]
    # every document is in the output: a span-less one as one row whose
    # span fields are NULL
    out_rows = _rows(lineage.read_output(spark, out))
    assert [r[0] for r in out_rows] == ["e1", "n1", "t1"]
    assert [r[1:] for r in out_rows[:2]] == [(None,) * 5] * 2


def test_one_batch_runs_in_three_spark_jobs(spark, docs, tmp_path):
    """A batch of units that all have spans costs the data write (its
    exchange's map stage and the write stage) and the lineage write,
    which is the units' commit record: lineage is counted by the data
    write itself, not by re-reading the batch's output, and finding the
    committed units reads no table."""
    docs.count()  # materialize the cached input outside the counted group
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    sc.setJobGroup("one_batch", "one checkpoint batch")
    try:
        lineage.run_extract_job(spark, docs, out, run_id="j", num_parts=4, batch_size=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    lin = lineage.read_lineage(spark, out).collect()
    assert sorted(r.part_id for r in lin) == [0, 1, 2, 3]
    assert all(r.span_count > 0 for r in lin)
    assert len(sc.statusTracker().getJobIdsForGroup("one_batch")) <= 3


def test_batched_units_identical_to_per_unit(spark, docs, tmp_path_factory):
    """batch_size > 1 (one scan + dynamic-partition-overwrite per batch)
    must produce byte-identical output, lineage coverage and committed
    units as the per-unit path — only the scan count differs."""
    per_unit = str(tmp_path_factory.mktemp("per_unit"))
    batched = str(tmp_path_factory.mktemp("batched"))
    lineage.run_extract_job(
        spark, docs, per_unit, run_id="u1", num_parts=N_PARTS, batch_size=1
    )
    lineage.run_extract_job(
        spark, docs, batched, run_id="b1", num_parts=N_PARTS, batch_size=4
    )
    assert _rows(lineage.read_output(spark, per_unit)) == _rows(
        lineage.read_output(spark, batched)
    )
    assert lineage.committed_parts(spark, batched) == set(range(N_PARTS))
    lin = {
        r.part_id: (r.doc_count, r.span_count)
        for r in lineage.read_lineage(spark, batched).collect()
    }
    lin_u = {
        r.part_id: (r.doc_count, r.span_count)
        for r in lineage.read_lineage(spark, per_unit).collect()
    }
    assert lin == lin_u


def test_batched_kill_resume(spark, docs, tmp_path_factory):
    """Kill between batches: committed batches are skipped on resume and
    the final output matches an uninterrupted batched run."""
    out = str(tmp_path_factory.mktemp("bkill"))
    with pytest.raises(RuntimeError):
        lineage.run_extract_job(
            spark, docs, out, run_id="b2", num_parts=N_PARTS,
            batch_size=2, fail_after=2,
        )
    first = lineage.committed_parts(spark, out)
    assert len(first) == 2  # exactly one batch committed
    assert _lineage_parts(spark, out) == first
    resumed = lineage.run_extract_job(
        spark, docs, out, run_id="b2r", num_parts=N_PARTS, batch_size=2
    )
    assert set(resumed) == set(range(N_PARTS)) - first
    clean = str(tmp_path_factory.mktemp("bclean"))
    lineage.run_extract_job(
        spark, docs, clean, run_id="bc", num_parts=N_PARTS, batch_size=2
    )
    assert _rows(lineage.read_output(spark, out)) == _rows(
        lineage.read_output(spark, clean)
    )


@pytest.mark.parametrize("batch_size", [1, 2])
def test_empty_units_still_commit(spark, sf_dir, batch_size, tmp_path):
    """A resume unit with zero documents writes no spans; it must still
    commit with a zero-count lineage row, and read_output must return
    every committed span — also when the run starts over the data files
    of an attempt killed before its lineage commit."""
    units = 4
    only_unit_0 = (
        corpus.synthesize_documents(spark, sf_dir)
        .filter(F.pmod(F.hash("doc_id"), F.lit(units)) == 0)
        .cache()
    )
    out = str(tmp_path / "out")
    first = lineage.run_extract_job(
        spark, only_unit_0, out, run_id="r1", num_parts=units, batch_size=batch_size
    )
    assert first == list(range(units))
    assert lineage.run_extract_job(
        spark, only_unit_0, out, run_id="r2", num_parts=units, batch_size=batch_size
    ) == []
    # data files stay, commit records go: as if killed before the commit
    shutil.rmtree(f"{out}/_lineage")
    assert lineage.run_extract_job(
        spark, only_unit_0, out, run_id="r3", num_parts=units, batch_size=batch_size
    ) == list(range(units))
    lin = {
        r.part_id: (r.doc_count, r.span_count, r.trie_hits)
        for r in lineage.read_lineage(spark, out).collect()
    }
    assert lineage.read_lineage(spark, out).count() == units
    assert {p: lin[p] for p in (1, 2, 3)} == {p: (0, 0, {}) for p in (1, 2, 3)}
    n_spans = only_unit_0.agg(F.sum(F.size("spans"))).first()[0]
    assert lin[0][:2] == (only_unit_0.count(), n_spans)
    assert lineage.read_output(spark, out).count() == n_spans
    only_unit_0.unpersist()
