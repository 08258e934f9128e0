"""SnapTable: Iceberg commit semantics over parquet (spec-level tests).

Covers the invariants the north rule's Iceberg requirement buys us:
atomic visibility (a crash between data-file write and manifest commit
leaves the table readable at the prior snapshot), snapshot-isolated
reads + time travel, optimistic concurrency (appends rebase, removing
commits raise), dynamic-partition overwrite, metadata-side resume, and
snapshot expiry with orphan-file cleanup.
"""

import os

import pytest
from pyspark.sql import Row, functions as F

from nolock_social_ocr_services_spark.sources.snaptable import (
    CommitConflict,
    SnapTable,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_append_read_roundtrip_and_history(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 5))
    s2 = t.append(_df(spark, 5, 8))
    assert (s1, s2) == (1, 2)
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(8))
    # time travel: snapshot 1 predates the second append
    assert sorted(r.k for r in t.read(spark, snapshot_id=1).collect()) == [
        0, 1, 2, 3, 4,
    ]
    ops = [s["operation"] for s in t.snapshots()]
    assert ops == ["append", "append"]


def test_uncommitted_write_is_invisible(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    # simulate a writer killed after its data files land but before the
    # manifest commit: files exist on disk, no snapshot references them
    t._write_tx(_df(spark, 100, 200), None)
    assert t.current_snapshot_id() == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 2]


def test_overwrite_replaces_and_rollback_restores(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 4))
    t.overwrite(_df(spark, 50, 52))
    assert sorted(r.k for r in t.read(spark).collect()) == [50, 51]
    s3 = t.rollback(1)
    assert s3 == 3  # history is append-only
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 2, 3]


def test_empty_table_read_raises(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    with pytest.raises(ValueError):
        t.read(spark)


def test_concurrent_append_rebases(spark, tmp_path):
    """Interleave two appenders deterministically: the competing commit
    lands between the loser's parent resolution and its CAS, the loser
    retries, and BOTH appends survive."""
    path = str(tmp_path / "t")
    t1, t2 = SnapTable(path), SnapTable(path)
    t1.append(_df(spark, 0, 2))

    added = t1._write_tx(_df(spark, 10, 12), None)
    fired = {"n": 0}

    def keep(parent_files):
        if fired["n"] == 0:
            fired["n"] += 1
            t2.append(_df(spark, 20, 22))  # wins the next snapshot id
        return parent_files

    sid = t1._commit(
        "append", added, keep, _df(spark, 0, 1).schema.json(), {}
    )
    assert sid == 3
    assert sorted(r.k for r in t1.read(spark).collect()) == [
        0, 1, 10, 11, 20, 21,
    ]


def test_concurrent_overwrite_conflicts(spark, tmp_path):
    path = str(tmp_path / "t")
    t1, t2 = SnapTable(path), SnapTable(path)
    t1.append(_df(spark, 0, 2))
    added = t1._write_tx(_df(spark, 10, 12), None)

    def keep(parent_files):
        if not parent_files or parent_files[0].get("_raced"):
            return []
        t2.append(_df(spark, 20, 22))
        for f in parent_files:
            f["_raced"] = True
        return []

    with pytest.raises(CommitConflict):
        t1._commit(
            "overwrite", added, keep, _df(spark, 0, 1).schema.json(), {}
        )


def test_overwrite_partitions_is_surgical(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [Row(p=0, v="a"), Row(p=0, v="b"), Row(p=1, v="c")]
    )
    t.append(base, partition_by="p")
    assert t.committed_values("p") == {"0", "1"}
    t.overwrite_partitions(
        spark.createDataFrame([Row(p=1, v="C2"), Row(p=1, v="C3")]),
        "p",
        [1],
    )
    # no partition_by needed: recorded in the manifest, restored typed
    got = t.read(spark).collect()
    by_part = {}
    for r in got:
        by_part.setdefault(r.p, []).append(r.v)
    assert sorted(by_part[0]) == ["a", "b"]
    assert sorted(by_part[1]) == ["C2", "C3"]
    # manifest-side pruning: only partition-1 files are handed to Spark
    pruned = t.read(spark, parts=[1], partition_by="p")
    assert sorted(r.v for r in pruned.collect()) == ["C2", "C3"]
    assert len(pruned.inputFiles()) < len(t.read(spark).inputFiles())


def test_expire_snapshots_drops_orphans(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.overwrite(_df(spark, 10, 13))
    tx_dirs = lambda: len(  # noqa: E731
        [d for d in os.listdir(t.data_dir) if d.startswith("tx-")]
    )
    assert tx_dirs() == 2
    removed = t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert removed == 1  # snapshot-1's files are unreferenced
    assert tx_dirs() == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [10, 11, 12]


def test_compact_rewrites_small_files(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    for lo in range(0, 20, 4):
        t.append(_df(spark, lo, lo + 4).repartition(3))
    pre = t.read(spark)
    assert len(pre.inputFiles()) >= 5
    pre_snapshot = t.current_snapshot_id()
    t.compact(spark, target_files=1)
    post = t.read(spark)
    assert len(post.inputFiles()) == 1
    assert sorted(r.k for r in post.collect()) == list(range(20))
    # time travel to the pre-compact snapshot still works until expiry
    assert sorted(r.k for r in t.read(spark, snapshot_id=pre_snapshot).collect()) == list(range(20))
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert len(t.read(spark).inputFiles()) == 1


def test_compact_preserves_protocol_summary(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(p, f"v{p}{i}") for p in range(2) for i in range(3)], "p int, v string"
    )
    t.overwrite_partitions(
        base, "p", [0, 1], extra_summary={"committed_parts": [0, 1]}
    )
    t.compact(spark, target_files=1, partition_by="p")
    assert t.current_summary().get("committed_parts") == [0, 1]
    got = t.read(spark, partition_by="p").collect()
    assert sorted((r.p, r.v) for r in got) == sorted(
        (p, f"v{p}{i}") for p in range(2) for i in range(3)
    )


def test_schema_evolution_old_files_null_fill(spark, tmp_path):
    """Iceberg-style schema evolution: append with a superset schema
    under the opt-in mergeSchema mode; reads resolve ALL files against
    the CURRENT snapshot's schema, so pre-evolution files surface the
    new column as NULL, and time travel still reads the old snapshot
    with the old schema. (Without merge_schema=True, the unknown column
    is rejected.)"""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.append(
        _df(spark, 3, 5).withColumn("w", F.col("k") * 100),
        merge_schema=True,
    )
    got = {r.k: r.asDict() for r in t.read(spark).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[0]["w"] is None and got[4]["w"] == 400
    old = t.read(spark, snapshot_id=1)
    assert "w" not in old.columns
    assert sorted(r.k for r in old.collect()) == [0, 1, 2]


def test_incremental_read_appends_only_new_rows(spark, tmp_path):
    """Iceberg incremental append scan: each poll sees exactly the rows
    added in the snapshot range — never rows from before `from`, never
    re-emitted compaction rewrites."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                       # snap 1
    t.append(_df(spark, 5, 8))                       # snap 2
    t.append(_df(spark, 8, 10))                      # snap 3
    got = sorted(r.k for r in t.read_incremental(spark, 1).collect())
    assert got == list(range(5, 10))
    got = sorted(r.k for r in t.read_incremental(spark, 1, 2).collect())
    assert got == [5, 6, 7]
    # empty range: zero rows, schema preserved
    empty = t.read_incremental(spark, 3)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_incremental_read_skips_compaction_rejects_overwrite(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                       # snap 1
    t.compact(spark)                                 # snap 2: rewrite, no new rows
    t.append(_df(spark, 5, 7))                       # snap 3
    got = sorted(r.k for r in t.read_incremental(spark, 1).collect())
    assert got == [5, 6]                             # compaction NOT re-emitted
    t.overwrite(_df(spark, 0, 3))                    # snap 4: destroys rows
    with pytest.raises(ValueError, match="incremental read undefined"):
        t.read_incremental(spark, 1)
    # range entirely after the overwrite is fine again
    t.append(_df(spark, 3, 4))                       # snap 5
    assert [r.k for r in t.read_incremental(spark, 4).collect()] == [3]


def test_clustered_append_records_bounds_and_skips_files(spark, tmp_path):
    """Iceberg file skipping: a clustered append records per-file
    min/max bounds in the manifest (from parquet footers — no extra
    Spark job), and a range read plans only the overlapping files,
    from metadata alone."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 2000), cluster_by="k", cluster_files=16)
    all_files, _ = t.scan_files()
    assert len(all_files) > 4  # genuinely multi-file
    assert all("k" in (f.get("stats") or {}) for f in all_files)
    # the files are range-clustered, so their bounds are ~disjoint and
    # a narrow range hits a small fraction of them
    hit, _ = t.scan_files(between={"k": (100, 199)})
    assert 0 < len(hit) < len(all_files) / 2
    got = sorted(r.k for r in t.read(spark, between={"k": (100, 199)}).collect())
    assert got == list(range(100, 200))
    # unstatted columns never prune (unsound otherwise): v has no bounds
    keep, _ = t.scan_files(between={"v": (0, 1)})
    assert len(keep) == len(all_files)
    got = sorted(r.k for r in t.read(spark, between={"v": (0, 50)}).collect())
    assert got == list(range(6))  # residual filter still exact


def test_compact_with_sort_order_gains_file_skipping(spark, tmp_path):
    """rewrite_data_files with a sort order: unsorted appends have no
    bounds; the clustered compaction rewrite records them."""
    t = SnapTable(str(tmp_path / "t"))
    # interleaved appends: each file spans nearly the full k range
    t.append(_df(spark, 0, 1000).orderBy(F.md5(F.col("k").cast("string"))))
    t.append(_df(spark, 1000, 2000).orderBy(F.md5(F.col("k").cast("string"))))
    before, _ = t.scan_files(between={"k": (0, 49)})
    all_before, _ = t.scan_files()
    assert len(before) == len(all_before)  # nothing prunable yet
    t.compact(spark, target_files=8, cluster_by="k")
    hit, _ = t.scan_files(between={"k": (0, 49)})
    all_after, _ = t.scan_files()
    assert len(all_after) == 8 and len(hit) <= 2
    got = sorted(r.k for r in t.read(spark, between={"k": (0, 49)}).collect())
    assert got == list(range(50))


def test_read_changes_changelog_across_operation_mix(spark, tmp_path):
    """CDC changelog (Iceberg create_changelog_view NET semantics):
    pure appends are inserts (metadata fast path); a compact-only range
    is ZERO changes; a merge is delete(old)+insert(new) with untouched
    rows of the rewritten file cancelling; an overwrite that re-writes
    identical rows nets to just the disappearing rows."""
    t = SnapTable(str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 5))
    s2 = t.append(_df(spark, 5, 8))
    ch = t.read_changes(spark, s1, s2).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [
        (5, "insert"), (6, "insert"), (7, "insert")
    ]
    s3 = t.compact(spark, target_files=2)
    assert t.read_changes(spark, s2, s3).count() == 0  # rewrite = no-op
    assert sorted(r.k for r in t.read_changes(spark, s1, s3).collect()) == [
        5, 6, 7
    ]
    # row-level update: delete(old) + insert(new), file-mates cancel
    upd = spark.createDataFrame([(2, 999)], "k long, v long")
    s4 = t.merge_upsert(spark, upd, key="k")
    ch = sorted(
        (r.k, r.v, r._change_type)
        for r in t.read_changes(spark, s3, s4).collect()
    )
    assert ch == [(2, 20, "delete"), (2, 999, "insert")]
    # overwrite rewriting rows 0-1 with IDENTICAL content: net = the
    # rows that vanish, nothing for the carried-over content
    s5 = t.overwrite(_df(spark, 0, 2))
    ch = sorted(
        (r.k, r._change_type) for r in t.read_changes(spark, s4, s5).collect()
    )
    assert ch == [
        (2, "delete"), (3, "delete"), (4, "delete"),
        (5, "delete"), (6, "delete"), (7, "delete"),
    ]
    # identical endpoints: empty frame, schema still carries the tag
    same = t.read_changes(spark, s5, s5)
    assert same.count() == 0 and "_change_type" in same.columns


def test_merge_upsert_rewrites_only_overlapping_files(spark, tmp_path):
    """Copy-on-write MERGE: a point update against a clustered table
    rewrites only the files whose key bounds overlap the incoming keys;
    every other file survives by path."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 2000), cluster_by="k", cluster_files=16)
    before = {f["path"] for f in t.scan_files()[0]}
    upd = spark.createDataFrame(
        [(105, -1), (106, -2), (9000, -3)], "k long, v long"
    )
    t.merge_upsert(spark, upd, key="k")
    after, _ = t.scan_files()
    after_paths = {f["path"] for f in after}
    summary = t.current_summary()
    # exact keyset pruning: only the file holding 105/106 is rewritten;
    # 9000 is beyond every file's bounds and must not widen the rewrite
    assert summary["rewritten_files"] <= 2
    assert summary["untouched_files"] >= len(before) - 2
    # untouched files survive with identical paths (no full rewrite)
    assert len(before & after_paths) == summary["untouched_files"]
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert len(rows) == 2001  # 2000 originals - 2 replaced + 2 + 1 new
    assert rows[105] == -1 and rows[106] == -2 and rows[9000] == -3
    assert rows[107] == 1070  # neighbor in a rewritten file survives
    assert rows[0] == 0       # untouched file survives
    # incremental read across a merge is undefined -> raises
    with pytest.raises(ValueError, match="incremental read undefined"):
        t.read_incremental(spark, 1)


def test_merge_commit_rejects_interleaved_writer(spark, tmp_path):
    """A merge plans its keep-filter against a specific snapshot; if a
    writer lands between plan and commit, the stale filter would drop
    the newcomer's files — the commit must fail instead (CAS on the
    planned parent), never silently lose data."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))                       # snap 1 (planned base)
    t.append(_df(spark, 5, 8))                       # snap 2: the interloper
    with pytest.raises(CommitConflict, match="planned against snapshot 1"):
        t._commit(
            "merge", [], lambda pf: pf, _df(spark, 0, 1).schema.json(),
            {}, expected_parent=1,
        )
    # and nothing was committed
    assert t.current_snapshot_id() == 2


def test_merge_upsert_overflowed_keyset_uses_true_envelope(
    spark, tmp_path, monkeypatch
):
    """When the incoming keyset overflows the exact-pruning limit, the
    pruning envelope must be df's TRUE [min,max] — not the min/max of
    the arbitrary LIMIT sample. With the sample envelope, files holding
    keys outside the sample kept their old rows while df inserted the
    same keys: silent duplicates."""
    from nolock_social_ocr_services_spark.sources import snaptable as st

    monkeypatch.setattr(st, "_MERGE_KEYSET_LIMIT", 4)
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 400), cluster_by="k", cluster_files=8)
    # 10 incoming keys (> limit) spanning the whole table
    upd = spark.createDataFrame(
        [(k, -k) for k in range(0, 400, 40)], "k long, v long"
    )
    t.merge_upsert(spark, upd, key="k")
    rows = t.read(spark).collect()
    assert len(rows) == 400  # replaced, never duplicated
    by_k = {}
    for r in rows:
        by_k.setdefault(r.k, []).append(r.v)
    dups = {k: v for k, v in by_k.items() if len(v) > 1}
    assert dups == {}, f"duplicate keys after merge: {dups}"
    for k in range(0, 400, 40):
        assert by_k[k] == [-k]


def test_merge_upsert_partitioned_table_keeps_partition_values(
    spark, tmp_path
):
    """Copy-on-write MERGE on a PARTITIONED table: survivors in rewritten
    files must keep their partition values (restored from the path
    before the anti-join), and stay visible to committed_values /
    partition-pruned reads afterwards."""
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, k % 3, k * 10) for k in range(30)], "k long, p int, v long"
    )
    t.append(base, partition_by="p")
    upd = spark.createDataFrame([(7, 1, -7), (99, 0, -99)], "k long, p int, v long")
    t.merge_upsert(spark, upd, key="k", partition_by="p")
    assert t.committed_values("p") == {"0", "1", "2"}
    rows = {r.k: (r.p, r.v) for r in t.read(spark).collect()}
    assert len(rows) == 31
    assert rows[7] == (1, -7) and rows[99] == (0, -99)
    # survivors keep their true partition, not NULL / default
    assert rows[8] == (2, 80) and rows[0] == (0, 0)
    assert t.read(spark, parts=[2]).count() == 10
    # a later partition overwrite still sees (and replaces) survivors
    t.overwrite_partitions(
        spark.createDataFrame([(1000, 2, 1)], "k long, p int, v long"),
        "p",
        [2],
    )
    assert t.read(spark, parts=[2]).count() == 1
    assert t.read(spark).count() == 22


def test_read_restores_recorded_partition_column_typed(spark, tmp_path):
    """partition_by is recorded in the manifest at write time: a plain
    read() restores the column (no caller re-spec) cast to its DECLARED
    type — an int partition reads back as int, not path string."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "k long, p int, v string"),
        partition_by="p",
    )
    df = t.read(spark)
    assert dict(df.dtypes)["p"] == "int"
    assert {(r.k, r.p) for r in df.collect()} == {(1, 0), (2, 1)}


def test_protocol_state_survives_interleaved_commits(spark, tmp_path):
    """Job-protocol state (committed_parts, epochs) is folded forward by
    EVERY commit: a plain append by another job, a merge, and a compact
    must not erase it — previously only compact re-threaded a hardcoded
    key allowlist, so any other interleaved commit silently reset the
    resume/dedup record."""
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, k % 2, k) for k in range(10)], "k long, p int, v long"
    )
    t.overwrite_partitions(
        base, "p", [0, 1], extra_summary={"committed_parts": [0, 1]}
    )
    # interloper 1: a plain append (e.g. a backfill job)
    t.append(spark.createDataFrame([(100, 0, 100)], "k long, p int, v long"))
    assert t.current_summary().get("committed_parts") == [0, 1]
    # interloper 2: compaction with NO knowledge of the protocol keys
    t.compact(spark, target_files=1)
    assert t.current_summary().get("committed_parts") == [0, 1]
    # interloper 3: a merge
    t.merge_upsert(
        spark,
        spark.createDataFrame([(5, 1, -5)], "k long, p int, v long"),
        key="k",
    )
    assert t.current_summary().get("committed_parts") == [0, 1]


def test_footer_stats_drop_partially_covered_columns(tmp_path):
    """A column whose stats are unusable in SOME row groups must record
    NO bounds at all: bounds from the readable row groups alone cover
    part of the file, and pruning on them could skip matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nolock_social_ocr_services_spark.sources.snaptable import (
        _footer_stats,
    )

    path = str(tmp_path / "f.parquet")
    schema = pa.schema([("b", pa.binary()), ("k", pa.int64())])
    with pq.ParquetWriter(path, schema) as w:
        # row group 1: utf8-decodable binary stats
        w.write_table(pa.table({"b": [b"aa", b"bb"], "k": [1, 2]}, schema=schema))
        # row group 2: undecodable binary stats (decode fails -> uncovered)
        w.write_table(pa.table({"b": [b"\xff\xfe"], "k": [3]}, schema=schema))
    stats = _footer_stats(path, {"b", "k"})
    assert "b" not in stats        # partial coverage -> no bounds
    assert stats["k"] == [1, 3]    # fully covered column keeps bounds


# -- bloom-filter point-lookup skipping ---------------------------------------


def _interleaved(spark, parity, n=50):
    # evens vs odds over the SAME value range: min/max bounds of the two
    # files fully overlap, so only a bloom can tell them apart.
    return (
        spark.range(n)
        .select((F.col("id") * 2 + parity).alias("k"))
        .withColumn("v", F.col("k") * 10)
        .coalesce(1)
    )


def test_point_read_prunes_by_bloom(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_interleaved(spark, 0), stats_cols=["k"], bloom_cols=["k"])
    t.append(_interleaved(spark, 1), stats_cols=["k"], bloom_cols=["k"])
    all_files, _ = t.scan_files()
    assert len(all_files) == 2
    # k=40 is even: bounds overlap both files, bloom keeps only one
    files, _ = t.scan_files(point={"k": 40})
    assert len(files) == 1
    got = t.read(spark, point={"k": 40}).collect()
    assert [(r.k, r.v) for r in got] == [(40, 400)]
    # absent key (beyond both ranges): bounds alone prune everything
    files, _ = t.scan_files(point={"k": 1000})
    assert files == []
    assert t.read(spark, point={"k": 1000}).count() == 0


def test_point_read_without_blooms_stays_exact(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_interleaved(spark, 0), stats_cols=["k"])
    files, _ = t.scan_files(point={"k": 40})
    assert len(files) == 1  # no bloom recorded -> kept, not skipped
    assert t.read(spark, point={"k": 41}).count() == 0  # residual filter


def test_bloom_skipped_for_float_columns(spark, tmp_path):
    # float str() forms ("5.0") never match an int probe ("5"); building
    # a bloom there would let a probe unsoundly skip the file, so the
    # type gate must refuse.
    t = SnapTable(str(tmp_path / "t"))
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("f")
    )
    t.append(df, bloom_cols=["k", "f"])
    files, _ = t.scan_files()
    assert set(files[0].get("bloom", {})) == {"k"}


def test_merge_upsert_bloom_prunes_interleaved_files(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_interleaved(spark, 0), stats_cols=["k"], bloom_cols=["k"])
    t.append(_interleaved(spark, 1), stats_cols=["k"], bloom_cols=["k"])
    # update one EVEN key: both files' [min,max] contain 40, but the
    # odd file's bloom proves it never held the key -> untouched.
    upd = spark.createDataFrame([Row(k=40, v=-1)])
    t.merge_upsert(spark, upd, key="k")
    summ = t.current_summary()
    assert summ["rewritten_files"] == 1
    assert summ["untouched_files"] == 1
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows[40] == -1 and rows[41] == 410 and len(rows) == 100
    # rewritten files carry FRESH blooms: a second even-key merge still
    # prunes the odd file.
    t.merge_upsert(spark, spark.createDataFrame([Row(k=42, v=-2)]), key="k")
    assert t.current_summary()["untouched_files"] >= 1
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows[42] == -2 and len(rows) == 100


def test_compact_carries_stats_and_blooms_forward(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_interleaved(spark, 0), stats_cols=["k"], bloom_cols=["k"])
    t.append(_interleaved(spark, 1), stats_cols=["k"], bloom_cols=["k"])
    t.compact(spark, target_files=2)
    files, _ = t.scan_files()
    assert len(files) == 2
    assert all("k" in (f.get("stats") or {}) for f in files)
    assert all("k" in (f.get("bloom") or {}) for f in files)
    # the compacted table still answers point probes exactly
    got = t.read(spark, point={"k": 40}).collect()
    assert [(r.k, r.v) for r in got] == [(40, 400)]


def test_compact_partitioned_defaults_to_recorded_partitioning(spark, tmp_path):
    """compact() without partition_by must NOT de-partition a partitioned
    table: previously the rewrite dropped the files' partition metadata
    while the snapshot kept recording partition_by, so partition-pruned
    reads returned 0 rows, committed_values() emptied, and a later
    overwrite_partitions kept the stale compacted rows alongside the
    replacements."""
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, k % 2, k * 10) for k in range(10)], "k long, p int, v long"
    )
    t.append(base.repartition(4), partition_by="p")
    t.compact(spark, target_files=1)
    # partition-pruned read still sees partition 1
    assert sorted(r.k for r in t.read(spark, parts=[1]).collect()) == [
        1, 3, 5, 7, 9,
    ]
    assert t.committed_values("p") == {"0", "1"}
    # dynamic-partition overwrite replaces (not duplicates) partition 1
    t.overwrite_partitions(
        spark.createDataFrame([(100, 1, 0)], "k long, p int, v long"),
        "p",
        [1],
    )
    rows = sorted((r.k, r.p) for r in t.read(spark).collect())
    assert rows == [(0, 0), (2, 0), (4, 0), (6, 0), (8, 0), (100, 1)]


def test_merge_upsert_partitioned_defaults_to_recorded_partitioning(
    spark, tmp_path
):
    """merge_upsert() without partition_by on a partitioned table must
    restore survivors' partition values from the recorded partitioning
    (previously they were rewritten with NULL p under the hive null
    partition)."""
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, k % 2, k) for k in range(6)], "k long, p int, v long"
    )
    t.append(base, partition_by="p")
    t.merge_upsert(
        spark, spark.createDataFrame([(0, 0, -1)], "k long, p int, v long"),
        key="k",
    )
    got = {r.k: (r.p, r.v) for r in t.read(spark).collect()}
    assert got[0] == (0, -1)
    assert all(p is not None for p, _ in got.values())
    assert {p for p, _ in got.values()} == {0, 1}


def test_partition_value_with_literal_plus_roundtrips(spark, tmp_path):
    """Hive path escaping never encodes '+', so url_decode would read it
    back as a space; the restore must only decode %XX escapes."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a+b", "x"), (2, "c d", "y")], "k long, p string, v string"
        ),
        partition_by="p",
    )
    got = {r.k: r.p for r in t.read(spark).collect()}
    assert got == {1: "a+b", 2: "c d"}
    # pruning key and restored value agree
    assert [r.k for r in t.read(spark, parts=["a+b"]).collect()] == [1]


def test_bloom_probe_is_type_canonical(spark, tmp_path):
    """A numerically-equal probe of a different runtime type (float 40.0
    against an int-keyed bloom) must not skip the file holding the key —
    a bloom miss is never allowed to be unsound."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_interleaved(spark, 0), stats_cols=["k"], bloom_cols=["k"])
    t.append(_interleaved(spark, 1), stats_cols=["k"], bloom_cols=["k"])
    got = t.read(spark, point={"k": 40.0}).collect()
    assert [(r.k, r.v) for r in got] == [(40, 400)]
    files, _ = t.scan_files(point={"k": 40.0})
    assert len(files) == 1  # still prunes the odd-keys file


def test_expire_grace_window_protects_fresh_orphans(spark, tmp_path):
    """Unreferenced tx dirs younger than orphan_grace_s survive
    the sweep: an in-flight concurrent commit writes its files BEFORE
    its CAS, and expire must not delete them out from under it."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.overwrite(_df(spark, 10, 13))  # snapshot-1's tx is now orphaned
    assert t.expire_snapshots(keep_last=1) == 0  # default grace: kept
    tx_dirs = [d for d in os.listdir(t.data_dir) if d.startswith("tx-")]
    assert len(tx_dirs) == 2
    assert t.expire_snapshots(keep_last=1, orphan_grace_s=0) == 1


# -- merge_upsert concurrency (racing writers on row-level updates) ------------


def _hook_after_plan(table, fire):
    """Make ``fire()`` run after ``table``'s merge has PLANNED (resolved
    its base snapshot + keep-filter) but before its commit: _write_tx is
    the first I/O merge_upsert does after planning, so an interleaved
    winner here lands exactly in the plan->commit window."""
    real = table._write_tx
    fired = []

    def hooked(*a, **k):
        if not fired:
            fired.append(1)
            fire()
        return real(*a, **k)

    table._write_tx = hooked
    return lambda: setattr(table, "_write_tx", real)


def test_concurrent_merge_upserts_loser_raises_winner_consistent(
    spark, tmp_path
):
    """Two merge_upserts race: the one whose commit lands second must
    RAISE (its keep-filter was planned against a stale snapshot — a
    silent rebase would drop the winner's rewritten files), the
    winner's state must be fully consistent (no resurrected old rows,
    no duplicate keys, blooms + stats intact on every surviving file),
    and the loser's retry on the fresh snapshot must succeed."""
    path = str(tmp_path / "t")
    t1, t2 = SnapTable(path), SnapTable(path)
    t1.append(
        _df(spark, 0, 10), cluster_by="k", cluster_files=2, bloom_cols=["k"]
    )

    upd1 = spark.createDataFrame([Row(k=5, v=9999)])
    upd2 = spark.createDataFrame([Row(k=5, v=5000), Row(k=20, v=200)])
    unhook = _hook_after_plan(
        t1, lambda: t2.merge_upsert(spark, upd2, key="k")
    )
    with pytest.raises(CommitConflict):
        t1.merge_upsert(spark, upd1, key="k")
    unhook()

    # winner's state: k=5 replaced exactly once (no resurrection of the
    # old row, no duplicate), insert landed, loser left NO trace
    rows = {r.k: r.v for r in t1.read(spark).collect()}
    assert rows[5] == 5000 and rows[20] == 200
    assert len(t1.read(spark).collect()) == 11  # 10 base + 1 insert
    ops = [s["operation"] for s in t1.snapshots()]
    assert ops == ["append", "merge"]
    # blooms + key stats survive the winner's rewrite on EVERY file
    files = t1._load(t1.current_snapshot_id())["files"]
    assert files
    for f in files:
        assert (f.get("stats") or {}).get("k") is not None
        assert (f.get("bloom") or {}).get("k") is not None

    # loser retries against the fresh snapshot and wins cleanly
    t1.merge_upsert(spark, upd1, key="k")
    rows = {r.k: r.v for r in t1.read(spark).collect()}
    assert rows[5] == 9999 and rows[20] == 200
    assert len(rows) == 11


def test_merge_vs_append_interleave_raises_then_retry_keeps_both(
    spark, tmp_path
):
    """An append sneaking into the merge's plan->commit window must
    fail the merge (expected_parent pin): the merge's keep-filter was
    planned before the append existed, so rebasing would silently drop
    the appended file. The append must survive untouched and the
    merge retry must see it."""
    path = str(tmp_path / "t")
    t1, t2 = SnapTable(path), SnapTable(path)
    t1.append(_df(spark, 0, 5))

    unhook = _hook_after_plan(t1, lambda: t2.append(_df(spark, 50, 52)))
    with pytest.raises(CommitConflict):
        t1.merge_upsert(
            spark, spark.createDataFrame([Row(k=2, v=2222)]), key="k"
        )
    unhook()

    # the appended rows are there; the failed merge changed NOTHING
    rows = {r.k: r.v for r in t1.read(spark).collect()}
    assert rows[50] == 500 and rows[51] == 510
    assert rows[2] == 20
    assert [s["operation"] for s in t1.snapshots()] == ["append", "append"]

    # retry lands on the new snapshot: update applied, append intact
    t1.merge_upsert(spark, spark.createDataFrame([Row(k=2, v=2222)]), key="k")
    rows = {r.k: r.v for r in t1.read(spark).collect()}
    assert rows[2] == 2222 and rows[50] == 500
    assert len(rows) == 7


def test_merge_vs_merge_no_overlap_still_raises(spark, tmp_path):
    """Even DISJOINT-key merges must not both land from the same base:
    each one's keep-filter enumerates the other's rewritten files as
    parent files to keep by path, so a silent rebase would resurrect
    the pre-merge versions of the other's keys. Serializable isolation
    means the second RAISES regardless of key overlap."""
    path = str(tmp_path / "t")
    t1, t2 = SnapTable(path), SnapTable(path)
    t1.append(_df(spark, 0, 4))

    unhook = _hook_after_plan(
        t1,
        lambda: t2.merge_upsert(
            spark, spark.createDataFrame([Row(k=0, v=111)]), key="k"
        ),
    )
    with pytest.raises(CommitConflict):
        t1.merge_upsert(
            spark, spark.createDataFrame([Row(k=3, v=333)]), key="k"
        )
    unhook()
    rows = {r.k: r.v for r in t1.read(spark).collect()}
    assert rows == {0: 111, 1: 10, 2: 20, 3: 30}


