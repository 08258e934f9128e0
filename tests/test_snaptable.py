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

from nolock_social_ocr_services_spark.sources.snap_job import maintain_agg_snap
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


def test_exactly_once_sink_skips_replayed_epoch(spark, tmp_path):
    from nolock_social_ocr_services_spark.sources.snap_job import (
        exactly_once_sink,
    )

    path = str(tmp_path / "t")
    sink = exactly_once_sink(path)
    sink(_df(spark, 0, 5), 0)
    sink(_df(spark, 5, 8), 1)
    sink(_df(spark, 0, 5), 0)   # crash-replay of epoch 0
    sink(_df(spark, 5, 8), 1)   # crash-replay of epoch 1
    t = SnapTable(path)
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(8))
    assert t.current_summary()["epochs"] == [0, 1]


def test_exactly_once_sink_through_restarted_stream(spark, tmp_path):
    """Real stream: write epochs through foreachBatch, stop, add more
    input, restart from the SAME checkpoint — committed epochs are not
    re-appended, new input lands exactly once."""
    from nolock_social_ocr_services_spark.sources.snap_job import (
        exactly_once_sink,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "t")
    _df(spark, 0, 10).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_pass():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(exactly_once_sink(table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    first = sorted(r.k for r in SnapTable(table).read(spark).collect())
    assert first == list(range(10))
    _df(spark, 10, 15).write.mode("append").parquet(src)
    run_pass()
    got = sorted(r.k for r in SnapTable(table).read(spark).collect())
    assert got == list(range(15))


def test_schema_evolution_old_files_null_fill(spark, tmp_path):
    """Iceberg-style schema evolution: append with a superset schema
    under the opt-in mergeSchema mode; reads resolve ALL files against
    the CURRENT snapshot's schema, so pre-evolution files surface the
    new column as NULL, and time travel still reads the old snapshot
    with the old schema. (Without merge_schema=True, the unknown column
    is rejected — see test_evolve_drop_tombstones_name.)"""
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


def test_maintain_agg_snap_tracks_source_incrementally(spark, tmp_path):
    """Materialized-view maintenance via the changelog: after each
    maintenance cycle the rollup equals a from-scratch recompute, the
    cursor rides the agg table's protocol state, and a no-op cycle
    commits nothing."""
    src = SnapTable(str(tmp_path / "src"))
    agg = SnapTable(str(tmp_path / "agg"))
    # v = k*10; group by parity of k
    with_g = lambda lo, hi: _df(spark, lo, hi).withColumn(  # noqa: E731
        "g", (F.col("k") % 2).cast("long")
    )
    src.append(with_g(0, 6))
    maintain_agg_snap(spark, src, agg, keys=["g"], value_col="v")
    got = {r.g: (r.n_rows, r.sum_v) for r in agg.read(spark).collect()}
    assert got == {0: (3, 60), 1: (3, 90)}  # k 0,2,4 / 1,3,5
    # source moves: append + a row-level update
    src.append(with_g(6, 8))
    upd = spark.createDataFrame([(1, 1000, 1)], "k long, v long, g long")
    src.merge_upsert(spark, upd, key="k")
    s_after = maintain_agg_snap(spark, src, agg, keys=["g"], value_col="v")
    got = {r.g: (r.n_rows, r.sum_v) for r in agg.read(spark).collect()}
    # recompute oracle: rows now k=0..7 with v=k*10 except k=1 -> 1000
    assert got == {0: (4, 0 + 20 + 40 + 60), 1: (4, 1000 + 30 + 50 + 70)}
    # idle source: no new agg commit
    assert maintain_agg_snap(spark, src, agg, keys=["g"], value_col="v") == s_after
    # overwrite down to two rows: groups net to explicit zero tombstones
    src.overwrite(with_g(0, 2))
    maintain_agg_snap(spark, src, agg, keys=["g"], value_col="v")
    got = {r.g: (r.n_rows, r.sum_v) for r in agg.read(spark).collect()}
    assert got == {0: (1, 0), 1: (1, 10)}


def test_stream_maintain_agg_replay_and_crash_catchup(spark, tmp_path):
    """Composed foreachBatch sink: appends land exactly once under
    epoch replay, and the MV self-heals — an epoch whose maintain step
    'crashed' (simulated by appending via the raw sink) is caught up
    by the next trigger's cursor advance."""
    from nolock_social_ocr_services_spark.sources.snap_job import (
        exactly_once_sink,
        stream_maintain_agg,
    )

    src_dir = str(tmp_path / "src")
    agg_dir = str(tmp_path / "agg")
    with_g = lambda lo, hi: _df(spark, lo, hi).withColumn(  # noqa: E731
        "g", (F.col("k") % 2).cast("long")
    )
    sink = stream_maintain_agg(src_dir, agg_dir, keys=["g"], value_col="v")
    sink(with_g(0, 4), 0)
    sink(with_g(0, 4), 0)  # crash-replay: no double rows, no double agg
    got = {r.g: (r.n_rows, r.sum_v) for r in SnapTable(agg_dir).read(spark).collect()}
    assert got == {0: (2, 0 + 20), 1: (2, 10 + 30)}
    # epoch 1 appends but its maintain step never runs (crash window)
    exactly_once_sink(src_dir)(with_g(4, 6), 1)
    # next trigger replays epoch 1: append skipped, maintain catches up
    sink(with_g(4, 6), 1)
    got = {r.g: (r.n_rows, r.sum_v) for r in SnapTable(agg_dir).read(spark).collect()}
    assert got == {0: (3, 0 + 20 + 40), 1: (3, 10 + 30 + 50)}
    assert sorted(
        r.k for r in SnapTable(src_dir).read(spark).collect()
    ) == list(range(6))


def test_delete_keys_mor_sequence_semantics(spark, tmp_path):
    """Merge-on-read row-level delete: O(delete) commit, anti-join at
    read, Iceberg v2 sequence rule (a later append re-inserting a
    deleted key is NOT suppressed), merge refuses over pending deletes,
    compaction materializes and clears them."""
    t = SnapTable(str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 6))
    s2 = t.delete_keys(
        spark, spark.createDataFrame([(1,), (3,)], "k long"), key="k"
    )
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 2, 4, 5]
    # time travel: the pre-delete snapshot still sees every row
    assert sorted(
        r.k for r in t.read(spark, snapshot_id=s1).collect()
    ) == list(range(6))
    # a LATER append re-inserts a deleted key: seq rule keeps it
    t.append(spark.createDataFrame([(3, 999)], "k long, v long"))
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert (3, 999) in got and (3, 30) not in got
    assert [k for k, _ in got] == [0, 2, 3, 4, 5]
    # rollback reverts the delete state wholesale, both directions
    t.rollback(s1)
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(6))
    t.rollback(s2)
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 2, 4, 5]
    # merge over pending deletes refuses: its rewrite would resurrect
    up = spark.createDataFrame([(0, 1)], "k long, v long")
    with pytest.raises(ValueError, match="pending row-level deletes"):
        t.merge_upsert(spark, up, key="k")
    # compact materializes the deletes into data files and clears them
    t.compact(spark, target_files=2)
    assert t.pending_deletes() == []
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 2, 4, 5]
    t.merge_upsert(spark, spark.createDataFrame([(0, 111)], "k long, v long"), key="k")
    assert (0, 111) in {(r.k, r.v) for r in t.read(spark).collect()}


def test_delete_where_uses_pruned_scan(spark, tmp_path):
    """Predicate-form delete: keys resolve through the file-skipping
    read path and the committed delete removes exactly the matches."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 2000), cluster_by="k", cluster_files=16)
    t.delete_where(spark, key="k", between={"k": (100, 104)})
    got = sorted(r.k for r in t.read(spark).collect())
    assert len(got) == 1995 and all(k < 100 or k > 104 for k in got)
    # the resolved keyset came from a pruned scan: the between read
    # plans a small fraction of the 16 clustered files
    hit, _ = t.scan_files(between={"k": (100, 104)})
    assert 0 < len(hit) <= 2


def test_delete_keys_changelog_guard_and_expiry(spark, tmp_path):
    """The file-set changelog is undefined across a MoR delete (raises
    until materialized); equal delete sets pass; snapshot expiry never
    sweeps a delete file a surviving snapshot references."""
    t = SnapTable(str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 4))
    s2 = t.delete_keys(
        spark, spark.createDataFrame([(2,)], "k long"), key="k"
    )
    with pytest.raises(ValueError, match="changelog undefined"):
        t.read_changes(spark, s1, s2)
    s3 = t.append(_df(spark, 4, 5))
    ch = t.read_changes(spark, s2, s3).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [(4, "insert")]
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 3, 4]


def test_compact_zorder_prunes_on_every_listed_column(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after a z-ordered rewrite, a range scan on
    EITHER listed column opens a small fraction of the files — where a
    single-column cluster_by leaves the other column's bounds spanning
    the whole table."""
    t = SnapTable(str(tmp_path / "t"))
    # two INDEPENDENT dimensions (b is a Knuth-hash scramble of the id)
    base = spark.range(0, 4000).select(
        (F.col("id") % 1000).alias("a"),
        ((F.col("id") * 2654435761) % 1000).alias("b"),
        F.col("id").alias("k"),
    )
    t.append(base.orderBy(F.md5(F.col("k").cast("string"))))
    before = sorted((r.a, r.b, r.k) for r in t.read(spark).collect())

    # single-column clustering: a prunes, b cannot
    t.compact(spark, target_files=16, cluster_by="a")
    all_c, _ = t.scan_files()
    b_hit_clustered, _ = t.scan_files(between={"b": (0, 99)})
    assert len(all_c) == 16
    assert len(b_hit_clustered) == len(all_c)  # b bounds span the table

    # z-order rewrite: BOTH columns prune
    t.compact(spark, target_files=16, zorder_by=["a", "b"])
    all_z, _ = t.scan_files()
    a_hit, _ = t.scan_files(between={"a": (0, 99)})
    b_hit, _ = t.scan_files(between={"b": (0, 99)})
    assert len(all_z) == 16
    assert 0 < len(a_hit) <= 8
    assert 0 < len(b_hit) <= 8
    # rows survive byte-identically and residual filters stay exact
    after = sorted((r.a, r.b, r.k) for r in t.read(spark).collect())
    assert after == before
    got = sorted(r.b for r in t.read(spark, between={"b": (0, 99)}).collect())
    assert got == sorted(
        ((i * 2654435761) % 1000) for i in range(4000)
        if ((i * 2654435761) % 1000) <= 99
    )
    with pytest.raises(ValueError, match="not both"):
        t.compact(spark, target_files=4, cluster_by="a", zorder_by=["b"])


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


@pytest.fixture
def tiny_shards(monkeypatch):
    """Force sharded manifests at toy scale."""
    from nolock_social_ocr_services_spark.sources import snaptable as st

    monkeypatch.setattr(st, "_MANIFEST_INLINE_LIMIT", 2)
    monkeypatch.setattr(st, "_MANIFEST_SHARD_ROWS", 2)
    return st


def test_sharded_manifests_roundtrip_and_append_reuse(
    spark, tmp_path, tiny_shards
):
    """Above the inline limit the file list splits into manifest shards;
    reads see every row, and a subsequent append REUSES the parent's
    shard files by reference (commit cost O(new files))."""
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, k % 3, k * 10) for k in range(30)], "k long, p int, v long"
    )
    t.append(base, partition_by="p")
    snap1 = t._load(1)
    assert "manifests" in snap1 and "files" not in snap1
    assert sum(m["n_files"] for m in snap1["manifests"]) == len(
        t._snap_files(snap1)
    )
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(30))
    t.append(
        spark.createDataFrame([(100, 0, 1)], "k long, p int, v long"),
        partition_by="p",
    )
    snap2 = t._load(2)
    s1_paths = {m["path"] for m in snap1["manifests"]}
    s2_paths = {m["path"] for m in snap2["manifests"]}
    assert s1_paths < s2_paths  # parent shards reused verbatim
    assert t.read(spark).count() == 31
    # snapshots()/committed_values answer from shard metadata
    assert t.snapshots()[-1]["n_files"] == len(t._snap_files(snap2))
    assert t.committed_values("p") == {"0", "1", "2"}


def test_sharded_partition_scan_opens_only_touched_shards(
    spark, tmp_path, tiny_shards, monkeypatch
):
    """Manifest-level partition pruning: read(parts=[1]) must open ONLY
    the shard files whose recorded partition values match."""
    t = SnapTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, k % 3, k * 10) for k in range(30)], "k long, p int, v long"
    )
    t.append(base, partition_by="p")
    opened = []
    orig = SnapTable._load_manifest

    def spy(self, rel_path):
        opened.append(rel_path)
        return orig(self, rel_path)

    monkeypatch.setattr(SnapTable, "_load_manifest", spy)
    got = t.read(spark, parts=[1])
    assert sorted(r.k for r in got.collect()) == [
        k for k in range(30) if k % 3 == 1
    ]
    snap = t._load(1)
    matching = {
        m["path"] for m in snap["manifests"] if "1" in (m["partitions"] or [])
    }
    assert set(opened) == matching
    assert len(opened) < len(snap["manifests"])


def test_sharded_between_scan_skips_shards_by_envelope(
    spark, tmp_path, tiny_shards, monkeypatch
):
    """Manifest-level range pruning: a between= read on a CLUSTERED
    sharded table opens only shards whose stat envelope overlaps."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 400), cluster_by="k", cluster_files=8)
    snap = t._load(1)
    assert "manifests" in snap
    opened = []
    orig = SnapTable._load_manifest

    def spy(self, rel_path):
        opened.append(rel_path)
        return orig(self, rel_path)

    monkeypatch.setattr(SnapTable, "_load_manifest", spy)
    got = t.read(spark, between={"k": (100, 120)})
    assert sorted(r.k for r in got.collect()) == list(range(100, 121))
    assert 0 < len(set(opened)) < len(snap["manifests"])


def test_sharded_expire_drops_orphan_shards(spark, tmp_path, tiny_shards):
    import glob as g

    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))          # sharded (limit=2, >2 files?) 
    t.overwrite(_df(spark, 100, 110))    # parent shards become garbage
    all_man = lambda: len(  # noqa: E731
        g.glob(os.path.join(t.meta_dir, "man-*.json"))
    )
    before = all_man()
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    live = t._load(t.current_snapshot_id()).get("manifests", [])
    assert all_man() == len(live) <= before
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(100, 110))


def test_sharded_incremental_read_diffs_shards(spark, tmp_path, tiny_shards):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 15))
    inc = t.read_incremental(spark, from_snapshot_id=1)
    assert sorted(r.k for r in inc.collect()) == list(range(10, 15))


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
    """Unreferenced shards/tx dirs younger than orphan_grace_s survive
    the sweep: an in-flight concurrent commit writes its files BEFORE
    its CAS, and expire must not delete them out from under it."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.overwrite(_df(spark, 10, 13))  # snapshot-1's tx is now orphaned
    assert t.expire_snapshots(keep_last=1) == 0  # default grace: kept
    tx_dirs = [d for d in os.listdir(t.data_dir) if d.startswith("tx-")]
    assert len(tx_dirs) == 2
    assert t.expire_snapshots(keep_last=1, orphan_grace_s=0) == 1


# -- schema evolution (Iceberg spec: add / widen / drop, metadata-only) -------


def test_evolve_add_column_nullfills_old_files(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField

    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    sid = t.evolve_schema(add=[StructField("tag", StringType())])
    assert t.snapshots()[-1]["operation"] == "evolve"
    # old rows read back with the new column as NULL
    rows = t.read(spark).collect()
    assert len(rows) == 5 and all(r.tag is None for r in rows)
    # a writer that knows the new column appends it; one that doesn't
    # may still omit it (optional column)
    t.append(
        spark.createDataFrame(
            [(100, 1000, "x")], "k long, v long, tag string"
        )
    )
    t.append(_df(spark, 200, 201))
    got = {r.k: r.tag for r in t.read(spark).collect()}
    assert got[100] == "x" and got[200] is None and got[0] is None
    # time travel predating the evolve has no tag column
    assert "tag" not in t.read(spark, snapshot_id=sid - 1).columns


def test_evolve_widen_int_to_long_reads_old_files(spark, tmp_path):
    from pyspark.sql.types import DoubleType, LongType

    t = SnapTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, x float")
    )
    t.evolve_schema(widen={"k": LongType(), "x": DoubleType()})
    df = t.read(spark)
    assert dict(df.dtypes) == {"k": "bigint", "x": "double"}
    got = {r.k: r.x for r in df.collect()}
    assert got[1] == pytest.approx(1.5) and got[2] == pytest.approx(2.5)
    # writers may still produce the NARROWER type (legal promotion)
    t.append(spark.createDataFrame([(3, 3.5)], "k int, x float"))
    assert t.read(spark).count() == 3
    # but an illegal promotion is rejected up front
    with pytest.raises(ValueError, match="not a legal promotion"):
        t.append(spark.createDataFrame([("s", 1.0)], "k string, x double"))


def test_evolve_drop_tombstones_name(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField

    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.evolve_schema(drop=["v"])
    assert t.read(spark).columns == ["k"]
    # the dropped name cannot come back — old files still hold values
    with pytest.raises(ValueError, match="dropped"):
        t.evolve_schema(add=[StructField("v", LongType())])
    with pytest.raises(ValueError, match="dropped"):
        t.append(_df(spark, 3, 4))  # writer still carrying v
    # unknown columns are rejected too (must evolve first)
    with pytest.raises(ValueError, match="not in the table"):
        t.append(
            spark.createDataFrame([(9, 9)], "k long, brand_new long")
        )
    # a full overwrite redefines the table and clears the tombstone
    t.overwrite(_df(spark, 10, 12))
    assert sorted(t.read(spark).columns) == ["k", "v"]


def test_evolve_is_metadata_only_and_guards_partition_col(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField

    t = SnapTable(str(tmp_path / "t"))
    t.append(
        _df(spark, 0, 6).withColumn("p", F.col("k") % 2),
        partition_by="p",
    )
    import glob as _glob

    files_before = sorted(
        _glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                   recursive=True)
    )
    t.evolve_schema(add=[StructField("note", LongType())])
    files_after = sorted(
        _glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                   recursive=True)
    )
    assert files_before == files_after  # no data file touched
    with pytest.raises(ValueError, match="partition column"):
        t.evolve_schema(drop=["p"])
    # partitioned read still restores p, with the new column null
    rows = t.read(spark).collect()
    assert {r.p for r in rows} == {0, 1}
    assert all(r.note is None for r in rows)


def test_merge_upsert_after_evolve_nullfills_new_column(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField

    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 4), cluster_by="k")
    t.evolve_schema(add=[StructField("tag", StringType())])
    # incoming rows omit tag: survivors keep theirs (NULL), incoming
    # rows null-fill — and the merge still prunes/rewrites correctly
    t.merge_upsert(spark, _df(spark, 2, 5), key="k")
    got = {r.k: (r.v, r.tag) for r in t.read(spark).collect()}
    assert got == {0: (0, None), 1: (10, None), 2: (20, None),
                   3: (30, None), 4: (40, None)}


def test_read_incremental_across_evolve(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField

    t = SnapTable(str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 3))
    t.evolve_schema(add=[StructField("tag", StringType())])
    t.append(_df(spark, 3, 5))
    inc = t.read_incremental(spark, from_snapshot_id=s1)
    # the delta is only the post-evolve append, under the NEW schema
    assert sorted(r.k for r in inc.collect()) == [3, 4]
    assert "tag" in inc.columns


# -- snapshot tags (Iceberg named refs + retention protection) ----------------


def test_tag_read_by_name_and_fold_forward(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.tag("v1")  # pins snapshot 1
    t.append(_df(spark, 3, 6))
    # the ref survives the interleaved append and resolves to the old rows
    assert t.refs() == {"v1": 1}
    assert sorted(r.k for r in t.read(spark, tag="v1").collect()) == [0, 1, 2]
    assert t.read(spark).count() == 6
    # duplicate tag rejected unless replaced; unknown tag read rejected
    with pytest.raises(ValueError, match="already points"):
        t.tag("v1")
    t.tag("v1", replace=True)  # moves to current
    assert t.read(spark, tag="v1").count() == 6
    with pytest.raises(ValueError, match="no tag"):
        t.read(spark, tag="nope")
    with pytest.raises(ValueError, match="does not exist"):
        t.tag("v9", snapshot_id=99)


def test_tagged_snapshot_survives_expiry(spark, tmp_path):
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))   # snap 1
    t.tag("release")             # snap 2 (tag commit), pins 1
    t.overwrite(_df(spark, 10, 12))  # snap 3: logically removes old rows
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    # current read sees the overwrite; the tagged snapshot AND its data
    # files survived the sweep
    assert sorted(r.k for r in t.read(spark).collect()) == [10, 11]
    assert sorted(r.k for r in t.read(spark, tag="release").collect()) == [
        0, 1, 2,
    ]
    # dropping the tag makes it expirable: the old files then go away
    t.drop_tag("release")
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    with pytest.raises(Exception):
        t.read(spark, tag="release")
    assert sorted(r.k for r in t.read(spark).collect()) == [10, 11]
    # read_incremental skips the metadata-only tag commits
    t.append(_df(spark, 20, 21))
    inc = t.read_incremental(spark, from_snapshot_id=t.current_snapshot_id() - 1)
    assert [r.k for r in inc.collect()] == [20]


def test_evolve_conflicts_with_concurrent_commit(spark, tmp_path):
    """evolve_schema is planned against a specific parent: a writer
    landing between plan and commit must raise CommitConflict, never
    silently clobber (or be clobbered by) the interleaved commit."""
    from pyspark.sql.types import LongType, StructField

    path = str(tmp_path / "t")
    t1, t2 = SnapTable(path), SnapTable(path)
    t1.append(_df(spark, 0, 3))
    orig = t1.current_snapshot_id
    fired = {"n": 0}

    def race():
        sid = orig()
        if fired["n"] == 0:
            fired["n"] += 1
            t2.append(_df(spark, 3, 5))  # lands between plan and CAS
        return sid

    t1.current_snapshot_id = race
    with pytest.raises(CommitConflict):
        t1.evolve_schema(add=[StructField("extra", LongType())])
    # the interleaved append survived untouched; no evolve landed
    t1.current_snapshot_id = orig
    assert t1.read(spark).count() == 5
    assert "extra" not in t1.read(spark).columns


def test_tagged_snapshot_survives_compaction_and_expiry(spark, tmp_path):
    """The full retention chain: tag -> more appends -> compact (which
    rewrites the CURRENT rows into new files and orphans the old ones)
    -> expire. The tagged snapshot's original files must survive the
    sweep and read back exactly."""
    t = SnapTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.tag("v1")  # pins snapshot 1 (3 rows)
    t.append(_df(spark, 3, 6))
    t.compact(spark, target_files=1)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(6))
    assert sorted(r.k for r in t.read(spark, tag="v1").collect()) == [0, 1, 2]
    # tag still listed, and refs survived the compact commit
    assert t.refs() == {"v1": 1}


# -- ingest-dedup loop ---------------------------------------------------------


def _ingest_docs(spark):
    """Docs with a cross-batch exact dup, a cross-batch near dup, and
    uniques. with_part_id buckets by hash(doc_id), so batch membership
    is derived, not chosen — the dup pairs below were picked to land in
    DIFFERENT batches at num_batches=2 (hash-checked in the test)."""
    base = (
        "the quick brown fox jumps over the lazy dog while the archive "
        "crawler records every page it visits into columnar storage"
    )
    near = base.replace("columnar storage", "columnar files")
    rows = [
        (0, base),
        (1, "completely different text about cooking pasta with garlic"),
        (2, base),          # exact dup of 0
        (3, near),          # near dup of 0
        (4, "another unique document mentioning satellites and orbits"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_dedup_loop_end_to_end(spark, tmp_path):
    from nolock_social_ocr_services_spark.sources.snap_job import (
        run_ingest_dedup,
    )
    from nolock_social_ocr_services_spark.lineage import with_part_id

    docs = _ingest_docs(spark)
    path = str(tmp_path / "ingest")
    done = run_ingest_dedup(
        spark, docs, path, num_batches=2, bands=8, k=6, min_agree=8
    )
    assert done == [0, 1]
    batches = {
        r.doc_id: r.part_id for r in with_part_id(docs, 2).collect()
    }
    # the fixture only proves cross-batch dedup if the pairs split
    assert batches[0] != batches[2] or batches[0] != batches[3]

    verdicts = {
        r.doc_id: r for r in SnapTable(path).read(spark).collect()
    }
    assert len(verdicts) == 6
    # exact pair: whichever of (0, 2) arrived second is the dup
    first, second = sorted((0, 2), key=lambda d: (batches[d], d))
    assert verdicts[first].verdict == "unique"
    assert verdicts[second].verdict == "exact_dup"
    assert verdicts[second].exact_dup_of == first
    assert verdicts[3].verdict == "near_dup" and verdicts[3].sig_agree >= 8
    assert verdicts[1].verdict == "unique"
    assert verdicts[4].verdict == "unique"
    # the index holds exactly the unique survivors
    idx_ids = {
        r.doc_id for r in SnapTable(path + "_index").read(spark).collect()
    }
    assert idx_ids == {d for d, r in verdicts.items() if r.verdict == "unique"}
    # completed loop re-run is a no-op
    assert run_ingest_dedup(
        spark, docs, path, num_batches=2, bands=8, k=6, min_agree=8
    ) == []


def test_ingest_dedup_resumes_after_kill(spark, tmp_path):
    from nolock_social_ocr_services_spark.sources.snap_job import (
        run_ingest_dedup,
    )

    docs = _ingest_docs(spark)
    path = str(tmp_path / "ingest_kill")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_ingest_dedup(
            spark, docs, path, num_batches=2, bands=8, k=6, min_agree=8,
            fail_after=1,
        )
    resumed = run_ingest_dedup(
        spark, docs, path, num_batches=2, bands=8, k=6, min_agree=8
    )
    assert resumed == [1]
    # killed + resumed run converges to the same state as one clean run
    clean = str(tmp_path / "ingest_clean")
    run_ingest_dedup(
        spark, docs, clean, num_batches=2, bands=8, k=6, min_agree=8
    )
    got = {
        (r.doc_id, r.verdict, r.exact_dup_of)
        for r in SnapTable(path).read(spark).collect()
    }
    want = {
        (r.doc_id, r.verdict, r.exact_dup_of)
        for r in SnapTable(clean).read(spark).collect()
    }
    assert got == want
    assert {
        r.doc_id for r in SnapTable(path + "_index").read(spark).collect()
    } == {
        r.doc_id for r in SnapTable(clean + "_index").read(spark).collect()
    }


def test_ingest_dedup_intra_batch_exact_dup(spark, tmp_path):
    """Two byte-identical docs arriving in the SAME batch: only the
    canonical (min id) enters the index; the other points at it."""
    from nolock_social_ocr_services_spark.sources.snap_job import (
        run_ingest_dedup,
    )

    text = "identical payload sent twice inside one ingest batch today"
    docs = spark.createDataFrame(
        [(7, text), (9, text)], "doc_id long, text string"
    )
    path = str(tmp_path / "ingest_intra")
    run_ingest_dedup(spark, docs, path, num_batches=1, bands=8, k=6)
    verdicts = {r.doc_id: r for r in SnapTable(path).read(spark).collect()}
    assert verdicts[7].verdict == "unique"
    assert verdicts[9].verdict == "exact_dup" and verdicts[9].exact_dup_of == 7
    idx = SnapTable(path + "_index").read(spark).collect()
    assert [r.doc_id for r in idx] == [7]


def test_stream_ingest_dedup_through_restarted_stream(spark, tmp_path):
    """Streaming twin of the ingest loop: micro-batches dedup against
    the shared index across a stop/restart, replayed epochs are
    skipped, and a doc re-sent in a later file dedups against the
    earlier epoch's survivor."""
    from nolock_social_ocr_services_spark.sources.snap_job import (
        stream_ingest_dedup,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "verdicts")
    text_a = "streaming corpora arrive as files and must deduplicate online"
    text_b = "an entirely different document about glacier formation today"
    spark.createDataFrame(
        [(0, text_a), (1, text_b)], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_pass():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                stream_ingest_dedup(table, bands=8, k=6, min_agree=8)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    idx = SnapTable(table + "_index")
    assert {r.doc_id for r in idx.read(spark).collect()} == {0, 1}
    # restart with a new file: 2 re-sends text_a, 3 is fresh
    spark.createDataFrame(
        [(2, text_a), (3, "totally fresh content about tidal energy")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    run_pass()
    verdicts = {r.doc_id: r for r in SnapTable(table).read(spark).collect()}
    assert len(verdicts) == 4
    assert verdicts[2].verdict == "exact_dup" and verdicts[2].exact_dup_of == 0
    assert verdicts[3].verdict == "unique"
    assert {r.doc_id for r in idx.read(spark).collect()} == {0, 1, 3}
    # epochs recorded once each in the shared index lineage
    epochs = idx.current_summary()["epochs"]
    assert epochs == sorted(set(epochs))


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
    files = t1._snap_files(t1._load(t1.current_snapshot_id()))
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


def test_ingest_dedup_kill_between_verdicts_and_index_commit(
    spark, tmp_path, monkeypatch
):
    """The EXACT kill window the two-table protocol exists for: batch
    b's verdicts overwrite has committed, the index append (which
    carries the batch marker) has NOT. On resume the batch must re-run
    against the UNCHANGED index and produce byte-identical verdicts
    (idempotent overwrite of its own partition), the index must end up
    with each survivor exactly once, and the final state must equal an
    uninterrupted run's."""
    from nolock_social_ocr_services_spark.sources import snaptable as st
    from nolock_social_ocr_services_spark.sources.snap_job import (
        run_ingest_dedup,
    )

    docs = _ingest_docs(spark)
    path = str(tmp_path / "ingest_window")
    real_commit = st.SnapTable._commit
    state = {"index_appends": 0}

    def failing(self, operation, *a, **k):
        if operation == "append" and self.path.endswith("_index"):
            state["index_appends"] += 1
            if state["index_appends"] == 2:
                raise RuntimeError("injected kill in the commit window")
        return real_commit(self, operation, *a, **k)

    monkeypatch.setattr(st.SnapTable, "_commit", failing)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_ingest_dedup(
            spark, docs, path, num_batches=2, bands=8, k=6, min_agree=8
        )
    # the window is real: batch 0 fully committed (marker present),
    # batch 1's VERDICTS are durable but its index marker is not
    assert SnapTable(path + "_index").current_summary()[
        "committed_batches"
    ] == [0]
    v_t = SnapTable(path)
    pre = {
        tuple(r) for r in v_t.read(spark).filter("batch_id = 1").collect()
    }
    assert pre, "kill landed before the verdict overwrite — window missed"

    # resume: batch 1 re-runs (it is unmarked) and nothing else does
    monkeypatch.setattr(st.SnapTable, "_commit", real_commit)
    assert run_ingest_dedup(
        spark, docs, path, num_batches=2, bands=8, k=6, min_agree=8
    ) == [1]
    post = {
        tuple(r) for r in v_t.read(spark).filter("batch_id = 1").collect()
    }
    assert post == pre  # replay against the unchanged index: identical

    # exactly-once: every index entry appears once, and the whole state
    # matches a clean uninterrupted run
    clean = str(tmp_path / "ingest_window_clean")
    run_ingest_dedup(
        spark, docs, clean, num_batches=2, bands=8, k=6, min_agree=8
    )
    idx = [r.doc_id for r in SnapTable(path + "_index").read(spark).collect()]
    assert len(idx) == len(set(idx))
    assert set(idx) == {
        r.doc_id for r in SnapTable(clean + "_index").read(spark).collect()
    }
    got = {
        (r.doc_id, r.verdict, r.exact_dup_of)
        for r in v_t.read(spark).collect()
    }
    want = {
        (r.doc_id, r.verdict, r.exact_dup_of)
        for r in SnapTable(clean).read(spark).collect()
    }
    assert got == want


def test_stream_epoch_replay_after_kill_in_commit_window(
    spark, tmp_path, monkeypatch
):
    """foreachBatch replays the LAST epoch with the same epoch_id after
    a crash. Kill epoch 0 inside the commit window (verdicts landed,
    index marker not), then replay the same epoch — the sink must
    re-run it idempotently; a second replay after success must be a
    pure no-op (no new snapshots on either table)."""
    from nolock_social_ocr_services_spark.sources import snaptable as st
    from nolock_social_ocr_services_spark.sources.snap_job import (
        stream_ingest_dedup,
    )

    docs = _ingest_docs(spark)
    path = str(tmp_path / "stream_window")
    sink = stream_ingest_dedup(path, bands=8, k=6, min_agree=8)
    real_commit = st.SnapTable._commit

    def failing(self, operation, *a, **k):
        if operation == "append" and self.path.endswith("_index"):
            raise RuntimeError("injected kill in the commit window")
        return real_commit(self, operation, *a, **k)

    monkeypatch.setattr(st.SnapTable, "_commit", failing)
    with pytest.raises(RuntimeError, match="injected kill"):
        sink(docs, 0)
    assert SnapTable(path).read(spark).count() > 0  # verdicts durable
    assert SnapTable(path + "_index").current_snapshot_id() == 0

    monkeypatch.setattr(st.SnapTable, "_commit", real_commit)
    sink(docs, 0)  # the replay foreachBatch would issue
    verdicts = {r.doc_id: r.verdict for r in SnapTable(path).read(spark).collect()}
    assert len(verdicts) == 6
    idx_snap = SnapTable(path + "_index").current_snapshot_id()
    out_snap = SnapTable(path).current_snapshot_id()
    assert SnapTable(path + "_index").current_summary()["epochs"] == [0]

    sink(docs, 0)  # second replay after success: metadata-detected no-op
    assert SnapTable(path + "_index").current_snapshot_id() == idx_snap
    assert SnapTable(path).current_snapshot_id() == out_snap
