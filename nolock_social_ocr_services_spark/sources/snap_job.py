"""Jobs over SnapTable: resumable ingest dedup, an exactly-once
foreachBatch sink and incremental aggregate maintenance.

Each job commits its data and its progress marker in one snapshot, so a
kill at any point resumes from table metadata alone. On a real cluster
these are Iceberg ``overwritePartitions`` / ``append`` commits; see
sources/snaptable.py for the swap map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import with_part_id
from .snaptable import SnapTable


def run_ingest_dedup(
    spark: SparkSession,
    docs: DataFrame,
    table_dir: str,
    num_batches: int = 4,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    min_agree: int = 8,
    fail_after: int | None = None,
    index_dir: str | None = None,
) -> list[int]:
    """The production corpus-ingest loop: batches of documents arrive
    in order and are deduplicated against the PERSISTED index of
    everything ingested so far (functions.dedup.dedup_index /
    incremental_dedup) — the historical corpus text is never rescanned.
    Two snapshot tables make the loop exactly-once AND resumable:

    * ``table_dir``          — verdicts, partitioned by ``batch_id``;
    * ``table_dir + "_index"`` — the dedup index, one ``append`` of the
      batch's unique survivors per committed batch (the incremental
      form of functions.dedup.update_index).

    Commit order per batch: verdicts ``overwrite_partitions`` first
    (idempotent — a replay of a half-finished batch replaces its own
    partition against the UNCHANGED index and produces byte-identical
    verdicts), then the index ``append`` carrying the cumulative
    ``committed_batches`` protocol record. A kill between the two
    re-runs the batch on resume; a kill after the second never re-runs
    it. Resume state is read from the INDEX summary because the index
    is the loop's state — the verdicts table is just output.

    Within-batch exact duplicates are resolved first (exact_dedup):
    only each digest's canonical row is matched against the index, so
    two copies arriving in ONE batch cannot both enter the index; the
    non-canonical copies get verdict 'exact_dup' pointing at their
    in-batch canonical. (Within-batch NEAR-dup resolution is a separate
    per-batch LSH pass — minhash_lsh_candidates — out of scope here.)

    At 100 TB: each iteration is one batch-sized job; the index table
    grows by appends only and its banded view can be bucketed by
    band_hash so the candidate join is shuffle-free on the index side.
    Returns batch ids processed by THIS invocation.
    """
    verdicts_t = SnapTable(table_dir)
    index_t = SnapTable(index_dir or table_dir + "_index")
    batched = with_part_id(docs, num_batches).withColumnRenamed(
        "part_id", "batch_id"
    )
    done = {int(v) for v in index_t.current_summary().get("committed_batches", [])}
    processed: list[int] = []
    for b in range(num_batches):
        if b in done:
            continue
        if fail_after is not None and len(processed) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} commits")
        _ingest_dedup_batch(
            spark,
            batched.filter(F.col("batch_id") == b).drop("batch_id"),
            verdicts_t,
            index_t,
            unit_col="batch_id",
            unit=b,
            marker_key="committed_batches",
            marker_set=done | set(processed) | {b},
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            min_agree=min_agree,
        )
        processed.append(b)
    return processed


def _ingest_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    verdicts_t: SnapTable,
    index_t: SnapTable,
    unit_col: str,
    unit: int,
    marker_key: str,
    marker_set: set[int],
    num_hashes: int,
    bands: int,
    k: int,
    min_agree: int,
) -> None:
    """One ingest-dedup unit (a resume batch or a streaming epoch):
    verdict rows land as an idempotent ``overwrite_partitions`` of this
    unit's partition, then the index grows by the unit's unique
    survivors in ONE atomic commit that also carries the cumulative
    unit marker — a kill can never leave the index advanced but the
    unit unmarked (which would re-ingest the unit against an index
    already holding its own docs)."""
    from ..functions import dedup as dd

    ex = dd.exact_dedup(batch)
    canon = batch.join(ex.filter("is_canonical").select("doc_id"), "doc_id")
    index = (
        index_t.read(spark)
        if index_t.current_snapshot_id()
        else dd.dedup_index(batch.limit(0), num_hashes=num_hashes, k=k)
    )
    v = dd.incremental_dedup(
        canon, index, num_hashes=num_hashes, bands=bands, k=k,
        min_agree=min_agree,
    )
    intra = ex.filter(~F.col("is_canonical")).select(
        "doc_id",
        F.col("canonical_id").alias("exact_dup_of"),
        F.lit(None).cast(v.schema["match_id"].dataType).alias("match_id"),
        F.lit(None).cast("long").alias("sig_agree"),
        F.lit("exact_dup").alias("verdict"),
    )
    verdicts_t.overwrite_partitions(
        v.unionByName(intra).withColumn(unit_col, F.lit(unit)),
        unit_col,
        [unit],
    )
    increment = dd.dedup_index(canon, num_hashes=num_hashes, k=k).join(
        v.filter("verdict = 'unique'").select("doc_id"), "doc_id"
    )
    txid = index_t._write_tx(increment, None)
    index_t._commit(
        "append",
        txid,
        lambda pf: pf,
        index_t._write_schema_json(increment),
        {"added_files": len(txid)},
        protocol={marker_key: sorted(marker_set)},
    )


def stream_ingest_dedup(
    table_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 8,
    min_agree: int = 8,
    index_dir: str | None = None,
):
    """``foreachBatch`` form of the ingest-dedup loop: each streaming
    micro-batch of documents is deduplicated against the persisted
    index and the index grows by the batch's unique survivors —
    exactly-once under foreachBatch's at-least-once replay, by the same
    two-table protocol as :func:`run_ingest_dedup` keyed on the EPOCH:
    a replayed epoch is detected from the index summary and skipped
    entirely; a crash between the verdict overwrite and the index
    commit replays the epoch against the UNCHANGED index, and the
    verdict overwrite idempotently replaces its own partition.

    Usage::

        q = (docs_stream.writeStream
             .foreachBatch(stream_ingest_dedup(path))
             .option("checkpointLocation", ckpt).start())

    This is the streaming twin of the batch loop — same state (the
    index snapshot table), so a corpus can be backfilled in batch and
    then kept deduplicated by a live stream, or vice versa: point both
    at one index via ``index_dir`` (each mode keeps its OWN verdicts
    table — they partition by different unit columns) and the epoch
    and batch markers coexist as separate protocol keys on the shared
    index lineage.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        verdicts_t = SnapTable(table_dir)
        index_t = SnapTable(index_dir or table_dir + "_index")
        done = {int(v) for v in index_t.current_summary().get("epochs", [])}
        if int(epoch_id) in done:
            return
        _ingest_dedup_batch(
            batch_df.sparkSession,
            batch_df,
            verdicts_t,
            index_t,
            unit_col="epoch",
            unit=int(epoch_id),
            marker_key="epochs",
            marker_set=done | {int(epoch_id)},
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            min_agree=min_agree,
        )

    return write_batch


def exactly_once_sink(table_dir: str):
    """foreachBatch sink with exactly-once semantics into a SnapTable.

    Structured Streaming's foreachBatch is at-least-once: after a crash
    the last epoch is REPLAYED with the same epoch_id. Idempotence here
    is the Iceberg pattern: the epoch id is committed atomically WITH
    the batch's data (in the snapshot summary), so a replayed epoch is
    detected from table metadata and skipped — data and dedup marker
    can never disagree, which is exactly the property a separate
    "processed epochs" side-file cannot give you.

    Usage::

        q = (stream.writeStream
             .foreachBatch(exactly_once_sink(path))
             .option("checkpointLocation", ckpt).start())

    Scale: the committed-epoch set is kept cumulative in the snapshot's
    PROTOCOL record (ints, one per trigger), which every commit —
    including appends and compactions by other jobs — folds forward, so
    interleaved table maintenance cannot erase the dedup state; for
    month-long streams carry only (max_epoch, recent_set) — epochs
    arrive monotonically, so the full set is reconstructible and the
    record stays O(1).
    """
    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        table = SnapTable(table_dir)
        done = set(table.current_summary().get("epochs", []))
        if int(epoch_id) in done:
            return  # replayed epoch: data already committed atomically
        txid = table._write_tx(batch_df, None)
        table._commit(
            "append",
            txid,
            lambda pf: pf,
            batch_df.schema.json(),
            {"added_files": len(txid)},
            protocol={"epochs": sorted(done | {int(epoch_id)})},
        )

    return write_batch


def maintain_agg_snap(
    spark: SparkSession,
    source: SnapTable,
    agg: SnapTable,
    keys: list[str],
    value_col: str | None = None,
) -> int:
    """Incremental materialized-view maintenance over the changelog —
    the consumer CDC exists for at 100 TB: keep a per-``keys`` rollup
    (``n_rows``[, ``sum_<value_col>``]) of ``source`` current by
    applying the NET row delta since the last maintained snapshot.
    Compute cost follows the CHANGE (``read_changes`` candidates are
    only the files one snapshot has and the other lacks) plus a
    rewrite of the small agg table; a from-scratch refresh re-scans
    the whole source every cycle.

    The maintenance cursor (``mv_source_snapshot``) rides the agg
    table's folded-forward protocol state and commits ATOMICALLY with
    the new agg rows (one overwrite snapshot), so a crashed cycle
    either advanced both or neither — re-running applies the same
    delta to the same base. Groups whose net count reaches zero keep
    an explicit ``n_rows = 0`` row (a visible tombstone beats a
    silently vanished group for downstream mirrors).

    Returns the agg table's snapshot id after maintenance (unchanged
    if the source hasn't moved)."""
    to_id = source.current_snapshot_id()
    cursor = int(agg.current_summary().get("mv_source_snapshot", 0))
    if to_id == cursor:
        return agg.current_snapshot_id()
    ch = source.read_changes(spark, cursor, to_id)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    aggs = [F.sum(sign).cast("long").alias("d_n")]
    sum_col = f"sum_{value_col}" if value_col else None
    if value_col:
        aggs.append(F.sum(sign * F.col(value_col)).alias("d_s"))
    delta = ch.groupBy(*keys).agg(*aggs)
    if agg.current_snapshot_id():
        cur_cols = ["n_rows"] + ([sum_col] if sum_col else [])
        cur = agg.read(spark).select(*keys, *cur_cols)
        joined = cur.join(delta, on=keys, how="full")
        merged_cols = [
            (
                F.coalesce(F.col("n_rows"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n_rows")
        ]
        if sum_col:
            merged_cols.append(
                (
                    F.coalesce(F.col(sum_col), F.lit(0))
                    + F.coalesce(F.col("d_s"), F.lit(0))
                ).alias(sum_col)
            )
        merged = joined.select(*keys, *merged_cols)
    else:
        out = [F.col("d_n").alias("n_rows")]
        if sum_col:
            out.append(F.col("d_s").alias(sum_col))
        merged = delta.select(*keys, *out)
    return agg.overwrite(merged, protocol={"mv_source_snapshot": to_id})


def stream_maintain_agg(
    source_dir: str,
    agg_dir: str,
    keys: list[str],
    value_col: str | None = None,
):
    """foreachBatch sink that keeps a per-``keys`` rollup current while
    landing the stream in a snapshot table: each epoch is an
    exactly-once append on the SOURCE (epoch id committed atomically
    with the rows, replays skipped from metadata — the
    :func:`exactly_once_sink` protocol), followed by
    :func:`maintain_agg_snap` advancing the agg from ITS OWN changelog
    cursor.

    The cursor makes maintenance self-healing rather than
    epoch-coupled: a crash between append and maintain just leaves a
    larger delta for the next trigger; a replayed epoch appends
    nothing, and its maintain call either catches the agg up or
    no-ops. The MV can trail the source by at most one crash window
    and can never diverge from it — the same two-commit shape as the
    ingest-dedup loop, with the cursor playing the epoch-marker role
    on the agg side.

    Usage::

        q = (stream.writeStream
             .foreachBatch(stream_maintain_agg(src, agg, ["g"], "v"))
             .option("checkpointLocation", ckpt).start())
    """
    append_once = exactly_once_sink(source_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        append_once(batch_df, epoch_id)
        maintain_agg_snap(
            batch_df.sparkSession,
            SnapTable(source_dir),
            SnapTable(agg_dir),
            keys=keys,
            value_col=value_col,
        )

    return write_batch
