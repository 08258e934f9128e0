"""Snapshot-isolated parquet tables with Iceberg commit semantics.

The north rule targets Iceberg tables; this sandbox ships no Iceberg
runtime jar (``pyspark/jars`` has no table-format jars and installs are
not allowed), so this module re-implements the part of the Iceberg spec
the pipeline depends on — atomic snapshot commits, snapshot-isolated
reads, time travel, rollback, partition-level overwrite, copy-on-write
MERGE, opt-in mergeSchema appends, changelog (CDC) scans, and
maintenance (compaction with sort clustering, snapshot expiry with
orphan cleanup) — over plain parquet, from the published spec
(https://iceberg.apache.org/spec/).

On a real cluster this entire module is replaced by the Iceberg catalog:
``spark.read.table("docs")``, ``df.writeTo("docs").overwritePartitions()``,
``CALL system.rollback_to_snapshot(...)``. The call sites are therefore
kept one-method-thin so the swap is mechanical.

Layout (mirrors Iceberg's metadata tree, flattened one level):

    table_dir/
      data/tx-<txid>/part-*.parquet     immutable data files, one dir
                                        per write transaction
      metadata/snap-<seq>.json          snapshot manifest: schema JSON,
                                        explicit data-file list (with
                                        per-file partition value + row
                                        count), parent pointer, summary

A snapshot file is the unit of commit.  Commit = hard-link a fully
written temp manifest to ``snap-<next>.json``; ``link(2)`` fails with
EEXIST if another writer won, which is the same optimistic
compare-and-swap Iceberg does on its metadata pointer.  Losing appends
REBASE (their data files are already on disk and immutable, so the
retry just re-points them at the new parent); losing overwrites raise —
exactly Iceberg's serializable-isolation behavior.

Readers resolve the highest ``snap-*.json`` (Iceberg's version-hint
scan) and read ONLY the files that manifest lists: a crash after data
files land but before the manifest commit leaves the table readable at
the previous snapshot, and a half-written writer directory is never
visible.  This is the invariant ``lineage.read_output`` provides with
its ``_manifest`` markers, generalized to whole-table versioning.

Every snapshot lists its files inline, so a commit rewrites the whole
file list: O(table files) per commit.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_SNAP_RE = re.compile(r"snap-(\d{10})\.json$")

# Iceberg's allowed type promotions (spec §Schema Evolution): these are
# the widenings that never lose information AND that the parquet reader
# can apply to existing files in place (no rewrite). Keys/values are
# Spark typeName() strings; decimals are handled separately (precision
# may grow, scale must not change).
_SAFE_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
}
_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widens_to(src, dst) -> bool:
    """True iff ``src`` -> ``dst`` is an Iceberg-legal type promotion."""
    s, d = src.simpleString(), dst.simpleString()
    if s == d:
        return True
    if (s, d) in _SAFE_WIDENINGS:
        return True
    ms, md = _DECIMAL_RE.match(s), _DECIMAL_RE.match(d)
    if ms and md:
        return int(md.group(2)) == int(ms.group(2)) and int(
            md.group(1)
        ) >= int(ms.group(1))
    return False

# merge_upsert collects at most this many distinct incoming keys for
# exact per-file pruning; beyond it the [min,max] envelope is used.
_MERGE_KEYSET_LIMIT = 10_000

# Per-file bloom filters (Iceberg/Parquet bloom metrics): bits per
# column per file, and the number of probe hashes. 4096 bits at k=3
# holds ~500 distinct keys under 1% false positives; a false positive
# only costs an unnecessary file open (never correctness).
_BLOOM_M = 4096
_BLOOM_K = 3


def _footer_stats(path: str, cols: set[str]) -> dict:
    """Per-file min/max column bounds from the parquet FOOTER (no data
    read, no Spark job) — the stats Iceberg manifests carry for file
    skipping. JSON-serializable types only; a column with unusable
    stats is simply absent (reader keeps the file — never unsound).

    Soundness requires ALL-row-group coverage: if even one row group
    lacks usable stats for a column, bounds built from the others would
    cover only part of the file and pruning on them could skip matching
    rows — so such a column's bounds are dropped for the whole file."""
    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    bad: set[str] = set()  # columns with >=1 uncovered row group
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            c = g.column(i)
            name = c.path_in_schema
            if name not in cols:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    bad.add(name)
                    continue
            if not isinstance(mn, (int, float, str)):
                bad.add(name)
                continue
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    for name in bad:
        out.pop(name, None)
    return out


def _bloom_canon(value):
    """Canonical probe form. Blooms are built only for int/string
    columns (_file_blooms' type gate), so a numerically-equal probe of
    another type — float 40.0, numpy scalar, bool — must collapse to
    the int's str form before hashing, or the probe would miss bits an
    integer wrote and UNSOUNDLY skip a file that holds the key."""
    if isinstance(value, bool):
        return int(value)
    if isinstance(value, float) and value.is_integer():
        return int(value)
    return value


def _bloom_indexes(value) -> list[int]:
    """Probe positions for one value: double hashing over a keyed
    blake2b digest. Values canonicalize through ``_bloom_canon`` + ``str``
    so the write and probe sides agree for int/string keys (the only
    types blooms are built for — see _file_blooms' type gate)."""
    d = hashlib.blake2b(
        str(_bloom_canon(value)).encode(), digest_size=16
    ).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % _BLOOM_M for i in range(_BLOOM_K)]


def _bloom_maybe_contains(hexbits: str, value) -> bool:
    bits = int(hexbits, 16)
    return all((bits >> ix) & 1 for ix in _bloom_indexes(value))


def _file_blooms(path: str, cols: set[str]) -> dict[str, str]:
    """Per-file bloom bitsets (hex) for point-lookup file skipping —
    the Iceberg/Parquet bloom-filter metric. Built ONLY for integer and
    string columns: a float's str() form ("5.0") would not match an
    integer probe ("5"), and a miss there would UNSOUNDLY skip a file,
    so non-exact types simply get no bloom (readers keep the file).

    This harvest scans the key column of each new file at commit time.
    At cluster scale the same bits come from the write job itself
    (parquet's writer-level blooms via ``parquet.bloom.filter.enabled``
    plus Iceberg metrics collection); the driver-side read here is the
    sandbox stand-in, kept per-file and column-pruned."""
    import pyarrow as pa

    schema = pq.read_schema(path)
    want = [
        n
        for n in schema.names
        if n in cols
        and (
            pa.types.is_integer(schema.field(n).type)
            or pa.types.is_string(schema.field(n).type)
            or pa.types.is_large_string(schema.field(n).type)
        )
    ]
    if not want:
        return {}
    tbl = pq.read_table(path, columns=want)
    out: dict[str, str] = {}
    for n in want:
        bits = 0
        for v in set(tbl.column(n).to_pylist()):
            if v is None:
                continue  # a point probe never matches NULL
            for ix in _bloom_indexes(v):
                bits |= 1 << ix
        out[n] = format(bits, "x")
    return out


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _restore_partition_col(df: DataFrame, partition_by: str, schema: StructType) -> DataFrame:
    """Restore a partitionBy column from the file path (Spark omits it
    from the data files). The value is regexp-extracted from
    ``input_file_name()`` — O(1) in file count, unlike a literal
    path->value map — url-decoded (Spark escapes special chars in
    partition paths), NULLed for the hive null sentinel, and try_cast
    back to the column's DECLARED type from the stored schema (a
    partition written from an int column reads back as int, not the
    path string)."""
    raw = F.regexp_extract(
        F.input_file_name(), re.escape(partition_by) + "=([^/]+)", 1
    )
    # Spark/Hive escapePathName percent-encodes specials but never
    # emits '+', so a literal '+' in a partition value reaches the path
    # verbatim; url_decode would turn it into a space. Re-escape it
    # first so only %XX sequences decode.
    decoded = F.when(
        raw == _HIVE_NULL, F.lit(None).cast("string")
    ).otherwise(F.url_decode(F.regexp_replace(raw, r"\+", "%2B")))
    dtype = next(
        (f.dataType for f in schema.fields if f.name == partition_by), None
    )
    if dtype is not None:
        decoded = decoded.try_cast(dtype)
    # files written WITHOUT partitionBy (an unpartitioned compact or
    # append into a partitioned table) carry the column in their data
    # and no `col=` path segment — keep the stored value for those.
    stored = (
        F.col(partition_by)
        if partition_by in schema.fieldNames()
        else F.lit(None).cast("string")
    )
    return df.withColumn(
        partition_by, F.when(raw == "", stored).otherwise(decoded)
    )


class CommitConflict(Exception):
    """Optimistic-concurrency failure a caller must resolve (Iceberg's
    ``ValidationException`` on non-append concurrent commits)."""


class SnapTable:
    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------------
    # snapshot resolution
    # ------------------------------------------------------------------
    def _snapshot_files(self) -> list[str]:
        return sorted(
            f
            for f in glob.glob(os.path.join(self.meta_dir, "snap-*.json"))
            if _SNAP_RE.search(f)
        )

    def current_snapshot_id(self) -> int:
        snaps = self._snapshot_files()
        if not snaps:
            return 0
        return int(_SNAP_RE.search(snaps[-1]).group(1))

    def _load(self, snapshot_id: int) -> dict:
        p = os.path.join(self.meta_dir, f"snap-{snapshot_id:010d}.json")
        with open(p) as fh:
            return json.load(fh)

    def snapshots(self) -> list[dict]:
        """History, oldest first (snapshot_id, operation, summary, ts)."""
        out = []
        for f in self._snapshot_files():
            with open(f) as fh:
                s = json.load(fh)
            out.append(
                {
                    "snapshot_id": s["snapshot_id"],
                    "parent_id": s["parent_id"],
                    "operation": s["operation"],
                    "summary": s.get("summary", {}),
                    "n_files": len(s["files"]),
                }
            )
        return out

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    def _write_tx(
        self,
        df: DataFrame,
        partition_by: str | None,
        stats_cols: set[str] | None = None,
        bloom_cols: set[str] | None = None,
    ) -> list[dict]:
        """Write df's rows as immutable files under a fresh tx dir and
        return their manifest entries. Not yet visible to any reader.
        ``stats_cols``: record per-file min/max bounds for these columns
        in the manifest (Iceberg file-skipping stats). ``bloom_cols``:
        additionally record per-file bloom bitsets for point-lookup
        skipping (int/string columns only)."""
        txid = uuid.uuid4().hex[:12]
        tx_dir = os.path.join(self.data_dir, f"tx-{txid}")
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tx_dir)
        entries = []
        for f in glob.glob(
            os.path.join(tx_dir, "**", "*.parquet"), recursive=True
        ):
            part = None
            if partition_by:
                m = re.search(rf"{re.escape(partition_by)}=([^/]+)", f)
                part = {partition_by: m.group(1)} if m else None
            entry = {
                "path": os.path.relpath(f, self.path),
                "partition": part,
                "bytes": os.path.getsize(f),
            }
            if stats_cols:
                entry["stats"] = _footer_stats(f, stats_cols)
            if bloom_cols:
                blooms = _file_blooms(f, bloom_cols)
                if blooms:
                    entry["bloom"] = blooms
            entries.append(entry)
        return entries

    def _try_commit(self, snap: dict) -> bool:
        """Atomic CAS: hard-link a finished temp manifest into place.
        False = another writer committed this id first."""
        final = os.path.join(
            self.meta_dir, f"snap-{snap['snapshot_id']:010d}.json"
        )
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(snap, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _commit(
        self,
        operation: str,
        added: list[dict],
        keep_parent_files,
        schema_json: str,
        summary: dict,
        retries: int = 20,
        expected_parent: int | None = None,
        partition_by: str | None = None,
        protocol: dict | None = None,
    ) -> int:
        """keep_parent_files: callable(parent_files) -> surviving subset.
        Appends rebase on conflict; anything that removes files raises
        CommitConflict if beaten (serializable isolation).
        ``expected_parent``: for operations whose keep-filter was
        PLANNED against a specific snapshot (merge), the commit must
        land exactly on that parent — a writer slipping in between plan
        and commit would otherwise have its files silently dropped by
        the stale filter.
        ``partition_by``: recorded in the snapshot so readers restore
        the partition column without every caller re-specifying it.
        ``protocol``: durable job-protocol state (committed parts,
        stream epochs). Unlike ``summary`` (per-commit bookkeeping),
        protocol state is FOLDED FORWARD from the parent by every
        commit — an interleaved plain append or a compact can never
        silently erase another job's resume/dedup record."""
        for _ in range(retries):
            parent_id = self.current_snapshot_id()
            if expected_parent is not None and parent_id != expected_parent:
                raise CommitConflict(
                    f"planned against snapshot {expected_parent} but the "
                    f"table is now at {parent_id}"
                )
            parent = self._load(parent_id) if parent_id else {}
            snap = {
                "snapshot_id": parent_id + 1,
                "parent_id": parent_id,
                "operation": operation,
                "schema": schema_json,
                "partition_by": (
                    partition_by
                    if partition_by is not None
                    else parent.get("partition_by")
                ),
                "summary": summary,
                "protocol": {**parent.get("protocol", {}), **(protocol or {})},
                "files": keep_parent_files(parent.get("files", [])) + added,
            }
            if self._try_commit(snap):
                return snap["snapshot_id"]
            if operation != "append":
                raise CommitConflict(
                    f"{operation} lost the race at snapshot {parent_id + 1}"
                )
            # append rebases: data files are immutable, just re-point.
        raise CommitConflict(f"gave up after {retries} rebases")

    def append(
        self,
        df: DataFrame,
        partition_by: str | None = None,
        cluster_by: str | None = None,
        stats_cols: list[str] | None = None,
        cluster_files: int | None = None,
        bloom_cols: list[str] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """``merge_schema``: Iceberg's opt-in mergeSchema write — new
        writer columns auto-ADD (optional) and legally-wider writer
        types auto-WIDEN the table schema in this commit; the default
        rejects them (writers conform to the table schema).

        ``cluster_by``: range-partition + sort rows by that column
        before writing, so each file covers a TIGHT, mostly-disjoint
        value range and the recorded bounds actually skip files
        (Iceberg's sort-order / 1-D clustering). ``stats_cols``: extra
        columns to record bounds for without re-clustering.
        ``cluster_files``: explicit file count — an unsized range
        shuffle lets AQE coalesce to byte-sized partitions (right at
        scale); the explicit count pins small appends that AQE would
        fold into one file. ``bloom_cols``: record per-file bloom
        bitsets so ``read(point=...)`` and ``merge_upsert`` skip files
        even when clustered value RANGES overlap (the case min/max
        can't prune: interleaved keys)."""
        cols = set(stats_cols or [])
        if cluster_by:
            cols.add(cluster_by)
            df = (
                df.repartitionByRange(cluster_files, F.col(cluster_by))
                if cluster_files
                else df.repartitionByRange(F.col(cluster_by))
            ).sortWithinPartitions(cluster_by)
        # validate (or merge) the schema BEFORE any data I/O
        schema_json = self._write_schema_json(df, merge=merge_schema)
        added = self._write_tx(
            df,
            partition_by,
            stats_cols=cols or None,
            bloom_cols=set(bloom_cols) if bloom_cols else None,
        )
        return self._commit(
            "append", added, lambda pf: pf, schema_json,
            {"added_files": len(added)}, partition_by=partition_by,
        )

    def overwrite(
        self,
        df: DataFrame,
        partition_by: str | None = None,
        protocol: dict | None = None,
    ) -> int:
        # a full overwrite may legitimately redefine the schema (no old
        # file survives to disagree). ``protocol`` entries fold forward
        # through later commits like any protocol state.
        added = self._write_tx(df, partition_by)
        return self._commit(
            "overwrite", added, lambda pf: [], df.schema.json(),
            {"added_files": len(added)}, partition_by=partition_by,
            protocol=protocol,
        )

    def _write_schema_json(self, df: DataFrame, merge: bool = False) -> str:
        """Validate a writer's schema against the table's and return the
        schema JSON the commit must record (Iceberg: writers conform to
        the TABLE schema).

        A writer may omit table columns (they read back NULL — Iceberg
        optional columns) and may write a NARROWER type the table has
        since widened (the reader promotes it), but an unknown column or
        an incompatible type is an error — silently recording the
        writer's schema would regress an evolved table.

        ``merge`` (Iceberg's opt-in mergeSchema write mode): instead of
        rejecting them, unknown columns are APPENDED as optional fields
        and legally-WIDER writer types widen the table column, folded
        into this commit. Illegal promotions stay errors."""
        sid = self.current_snapshot_id()
        if not sid:
            return df.schema.json()
        snap = self._load(sid)
        table = StructType.fromJson(json.loads(snap["schema"]))
        tcols = {f.name: f for f in table.fields}
        merged = list(table.fields)
        for f in df.schema.fields:
            tf = tcols.get(f.name)
            if tf is None:
                if not merge:
                    raise ValueError(
                        f"{self.path}: column {f.name!r} is not in the "
                        "table schema — append(..., merge_schema=True)"
                    )
                merged.append(StructField(f.name, f.dataType, True))
                continue
            if _widens_to(f.dataType, tf.dataType):
                continue
            if merge and _widens_to(tf.dataType, f.dataType):
                merged = [
                    StructField(m.name, f.dataType, m.nullable)
                    if m.name == f.name
                    else m
                    for m in merged
                ]
                continue
            raise ValueError(
                f"{self.path}: column {f.name!r} is "
                f"{f.dataType.simpleString()} but the table declares "
                f"{tf.dataType.simpleString()} (not a legal promotion)"
            )
        if merge:
            return StructType(merged).json()
        return snap["schema"]

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_by: str,
        values: list,
        extra_summary: dict | None = None,
    ) -> int:
        """Iceberg dynamic-partition overwrite: atomically replace the
        named partitions, leave every other file untouched.

        ``extra_summary`` carries job-protocol state (e.g. the cumulative
        committed-part set: an EMPTY partition writes no files, so it is
        invisible to ``committed_values``; this is the durable record
        that it was processed). It is stored in the snapshot's
        ``protocol`` field, which EVERY subsequent commit folds forward
        — a plain append or compact by another job cannot erase it."""
        vals = {str(v) for v in values}
        schema_json = self._write_schema_json(df)  # validate BEFORE I/O
        added = self._write_tx(df, partition_by)

        def keep(parent_files):
            return [
                f
                for f in parent_files
                if not (
                    f.get("partition")
                    and f["partition"].get(partition_by) in vals
                )
            ]

        summary = {"replaced": sorted(vals), "added_files": len(added)}
        return self._commit(
            "overwrite_partitions", added, keep, schema_json, summary,
            partition_by=partition_by, protocol=extra_summary,
        )

    def merge_upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        key: str,
        partition_by: str | None = None,
    ) -> int:
        """Copy-on-write MERGE (Iceberg row-level update, MoW flavor):
        incoming rows REPLACE current rows with an equal ``key``; new
        keys are inserted. Only data files whose recorded ``key``
        bounds overlap the incoming key range are rewritten — every
        other file survives the commit untouched, so a point-update
        against a clustered 10^12-row table rewrites a handful of
        files, not the table. Files with no recorded bounds are
        conservatively rewritten (correct, just not pruned).

        File pruning is metadata-side (the evaluation Iceberg does on
        the MERGE's ON predicate): up to ``_MERGE_KEYSET_LIMIT``
        distinct incoming keys are collected (one small job) and tested
        EXACTLY against each file's bounds — so a point update whose
        keys straddle the table (one low key, one brand-new high key)
        still touches only the files actually containing them. Larger
        key sets degrade to the [min, max] envelope, still sound.
        Removing rows means losing a concurrent race must raise, and it
        does (non-append commit)."""
        schema_json = self._write_schema_json(df)  # validate BEFORE I/O
        import bisect

        base = self.current_snapshot_id()
        rows = (
            df.select(key).distinct().limit(_MERGE_KEYSET_LIMIT + 1).collect()
        )
        if partition_by is None:
            # default to the partitioning recorded at write time:
            # rewriting a partitioned table's files WITHOUT partitionBy
            # would null the survivors' partition values (the column
            # lives in the path, not the data files).
            partition_by = self._recorded_partition_by(base)
        current, schema_hint = self.scan_files(snapshot_id=base)
        if not rows:  # empty incoming frame: nothing to do
            return self.current_snapshot_id()
        keys = sorted(r[0] for r in rows)
        exact = len(keys) <= _MERGE_KEYSET_LIMIT
        if exact:
            lo, hi = keys[0], keys[-1]
        else:
            # the keyset overflowed: LIMIT without ORDER BY returned an
            # ARBITRARY subset, so its min/max are sample bounds — files
            # holding incoming keys outside them would be classified
            # untouched while df inserts the same keys (duplicates).
            # One agg computes the true envelope.
            b = df.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
            lo, hi = b["lo"], b["hi"]

        def overlaps(entry: dict) -> bool:
            b = (entry.get("stats") or {}).get(key)
            if b is None:
                return True
            if b[0] > hi or b[1] < lo:
                return False
            if not exact:
                return True
            i = bisect.bisect_left(keys, b[0])
            j = bisect.bisect_right(keys, b[1])
            if i >= j:
                return False
            # bounds say some incoming key falls INSIDE this file's
            # range — when the file carries a bloom, probe those keys
            # against it: interleaved key sets whose ranges overlap but
            # whose values are disjoint stay untouched (a bloom false
            # positive just rewrites one extra file).
            bloom = (entry.get("bloom") or {}).get(key)
            if bloom is None:
                return True
            return any(_bloom_maybe_contains(bloom, k) for k in keys[i:j])

        touched = [f for f in current if overlaps(f)]
        untouched = [f for f in current if not overlaps(f)]
        if touched:
            schema = StructType.fromJson(json.loads(schema_hint))
            old = spark.read.schema(schema).parquet(
                *(os.path.join(self.path, f["path"]) for f in touched)
            )
            if partition_by is not None:
                # a partitioned table's data files OMIT the partition
                # column; without restoring it from the path, survivors
                # would be rewritten with NULL partition values (and land
                # under the hive null partition, invisible to later
                # overwrite_partitions/committed_values).
                old = _restore_partition_col(old, partition_by, schema)
            # anti-join drops the replaced rows; AQE resolves the build
            # side (broadcast for a point update, shuffle for a bulk one)
            survivors = old.join(
                df.select(key).distinct(), on=key, how="left_anti"
            )
            # allowMissingColumns: after a mergeSchema append a writer
            # may omit the new column — survivors carry it, incoming
            # rows null-fill (and the union widens any legally-narrower
            # incoming type to the table's)
            out = survivors.unionByName(df, allowMissingColumns=True)
        else:
            out = df
        # a table written with key blooms keeps them through merges:
        # rewritten files get fresh bitsets alongside their fresh bounds.
        keep_blooms = any((f.get("bloom") or {}).get(key) for f in current)
        added = self._write_tx(
            out,
            partition_by,
            stats_cols={key},
            bloom_cols={key} if keep_blooms else None,
        )
        return self._commit(
            "merge",
            added,
            lambda pf: [
                f for f in pf if f["path"] in {u["path"] for u in untouched}
            ],
            schema_json,
            {
                "merge_key": key,
                "rewritten_files": len(touched),
                "untouched_files": len(untouched),
            },
            expected_parent=base,
            partition_by=partition_by,
        )

    def current_summary(self) -> dict:
        """Latest snapshot's summary, with the folded-forward protocol
        state merged in (protocol keys win): readers of durable job
        state (committed parts, epochs) see it regardless of which
        operation committed last."""
        sid = self.current_snapshot_id()
        if not sid:
            return {}
        snap = self._load(sid)
        return {**snap.get("summary", {}), **snap.get("protocol", {})}

    def rollback(self, snapshot_id: int) -> int:
        """Commit a NEW snapshot pointing at an old file set (history is
        append-only, like Iceberg's rollback_to_snapshot)."""
        old = self._load(snapshot_id)

        def keep(parent_files):
            return []

        # rollback must not silently lose a concurrent commit -> treated
        # as a removing operation (raises on race).
        return self._commit(
            "rollback", old["files"], keep, old["schema"],
            {"rolled_back_to": snapshot_id},
            partition_by=old.get("partition_by"),
        )

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _recorded_partition_by(self, snapshot_id: int | None = None) -> str | None:
        """The partition column recorded at write time (None =
        unpartitioned). The single resolution point every operation that
        rewrites or restores rows must consult — compact/merge defaulting
        to it is what keeps a partitioned table partitioned without the
        caller re-specifying (and what keeps survivors out of the hive
        null partition)."""
        sid = (
            self.current_snapshot_id() if snapshot_id is None else snapshot_id
        )
        return self._load(sid).get("partition_by") if sid else None

    def scan_files(
        self,
        snapshot_id: int | None = None,
        parts: list | None = None,
        partition_by: str | None = None,
        between: dict | None = None,
        point: dict | None = None,
    ) -> tuple[list[dict], str | None]:
        """Manifest-side planning: the (files, schema_json) a read at
        this snapshot touches after partition pruning and min/max
        file skipping — all from metadata, no data-dir access.
        ``point`` = {col: value} prunes by recorded bounds AND by the
        per-file bloom bitset when one was written (files without a
        bloom are kept — conservative, never unsound)."""
        if point:
            # a point probe is a degenerate range for the file min/max
            # check below; blooms refine after.
            between = {
                **(between or {}),
                **{c: (v, v) for c, v in point.items()},
            }
        sid = (
            self.current_snapshot_id() if snapshot_id is None else snapshot_id
        )
        schema_hint = None
        files: list[dict] = []
        if sid:
            snap = self._load(sid)
            schema_hint = snap["schema"]
            if partition_by is None:
                # recorded at write time: callers need not re-specify
                partition_by = snap.get("partition_by")
            files = snap["files"]
        if parts is not None and partition_by is not None:
            want = {str(v) for v in parts}
            files = [
                f
                for f in files
                if f.get("partition")
                and f["partition"].get(partition_by) in want
            ]
        if between:
            def survives(entry: dict) -> bool:
                stats = entry.get("stats") or {}
                for col, (lo, hi) in between.items():
                    b = stats.get(col)
                    if b is None:
                        continue  # no recorded bounds -> must keep
                    if (hi is not None and b[0] > hi) or (
                        lo is not None and b[1] < lo
                    ):
                        return False
                return True

            files = [f for f in files if survives(f)]
        if point:
            def bloom_survives(entry: dict) -> bool:
                blooms = entry.get("bloom") or {}
                for col, v in point.items():
                    b = blooms.get(col)
                    if b is None:
                        continue  # no bloom recorded -> must keep
                    if not _bloom_maybe_contains(b, v):
                        return False
                return True

            files = [f for f in files if bloom_survives(f)]
        return files, schema_hint

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        parts: list | None = None,
        partition_by: str | None = None,
        between: dict | None = None,
        point: dict | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read. ``snapshot_id`` = time travel;
        ``parts`` prunes files by recorded partition value BEFORE Spark
        plans the scan; ``between`` = {col: (lo, hi)} skips files whose
        recorded min/max bounds miss the range (Iceberg file skipping)
        AND applies the residual row filter, so results are exact.
        ``point`` = {col: value} additionally probes per-file bloom
        bitsets (see ``append(bloom_cols=...)``): a point lookup against
        a table whose key ranges interleave opens only the files that
        may actually hold the key — bloom false positives cost one
        extra file open, and the residual equality filter keeps the
        result exact either way.

        ``partition_by`` defaults to the value recorded in the snapshot
        manifest at write time, so a partitioned table reads back with
        its partition column restored (and cast to the declared type)
        without every caller re-specifying it."""
        if partition_by is None:
            partition_by = self._recorded_partition_by(snapshot_id)
        files, schema_hint = self.scan_files(
            snapshot_id, parts, partition_by, between, point
        )
        if not files:
            if schema_hint is None:
                raise ValueError(f"{self.path}: empty table with no schema")
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_hint))
            )
        paths = [os.path.join(self.path, f["path"]) for f in files]
        schema = StructType.fromJson(json.loads(schema_hint))
        df = spark.read.schema(schema).parquet(*paths)
        if partition_by:
            # partition value lives in the path, not the file; restore it
            # as a column (url-decoded, cast to the declared type) the
            # way basePath-discovery would. regexp over input_file_name
            # keeps the plan O(1) in file count (a literal path->value
            # map would grow with the manifest).
            df = _restore_partition_col(df, partition_by, schema)
        if between:
            for col, (lo, hi) in between.items():
                if lo is not None:
                    df = df.where(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(col) <= F.lit(hi))
        if point:
            for col, v in point.items():
                df = df.where(F.col(col) == F.lit(v))
        return df

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Iceberg incremental append scan: rows ADDED after
        ``from_snapshot_id`` (exclusive) up to ``to_snapshot_id``
        (inclusive, default current). The primitive incremental
        consumers build on — each poll reads only the new files, never
        re-scanning the table.

        Semantics match Iceberg's ``incremental read``: ``append``
        snapshots contribute their added files; ``compact`` snapshots
        are skipped (a rewrite adds no logical rows — its files must
        NOT be re-emitted); any logically-destructive operation in the
        range (``overwrite``, ``overwrite_partitions``, ``rollback``)
        raises, because "rows added since X" is undefined once rows
        were also removed.

        Scale: resolution is metadata-only — O(snapshots in range)
        manifest reads, no data-dir listing — so a consumer polling a
        10^12-row table pays for its delta, not the table."""
        to_id = (
            self.current_snapshot_id()
            if to_snapshot_id is None
            else to_snapshot_id
        )
        if to_id < from_snapshot_id:
            raise ValueError(
                f"to_snapshot_id {to_id} < from_snapshot_id {from_snapshot_id}"
            )
        added: list[dict] = []
        schema_hint = None
        for sid in range(from_snapshot_id + 1, to_id + 1):
            snap = self._load(sid)
            schema_hint = snap["schema"]
            if snap["operation"] == "compact":
                # a compact adds no logical rows, it rewrites them —
                # nothing to re-emit
                continue
            if snap["operation"] != "append":
                raise ValueError(
                    f"incremental read undefined across snapshot {sid} "
                    f"({snap['operation']}): rows were removed in range"
                )
            psnap = self._load(snap["parent_id"]) if snap["parent_id"] else {}
            parent_paths = {f["path"] for f in psnap.get("files", [])}
            added.extend(
                f for f in snap["files"] if f["path"] not in parent_paths
            )
        if schema_hint is None:  # empty range: current schema, zero rows
            sid = self.current_snapshot_id()
            if not sid:
                raise ValueError(f"{self.path}: empty table with no schema")
            schema_hint = self._load(sid)["schema"]
        schema = StructType.fromJson(json.loads(schema_hint))
        if not added:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *(os.path.join(self.path, f["path"]) for f in added)
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Iceberg changelog scan (CDC — the NET-changes semantics of
        ``create_changelog_view``): the row-level diff between two
        snapshots, each output row a table row plus ``_change_type``
        ``'insert'`` | ``'delete'``. An update surfaces as
        delete(old) + insert(new) — the contract downstream
        mirror/merge consumers expect. Works across ANY operation mix
        (append, merge, overwrite, compact), unlike
        ``read_incremental`` which refuses destructive ranges.

        Cost scales with the CHANGE, not the table: candidates are
        only the files present in one snapshot but not the other —
        appends keep the parent's files and merges rewrite only
        overlapping files, so the untouched majority of a table never
        enters the diff. A pure-append range is
        recognized from metadata alone and returns the added files as
        inserts with zero diff compute. Otherwise a net multiset diff
        (union with a +/- sign, one groupBy over ALL columns) cancels
        rows a rewrite carried over verbatim — a compact-only range
        yields ZERO changes. Map-typed columns are not groupable and
        would need a binary-stable surrogate; this table format has
        none in its row schemas.

        Both sides read under the TO snapshot's schema (evolved
        columns null-fill for pre-evolution files — Iceberg read-time
        projection), with the partition column restored from paths."""
        to_id = (
            self.current_snapshot_id()
            if to_snapshot_id is None
            else to_snapshot_id
        )
        from_files, _ = self.scan_files(snapshot_id=from_snapshot_id)
        to_files, schema_hint = self.scan_files(snapshot_id=to_id)
        fpaths = {f["path"] for f in from_files}
        tpaths = {f["path"] for f in to_files}
        if schema_hint is None:  # empty-to-empty range: no schema exists
            raise ValueError(f"{self.path}: changelog undefined on empty table")
        schema = StructType.fromJson(json.loads(schema_hint))
        cols = schema.fieldNames()
        partition_by = self._recorded_partition_by(to_id)
        added = [f["path"] for f in to_files if f["path"] not in fpaths]
        removed = [f["path"] for f in from_files if f["path"] not in tpaths]

        def read_paths(paths: list[str]) -> DataFrame:
            df = spark.read.schema(schema).parquet(
                *(os.path.join(self.path, p) for p in paths)
            )
            if partition_by:
                df = _restore_partition_col(df, partition_by, schema)
            return df

        if not added and not removed:
            out = StructType(
                schema.fields + [StructField("_change_type", StringType(), False)]
            )
            return spark.createDataFrame([], out)
        if not removed:
            # pure-append range: metadata alone proves every row in the
            # added files is an insert — no diff job at all
            return read_paths(added).withColumn(
                "_change_type", F.lit("insert")
            )
        sides = []
        if added:
            sides.append(read_paths(added).withColumn("_sign", F.lit(1)))
        if removed:
            sides.append(read_paths(removed).withColumn("_sign", F.lit(-1)))
        signed = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
        net = (
            signed.groupBy(*cols)
            .agg(F.sum("_sign").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        return (
            net.withColumn(
                "_change_type",
                F.when(F.col("_net") > 0, F.lit("insert")).otherwise(
                    F.lit("delete")
                ),
            )
            .withColumn(
                "_dup",
                F.explode(F.array_repeat(F.lit(1), F.abs(F.col("_net")).cast("int"))),
            )
            .select(*cols, "_change_type")
        )

    def committed_values(self, partition_by: str) -> set[str]:
        """Distinct partition values present in the current snapshot —
        the resume set, answered from metadata without touching data."""
        sid = self.current_snapshot_id()
        if not sid:
            return set()
        snap = self._load(sid)
        return {
            f["partition"][partition_by]
            for f in snap["files"]
            if f.get("partition") and partition_by in f["partition"]
        }

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        partition_by: str | None = None,
        cluster_by: str | None = None,
    ) -> int:
        """Small-file compaction (Iceberg's rewrite_data_files): rewrite
        the current snapshot's rows into ``target_files`` files (per
        partition if ``partition_by``), commit as one replacing
        snapshot. Readers at older snapshots still see the old files
        until ``expire_snapshots`` collects them.

        Scale: streaming appends produce one small file per trigger —
        over a day that is thousands of files whose per-file open/plan
        cost dominates scans. Compaction is the maintenance job that
        keeps file count proportional to data size, run per partition
        so it parallelizes and never rewrites cold partitions twice.

        ``cluster_by`` = Iceberg's rewrite_data_files with a sort
        order: the rewrite range-clusters rows and records per-file
        min/max bounds, so a table of unsorted streaming appends GAINS
        file-skipping stats at its next compaction.

        The rewrite is planned against a pinned snapshot and the commit
        CAS-checks that parent (``expected_parent``): an append landing
        mid-compaction must fail the compaction, not vanish under its
        replace-everything keep-filter.

        Pruning metadata SURVIVES compaction: whatever stat/bloom
        columns the current files record are re-harvested for the
        rewritten files (Iceberg's rewrite keeps collecting the same
        metrics), so the maintenance job never silently downgrades
        point lookups or range scans to full-table file lists."""
        base = self.current_snapshot_id()
        if partition_by is None:
            # default to the recorded partitioning: compacting a
            # partitioned table unpartitioned would strip the files'
            # partition metadata while the snapshot still records
            # partition_by, breaking partition-pruned reads,
            # committed_values and overwrite_partitions' keep-filter.
            partition_by = self._recorded_partition_by(base)
        cur, _ = self.scan_files(snapshot_id=base)
        stats_cols = {c for f in cur for c in (f.get("stats") or {})}
        bloom_cols = {c for f in cur for c in (f.get("bloom") or {})}
        df = self.read(spark, snapshot_id=base, partition_by=partition_by)
        if cluster_by:
            stats_cols.add(cluster_by)
            df = df.repartitionByRange(
                target_files, F.col(cluster_by)
            ).sortWithinPartitions(cluster_by)
        else:
            df = df.coalesce(target_files)
        added = self._write_tx(
            df,
            partition_by,
            stats_cols=stats_cols or None,
            bloom_cols=bloom_cols or None,
        )
        # protocol state (committed parts, epochs) survives automatically:
        # _commit folds the parent's protocol record forward.
        return self._commit(
            "compact", added, lambda pf: [], df.schema.json(),
            {"compacted_to": len(added)},
            expected_parent=base, partition_by=partition_by,
        )

    def expire_snapshots(
        self, keep_last: int = 1, orphan_grace_s: float = 600.0
    ) -> int:
        """Drop old snapshot manifests and any tx dir no surviving
        snapshot references (Iceberg's expire_snapshots + orphan-file
        cleanup). Returns number of tx dirs deleted.

        ``orphan_grace_s``: tx dirs younger than this survive the sweep
        even when unreferenced — an IN-FLIGHT concurrent commit writes
        its data files BEFORE its CAS, so without the grace window this
        sweep could delete files a commit that lands a moment later
        points at (the age-threshold guard Iceberg's orphan cleanup
        uses). Pass 0 only when no writer can be live."""
        import time as _time

        now = _time.time()

        def aged(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) >= orphan_grace_s
            except OSError:
                return False  # vanished mid-sweep: another cleaner won

        snaps = self._snapshot_files()
        survivors = set(snaps[-keep_last:] if keep_last else [])
        live_tx: set[str] = set()
        for s in survivors:
            with open(s) as fh:
                snap = json.load(fh)
            for f in snap["files"]:
                live_tx.add(f["path"].split(os.sep)[1])
        for s in snaps:
            if s not in survivors:
                os.unlink(s)
        removed = 0
        for tx in glob.glob(os.path.join(self.data_dir, "tx-*")):
            if os.path.basename(tx) not in live_tx and aged(tx):
                shutil.rmtree(tx)
                removed += 1
        return removed
