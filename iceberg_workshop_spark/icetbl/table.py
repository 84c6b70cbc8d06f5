"""IceTable — snapshot-versioned Parquet tables with Iceberg semantics.

API surface ↔ reference mapping (SURVEY.md §2A):
  create/create_as      A4   (STORED BY ICEBERG ... AS SELECT, README.md:75-78)
  adopt                 A5   (in-place migration, README.md:92-93)
  append/insert_values  A6-A8 (INSERT INTO ..., static/dynamic partition)
  merge                 A9   (MERGE INTO, sql/update_iceberg_v2_examples.sql:14-18)
  delete                A10  (DELETE FROM, interoperability.md:128)
  truncate              A11  (TRUNCATE TABLE, README.md:320)
  read(as_of/snapshot)  A20  (FOR SYSTEM_TIME AS OF, README.md:113-117)
  rollback              A21  (EXECUTE rollback, README.md:122-123)
  set_partition_spec    A22  (SET PARTITION SPEC, README.md:138-139)
  transform specs       A23  (PARTITIONED BY SPEC (year(ts)), README.md:204-208)
  scan (pruned)         A25/A26 (README.md:214-290)
  expire_snapshots      A27  (EXECUTE expire_snapshots, README.md:364-381)
  properties            A28  (README.md:314-317)
  rewrite_data_files    A29  (CALL system.rewrite_data_files, README.md:403)
  rewrite_manifests     A30  (CALL system.rewrite_manifests, README.md:409)
  history               A31  (SELECT * FROM tbl.history, README.md:353-362)
  add_column            A35  (ADD COLUMN + mixed-file reads, limitations.md:6-10)

Scale posture: all data movement is Spark jobs over DataFrames —
the driver only touches footers (stats) and the JSON metadata log.
Copy-on-write DML rewrites *only the affected files*, discovered with
a `_metadata.file_path` semi-join, never the whole table.
"""

from __future__ import annotations

import os
import shutil
import sys
import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.icetbl import meta as M
from iceberg_workshop_spark.icetbl import transforms
from iceberg_workshop_spark.icetbl.morread import (
    DeleteFile,
    bucket_expectations,
    canon_path,
    changelog,
    pruned_scan,
    read_with_deletes,
    snapshot_as_of,
    survive_buckets,
)
from iceberg_workshop_spark.icetbl.pruning import Pred
from iceberg_workshop_spark.icetbl.stats import file_stats

SpecField = dict[str, str]  # {"name": ..., "source": ..., "transform": ...}


def spec_field(source: str, transform: str = "identity", name: str | None = None) -> SpecField:
    return {
        "source": source,
        "transform": transform,
        "name": name or (source if transform == "identity" else f"{source}_{transform}"),
    }


class IceTable:
    def __init__(self, spark: SparkSession, meta: M.TableMeta) -> None:
        self.spark = spark
        self.meta = meta
        self.last_scan_report: dict[str, Any] | None = None
        # Commit-point seam. By default the table IS its own arbiter:
        # the commit point is the filesystem's atomic v<N+1>.json claim
        # (meta.commit) and refresh re-reads the hint/probe path. A
        # catalog-attached handle (restcat.attach_writer) reroutes BOTH
        # through the catalog, which then arbitrates concurrent writers
        # exactly like the reference's REST catalog arbitrates Spark/
        # Hive/Impala (reference docker-compose.yml:24-44) — data and
        # metadata documents still land in storage from the writer; only
        # the version swap is centralized.
        self._committer: Any = M.commit
        self._refresher: Any = None

    def set_commit_arbiter(self, committer, refresher) -> None:
        """Route this handle's commit point through an external catalog.

        ``committer(meta) -> TableMeta`` must atomically claim the next
        version or raise ``meta.CommitConflict``; ``refresher() ->
        TableMeta`` must return the current committed metadata. Every
        optimistic-retry loop in this class (``_retry_commit``,
        ``_commit_snapshot_delta``) then rebases
        through the arbiter, so two writers attached to the same
        catalog both land without manual retry while conflicting
        schema changes still raise."""
        self._committer = committer
        self._refresher = refresher

    def _commit_meta(self) -> M.TableMeta:
        return self._committer(self.meta)

    def _refresh_meta(self) -> M.TableMeta:
        if self._refresher is not None:
            return self._refresher()
        return M.read_current(self.meta.location)

    # ------------------------------------------------------------- DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema_ddl: str,
        partition_spec: list[SpecField] | None = None,
    ) -> "IceTable":
        os.makedirs(os.path.join(location, M.DATA_DIR), exist_ok=True)
        meta = M.TableMeta.empty(location, schema_ddl, partition_spec or [])
        meta.doc["history_log"] = []
        return cls(spark, M.commit(meta))

    @classmethod
    def create_as(
        cls,
        spark: SparkSession,
        location: str,
        df: DataFrame,
        partition_spec: list[SpecField] | None = None,
    ) -> "IceTable":
        """CTAS (A4): schema inherited from the query result."""
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        tbl = cls.create(spark, location, ddl, partition_spec)
        tbl.append(df)
        return tbl

    @classmethod
    def load(
        cls, spark: SparkSession, location: str, version: int | None = None
    ) -> "IceTable":
        """Open a table at its current version, or pinned at a specific
        metadata version (A34 — the reference reads a table by full
        metadata-file path when the hint is absent or a historical
        state is wanted, interoperability.md:95-112). A pinned handle
        is a frozen view: reads see that version's snapshot/schema;
        committing from it will conflict unless it is the latest."""
        meta = (
            M.read_current(location)
            if version is None
            else M.read_version(location, version)
        )
        return cls(spark, meta)

    @classmethod
    def load_metadata(cls, spark: SparkSession, metadata_file: str) -> "IceTable":
        """Open a table by FULL metadata-file path — the native analog
        of ``spark.read.format("iceberg").load(".../N.metadata.json")``
        (interoperability.md:103): no version-hint lookup at all."""
        return cls(spark, M.read_metadata_file(metadata_file))

    @staticmethod
    def drop(location: str) -> None:
        if os.path.exists(location):
            shutil.rmtree(location)

    @classmethod
    def adopt(
        cls,
        spark: SparkSession,
        location: str,
        parquet_paths: list[str],
        collect_stats: bool = False,
    ) -> "IceTable":
        """In-place migration (A5): register existing parquet files as
        snapshot 0 **without rewriting them**. By default no bounds are
        collected — reproducing the reference's observed behavior that
        migrated files lack manifest stats and therefore never prune
        (/root/reference/limitations.md:39-73)."""
        sample = spark.read.parquet(parquet_paths[0])
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in sample.schema.fields)
        tbl = cls.create(spark, location, ddl, [])
        files = []
        for p in parquet_paths:
            n, bounds = file_stats(p)
            files.append(
                {
                    "path": os.path.abspath(p),
                    "record_count": n,
                    "file_size": os.path.getsize(p),
                    "partition": {},
                    "spec_id": 0,
                    "bounds": bounds if collect_stats else {},
                }
            )
        tbl._commit_snapshot_delta(files, [], "adopt", rebase="blind")
        return tbl

    def add_column(self, name: str, type_ddl: str) -> None:
        """Schema evolution (A35): old files simply lack the column and
        read as NULL because every scan passes the table schema
        explicitly (replay of /root/reference/limitations.md:6-10).

        Column IDENTITY is tracked by creation sequence: files written
        before the column existed never contribute values to it — so a
        DROP followed by re-ADD of the same name yields a logically new
        column (NULL from pre-drop files), matching Iceberg field-id
        semantics instead of Hive name-mapping resurrection."""
        def mutate(meta: M.TableMeta) -> None:
            meta.schema_ddl = f"{meta.schema_ddl}, {name} {type_ddl}"
            meta.doc.setdefault("column_created_seq", {})[name] = int(
                meta.properties.get("last-sequence-number", "0")
            )

        self._retry_commit(mutate)

    def drop_column(self, name: str) -> None:
        """Schema evolution, drop side: metadata-only — existing files
        keep the physical column, but every read passes the table
        schema explicitly, so the dropped column simply stops being
        projected (Iceberg's DROP COLUMN semantics without a rewrite).
        Stored bounds for the column become inert; pruning ignores
        absent interval columns."""
        from pyspark.sql.types import StructType

        def mutate(meta: M.TableMeta) -> None:
            fields = StructType.fromDDL(meta.schema_ddl).fields
            if name not in {f.name for f in fields}:
                raise KeyError(f"column {name!r} not in schema")
            if len(fields) == 1:
                # Iceberg refuses too: an empty schema is unreadable
                # (and a later add_column would emit malformed DDL).
                raise ValueError("cannot drop the last column")
            meta.schema_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in fields if f.name != name
            )
            meta.doc.setdefault("column_created_seq", {}).pop(name, None)

        self._retry_commit(mutate)

    _WIDENINGS = {
        ("int", "bigint"),
        ("float", "double"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("int", "double"),  # not Iceberg-legal; rejected below, listed for clarity
    } - {("int", "double")}

    def update_column_type(self, name: str, new_type: str) -> None:
        """Schema evolution, type widening (Iceberg's ALTER COLUMN ...
        TYPE ...): metadata-only — files written before the change
        keep their narrow physical type and every read casts them up
        per era (no rewrite). Only Iceberg's safe promotions are
        allowed (int→bigint, float→double, and the smaller integer
        widths); anything lossy is rejected."""
        from pyspark.sql.types import StructType

        new_type = new_type.strip().lower()
        cur = {n: t.simpleString() for n, t in self._types().items()}
        if name not in cur:
            raise KeyError(f"no such column: {name}")
        if cur[name] == new_type:  # fast path: nothing to commit
            return

        def mutate(meta: M.TableMeta) -> None:
            # Old-type lookup and legality check live INSIDE the retry
            # closure: on a commit-conflict retry the column may have
            # been altered by a concurrent writer, so each attempt must
            # re-derive them from the metadata it is handed (a stale
            # pre-validation would record the wrong era physical type
            # in column_type_history).
            fields = {
                f.name: f.dataType.simpleString()
                for f in StructType.fromDDL(meta.schema_ddl).fields
            }
            if name not in fields:
                raise KeyError(f"no such column: {name}")
            old_type = fields[name]
            if old_type == new_type:
                return
            if (old_type, new_type) not in self._WIDENINGS:
                raise ValueError(
                    f"illegal type change {old_type} -> {new_type}: only "
                    "widening promotions are metadata-safe"
                )
            fs = [
                (f.name, new_type if f.name == name else f.dataType.simpleString())
                for f in StructType.fromDDL(meta.schema_ddl).fields
            ]
            meta.schema_ddl = ", ".join(f"{n} {t}" for n, t in fs)
            meta.doc.setdefault("column_type_history", []).append(
                {
                    "name": name,
                    "seq": int(meta.properties.get("last-sequence-number", "0")),
                    "old": old_type,
                }
            )

        self._retry_commit(mutate)

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only RENAME COLUMN (Iceberg semantics): values in
        existing files are PRESERVED — the rename log records at which
        sequence the name changed, and reads alias each file era's
        physical name back to the current logical name. No rewrite."""
        from pyspark.sql.types import StructType

        def mutate(meta: M.TableMeta) -> None:
            fields = StructType.fromDDL(meta.schema_ddl).fields
            names = {f.name for f in fields}
            if old not in names:
                raise KeyError(f"column {old!r} not in schema")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            meta.schema_ddl = ", ".join(
                f"{new if f.name == old else f.name} {f.dataType.simpleString()}"
                for f in fields
            )
            created = meta.doc.get("column_created_seq", {})
            if old in created:
                created[new] = created.pop(old)
            # partition specs FOLLOW the rename (Iceberg specs bind to
            # source column IDS, so a rename never detaches them; this
            # dialect binds by name and must re-point explicitly) —
            # otherwise the next bucketed/truncated write and the
            # byte-format export would look up a retired column name
            for spec in meta.specs:
                for f in spec:
                    if f.get("source") == old:
                        f["source"] = new
            meta.doc.setdefault("column_renames", []).append(
                {
                    "old": old,
                    "new": new,
                    "seq": int(meta.properties.get("last-sequence-number", "0")),
                }
            )

        self._retry_commit(mutate)

    def _physical_name(self, current: str, file_seq: int) -> str:
        """The column's name as physically written in files of era
        ``file_seq``: walk the rename log backwards, undoing renames
        that happened at-or-after the file was written."""
        name = current
        for r in reversed(self.meta.doc.get("column_renames", [])):
            if file_seq <= int(r["seq"]) and name == r["new"]:
                name = r["old"]
        return name

    def _logical_name(self, physical: str, file_seq: int) -> str:
        """Inverse of ``_physical_name``: the CURRENT logical name of a
        column physically recorded as ``physical`` in era ``file_seq``
        — walk the rename log forward, applying renames that happened
        at-or-after the file was written. Equality-delete sidecars
        need this: their key columns are recorded under write-time
        names, and a later RENAME COLUMN must not detach them (Iceberg
        tracks delete keys by field id, so deletes follow renames)."""
        name = physical
        for r in self.meta.doc.get("column_renames", []):
            if file_seq <= int(r["seq"]) and name == r["old"]:
                name = r["new"]
        return name

    def _eq_delete_current_keys(self, d: dict) -> list[str]:
        """An equality-delete entry's key columns under CURRENT names
        (rename-log translation of the recorded write-time names)."""
        dseq = int(d.get("dseq", 0))
        return [self._logical_name(k, dseq) for k in d["keys"]]

    def set_partition_spec(self, spec: list[SpecField]) -> None:
        """Partition evolution (A22): append a new spec; files keep the
        spec id they were written under, scans union per-spec pruned
        sets (replay of /root/reference/README.md:138-195)."""
        def mutate(meta: M.TableMeta) -> None:
            transforms.stamp_bucket_flavor(meta.properties, [spec])
            meta.specs.append(spec)
            meta.doc["current_spec_id"] = len(meta.specs) - 1

        self._retry_commit(mutate)

    def set_properties(self, props: dict[str, str]) -> None:
        def mutate(meta: M.TableMeta) -> None:
            meta.properties.update(props)

        self._retry_commit(mutate)

    # ----------------------------------------------------------- write
    def _write_files(
        self, df: DataFrame, spec: list[SpecField], spec_id: int, width: int | None = None
    ) -> list[dict]:
        """Write one commit's worth of immutable files under a unique
        snap dir; return their manifest entries (footer stats, no scan).
        ``width`` clusters a partitioned write by its partition tuple
        at that shuffle width, whatever write.distribution-mode says
        (compaction); a write.sort-order still takes precedence.

        Hidden partitioning: transform columns are written as `__p_*`
        directory keys only — source columns stay in the data files, so
        a later spec change never rewrites data (A23 semantics).
        """
        snap_dir = os.path.join(self.meta.location, M.DATA_DIR, f"snap-{uuid.uuid4().hex[:12]}")
        out = df
        # Iceberg write.sort-order (ALTER TABLE ... WRITE ORDERED BY):
        # range-cluster + sort incoming rows so each data file carries
        # disjoint min/max bounds on the order columns — stats-based
        # file skipping (A26) then prunes selective scans without any
        # later rewrite. The range exchange is the one extra shuffle
        # Iceberg's write.distribution-mode=range pays.
        order = self.meta.properties.get("write.sort-order")
        if order:
            from iceberg_workshop_spark.icetbl.sortorder import (
                parse_sort_order,
                sort_exprs,
            )

            oexprs = sort_exprs(self, parse_sort_order(order))
            # File count tracks the cluster but never drops below 8,
            # so the clustered layout gives pruning leverage even on a
            # small driver/session (tunable per table, like Iceberg's
            # write.target-file-size-bytes).
            parts = int(
                self.meta.properties.get(
                    "write.sort-order.num-files",
                    max(out.sparkSession.sparkContext.defaultParallelism // 4, 8),
                )
            )
            out = out.repartitionByRange(parts, *oexprs).sortWithinPartitions(*oexprs)
        options = {}
        # A28 property surface: Iceberg's write.parquet.compression-codec
        # (zstd/snappy/gzip) — applied at write time, per file, so a
        # codec change never rewrites history.
        codec = self.meta.properties.get("write.parquet.compression-codec")
        if codec:
            options["compression"] = codec
        # Iceberg write.parquet.bloom-filter-enabled.column.X: have the
        # Parquet writer embed REAL bloom pages for external readers…
        from iceberg_workshop_spark.icetbl import bloom as B

        bloom_cols = [c for c in B.bloom_columns(self.meta.properties) if c in df.columns]
        for c in bloom_cols:
            options[f"parquet.bloom.filter.enabled#{c}"] = "true"
        written = transforms.write_partitioned(
            out, snap_dir, spec, self._types(),
            # Iceberg write.distribution-mode=hash: cluster rows by
            # their partition tuple, so each hidden partition is
            # written by ONE task instead of a sliver per task (the
            # small-files fix). "range" is write.sort-order above;
            # default (none) preserves the incoming layout.
            cluster=(
                not order
                and (width or self.meta.properties.get("write.distribution-mode") == "hash")
            ),
            options=options,
        )
        files = [
            {
                "path": path,
                "record_count": n,
                "file_size": os.path.getsize(path),
                "partition": partition,
                "spec_id": spec_id,
                "bounds": bounds,
            }
            for path, partition, n, bounds in written
        ]
        # …and mirror them into the manifest entries so the PLANNER can
        # skip files on equality predicates (per-file bitmaps computed
        # in one distributed pass grouped by file; the driver receives
        # only set-bit positions — metadata scale).
        if bloom_cols and files:
            by_path = {os.path.abspath(f["path"]): f for f in files}
            read = self.spark.read.parquet(snap_dir).select(
                F.col("_metadata.file_path").alias("__fp"), *bloom_cols
            )
            for c in bloom_cols:
                pos = F.array(
                    *[
                        F.expr(B.position_sql(c, seed))
                        for seed in range(B.BLOOM_HASHES)
                    ]
                )
                rows = (
                    read.filter(F.col(c).isNotNull())
                    .select("__fp", F.explode(pos).alias("b"))
                    .groupBy("__fp")
                    .agg(F.collect_set("b").alias("bits"))
                    .collect()
                )
                for r in rows:
                    entry = by_path.get(os.path.abspath(canon_path(r["__fp"])))
                    if entry is not None:
                        entry.setdefault("bloom", {})[c] = {
                            "m": B.BLOOM_BITS,
                            "k": B.BLOOM_HASHES,
                            "bits": B.encode_bits(r["bits"]),
                        }
        return files

    def _retry_commit(self, mutate, attempts: int = 10) -> None:
        """Optimistic-concurrency commit of a metadata-only mutation:
        apply ``mutate(meta)`` and CAS-commit; on ``CommitConflict``
        refresh to the winning writer's metadata and re-apply against
        the new base (Iceberg's commit-retry loop). The in-memory
        mutation of the losing attempt is discarded wholesale by the
        refresh, so ``mutate`` must derive everything it writes from
        the ``meta`` it is handed."""
        for _ in range(attempts):
            mutate(self.meta)
            try:
                self.meta = self._commit_meta()
                return
            except M.CommitConflict:
                self.meta = self._refresh_meta()
        raise M.CommitConflict(
            f"commit did not succeed after {attempts} attempts at {self.meta.location}"
        )

    def _partition_manifests(
        self, parent: dict | None, mkey: str, removed: list[dict]
    ) -> tuple[list[dict], list[dict]]:
        """Split the parent's ``mkey`` manifest descriptors into
        (carried-by-reference descriptors, rewrite-pool entries).
        Descriptors holding none of the removed entries pass through
        untouched — never loaded when the removal set is already
        exhausted; a manifest holding a removed entry is loaded once
        and its survivors join the rewrite pool. Location is by object
        identity (``TableMeta.mf_idset``), exact because manifests are
        immutable and entries identity-shared through ``_mf_cache``.
        A removed entry that is not an object of the parent's
        manifests raises ValueError naming its path."""
        mans = list(self.meta.manifests_of(parent, mkey)) if parent else []
        if not removed:
            return mans, []
        removed_ids = frozenset(map(id, removed))
        remaining = set(removed_ids)
        carried: list[dict] = []
        pool: list[dict] = []
        for m in mans:
            if not remaining:
                carried.append(m)
                continue
            hit = remaining & self.meta.mf_idset(m["path"])
            if hit:
                pool.extend(
                    e
                    for e in self.meta._load_mf(m["path"])
                    if id(e) not in removed_ids
                )
                remaining -= hit
            else:
                carried.append(m)
        if remaining:
            lost = sorted(e.get("path", "?") for e in removed if id(e) in remaining)
            raise ValueError(
                f"removed entries not held by the parent snapshot's {mkey}: {lost}"
            )
        return carried, pool

    def _commit_snapshot_delta(
        self,
        added: list[dict],
        removed: list[dict],
        operation: str,
        *,
        branch: str | None = None,
        added_deletes: list[dict] | None = None,
        removed_deletes: list[dict] | None = None,
        truncate: bool = False,
        truncate_deletes: bool = False,
        rebase=None,
    ) -> None:
        """O(changed-files) snapshot commit — the delta contract the
        round-10 verdict asked for: callers hand (added entries,
        removed entries, carried-by-reference everything else) instead
        of the full live file list, and the commit never walks live
        files. The snapshot is built MANIFEST-FIRST: every parent
        manifest whose entries all survive carries into the child by
        descriptor reference (not loaded, not walked, not re-stamped);
        survivors of partially-removed manifests plus the added
        entries shard into new manifests; sequence and
        first_snapshot_id stamping touch ONLY the added entries (they
        are this commit's private dicts). Wall-time is
        O(|added| + |removed| + |parent manifests|) — independent of
        live file count; tools/bench_meta.py certifies both written
        bytes and wall-time (BENCH_meta.json).

        ``removed``/``removed_deletes`` must be entry objects obtained
        from THIS ``self.meta``'s materialization of the commit base
        (identity is the locator). ``truncate``/``truncate_deletes``
        drop every parent data/delete manifest outright (O(1)).

        ``rebase`` on CommitConflict: None → propagate (strict CoW
        validation); ``"blind"`` → retry the identical delta on the
        winner's head (append/truncate — requires ``removed`` empty,
        the delta is base-independent); callable →
        ``rebase(fresh_meta) -> (added, removed, added_deletes,
        removed_deletes, truncate)`` re-validating against the winner
        and re-deriving the delta from FRESH entry objects (old
        identities are meaningless after a refresh), or raising
        CommitConflict for a re-plan.

        A removed entry that is not an object of the parent's manifests
        (a copy, or an entry of another metadata instance) raises
        ValueError before anything is written."""
        if rebase == "blind" and removed:
            raise ValueError("blind rebase requires an empty removed set")
        plan_schema = self.meta.schema_ddl
        # Entries arriving WITH a sequence number keep it: an
        # adopted foreign table's files must retain their source data
        # sequences or its equality deletes' row_seq < dseq rule
        # collapses. Identity-set so CAS retries still re-stamp the
        # entries THIS call stamped on a failed attempt.
        pre_seq = {id(f) for f in added if "seq" in f}
        for _ in range(10):
            parent_id = (
                self.meta.refs[branch]["snapshot_id"]
                if branch
                else self.meta.current_snapshot_id
            )
            parent = (
                self.meta.snapshot(parent_id) if parent_id is not None else None
            )
            carried, pool = (
                ([], [])
                if truncate
                else self._partition_manifests(parent, "manifests", removed)
            )
            dcarried, dpool = (
                ([], [])
                if truncate_deletes
                else self._partition_manifests(
                    parent, "delete_manifests", removed_deletes or []
                )
            )
            seq = int(self.meta.properties.get("last-sequence-number", "0")) + 1
            self.meta.properties["last-sequence-number"] = str(seq)
            snap_id = M.new_snapshot_id()
            # Added entries are private dicts — stamp in place,
            # re-stamped on every CAS retry.
            # Carried and pool entries keep the seq/first_snapshot_id
            # of the commit that added them (equality-delete and
            # .entries-status correctness).
            for f in added:
                if id(f) not in pre_seq:
                    f["seq"] = seq
                f["first_snapshot_id"] = snap_id
            new_descr = (
                M._write_manifest_shards(self.meta, pool + added)
                if pool or added
                else []
            )
            new_ddescr = (
                M._write_manifest_shards(
                    self.meta, dpool + list(added_deletes or [])
                )
                if dpool or added_deletes
                else []
            )
            if truncate:
                rm_n, rm_rec = (
                    self.meta.file_counts(parent) if parent else (0, 0)
                )
            else:
                rm_n = len(removed)
                rm_rec = sum(f.get("record_count") or 0 for f in removed)
            snap = {
                "snapshot_id": snap_id,
                "parent_id": parent_id,
                "timestamp_ms": M.now_ms(),
                "operation": operation,
                "manifests": carried + new_descr,
                "delete_manifests": dcarried + new_ddescr,
                "summary": {
                    "added_data_files": len(added),
                    "added_records": sum(
                        f.get("record_count") or 0 for f in added
                    ),
                    "removed_data_files": rm_n,
                    "removed_records": rm_rec,
                },
            }
            self.meta.snapshots.append(snap)
            if branch:
                self.meta.refs[branch]["snapshot_id"] = snap_id
            else:
                self.meta.doc["current_snapshot_id"] = snap_id
                self.meta.doc.setdefault("history_log", []).append(
                    {
                        "made_current_at_ms": snap["timestamp_ms"],
                        "snapshot_id": snap_id,
                    }
                )
            try:
                self.meta = self._commit_meta()
                return
            except M.CommitConflict:
                self.meta = self._refresh_meta()
                if rebase is None:
                    raise
                if rebase == "blind":
                    if self.meta.schema_ddl != plan_schema:
                        # even a blind append is schema-sensitive: its
                        # files carry plan-time physical column names,
                        # but the retry would stamp them into the
                        # post-change era, which reads would misresolve
                        raise M.CommitConflict(
                            "blind rebase: a concurrent schema change "
                            "committed — re-plan against the new schema"
                        )
                else:
                    (
                        added,
                        removed,
                        added_deletes,
                        removed_deletes,
                        truncate,
                    ) = rebase(self.meta)
        raise M.CommitConflict(
            f"snapshot commit did not succeed after 10 attempts at {self.meta.location}"
        )

    # ------------------------------------------------------------ refs
    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named ref (Iceberg `ALTER TABLE ... CREATE TAG`)."""
        self._create_ref(name, "tag", snapshot_id)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Movable named head (Iceberg `CREATE BRANCH`); writes with
        ``append(df, branch=name)`` advance it without touching main."""
        self._create_ref(name, "branch", snapshot_id)

    def _create_ref(self, name: str, kind: str, snapshot_id: int | None) -> None:
        def mutate(meta: M.TableMeta) -> None:
            sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
            meta.snapshot(sid)  # validates existence
            if name in meta.refs:
                raise ValueError(f"ref {name!r} already exists")
            meta.refs[name] = {
                "snapshot_id": sid,
                "type": kind,
                "created_at_ms": M.now_ms(),
            }

        self._retry_commit(mutate)

    def drop_ref(self, name: str) -> None:
        """DROP TAG / DROP BRANCH: remove a named ref. The snapshots it
        protected stay until the next expiration pass (Iceberg
        semantics — dropping a ref never deletes data by itself)."""

        def mutate(meta: M.TableMeta) -> None:
            if name not in meta.refs:
                raise KeyError(f"ref {name!r} does not exist")
            del meta.refs[name]

        self._retry_commit(mutate)

    def fast_forward(self, branch: str) -> None:
        """Publish a branch: point main at the branch head (the WAP
        publish step as a ref operation)."""

        def mutate(meta: M.TableMeta) -> None:
            sid = meta.refs[branch]["snapshot_id"]
            meta.doc["current_snapshot_id"] = sid
            meta.doc.setdefault("history_log", []).append(
                {"made_current_at_ms": M.now_ms(), "snapshot_id": sid}
            )

        self._retry_commit(mutate)

    def append(self, df: DataFrame, branch: str | None = None) -> None:
        """INSERT INTO (A6-A8). Dynamic partitioning is inherent: the
        current spec's transforms route rows to directories; a static
        partition insert is just a literal column upstream. With
        ``branch=``, the new snapshot extends and advances that branch
        head instead of main."""
        spec_id = self.meta.current_spec_id
        new = self._write_files(df.selectExpr(*self._column_names()), self.meta.specs[spec_id], spec_id)
        # Blind append: the new files are valid on any base, so a
        # concurrent commit rebases instead of failing. Delta commit —
        # the base's manifests carry by reference, never walked.
        self._commit_snapshot_delta(new, [], "append", branch=branch, rebase="blind")

    def insert_values(self, rows: list[tuple], columns: list[str] | None = None) -> None:
        """INSERT INTO ... [(col, ...)] VALUES: with ``columns``, the
        tuples are bound to THOSE columns in the caller's order (SQL
        column-list semantics) and unnamed columns land NULL. The
        frame is then projected back to table order for append. (The
        old implementation bound tuples positionally against the FULL
        schema before a reorder-only select, silently inverting the
        caller's values — round-11 review finding.)"""
        from pyspark.sql.types import StructType

        if columns:
            fields = {
                f.name: f for f in StructType.fromDDL(self.meta.schema_ddl).fields
            }
            unknown = [c for c in columns if c not in fields]
            if unknown:
                raise ValueError(
                    f"insert_values columns {unknown} not in table "
                    f"schema ({self.meta.schema_ddl})"
                )
            partial = ", ".join(
                f"{c} {fields[c].dataType.simpleString()}" for c in columns
            )
            df = self.spark.createDataFrame(rows, schema=partial).select(
                *[
                    F.col(n)
                    if n in columns
                    else F.lit(None).cast(fields[n].dataType).alias(n)
                    for n in fields
                ]
            )
        else:
            df = self.spark.createDataFrame(rows, schema=self.meta.schema_ddl)
        self.append(df)

    def truncate(self) -> None:
        """TRUNCATE (A11): a new snapshot with an empty file list —
        old files stay until expire_snapshots (time travel works)."""
        self._commit_snapshot_delta(
            [], [], "truncate", truncate=True, rebase="blind"
        )

    # ------------------------------------------------------------ read
    def _column_names(self) -> list[str]:
        return list(self._types())

    def _read_files(
        self,
        files: list[dict],
        with_pos: bool = False,
        with_fp: bool = False,
    ) -> DataFrame:
        """``with_pos=True`` adds ``__path``/``__pos`` columns (the
        file's URI and the row's ordinal within it, from Spark's hidden
        ``_metadata`` struct) so positional deletes can anti-join;
        ``with_fp=True`` adds just ``__fp`` (the file URI) for
        affected-file discovery in copy-on-write DML. Both must be
        attached INSIDE this method: on an evolved table the result is
        a union of per-era projections, and ``_metadata`` is only
        resolvable on the raw file scans beneath it — attaching after
        the union throws UNRESOLVED_COLUMN (bug found by the
        type-widening work). Zero cost when off."""

        extra: dict[str, tuple[str, str]] = {}  # name -> (source, type)
        if with_pos:
            extra["__path"] = ("_metadata.file_path", "string")
            extra["__pos"] = ("_metadata.row_index", "long")
        if with_fp:
            extra["__fp"] = ("_metadata.file_path", "string")
        meta_cols = list(extra)

        def _pos_cols(df: DataFrame) -> DataFrame:
            return df.withColumns({n: F.col(c) for n, (c, _t) in extra.items()})

        if not files:
            df = self.spark.createDataFrame([], schema=self.meta.schema_ddl)
            return df.withColumns(
                {n: F.lit(None).cast(t) for n, (_c, t) in extra.items()}
            )
        created = self.meta.doc.get("column_created_seq", {})
        renames = self.meta.doc.get("column_renames", [])
        widened = self.meta.doc.get("column_type_history", [])
        if not created and not renames and not widened:
            return _pos_cols(
                self.spark.read.schema(self.meta.schema_ddl).parquet(
                    *[f["path"] for f in files]
                )
            )
        # Column identity: a file only carries values for columns that
        # existed when it was written (file.seq > column creation seq).
        # Files written earlier read the column as NULL even if a
        # same-named physical column is present (dropped + re-added
        # name must not resurrect old data). Group by file seq, mask,
        # union — the fast path above is untouched for tables that
        # never evolved.
        types = self._types()
        declared = list(types)
        by_seq: dict[int, list[str]] = {}
        for f in files:
            by_seq.setdefault(int(f.get("seq", 0)), []).append(f["path"])
        def era_type(name: str, file_seq: int) -> str:
            # Type widening (Iceberg's ALTER COLUMN TYPE): a file
            # written before a widening carries the OLD physical type;
            # read it as written, then cast up. The earliest widening
            # whose change-seq >= the file's seq gives that file's
            # physical type; no such change = the declared type.
            for ch in sorted(
                (c for c in widened if c["name"] == name),
                key=lambda c: int(c["seq"]),
            ):
                if file_seq <= int(ch["seq"]):
                    return ch["old"]
            return types[name].simpleString()

        parts = []
        for seq, paths in sorted(by_seq.items()):
            # Only columns ALIVE in this era (created before the file
            # was written) are read from the files; columns created
            # later materialize as NULL without touching the file at
            # all. Reading a dead column and masking it afterwards —
            # the previous approach — broke on rename-then-re-add:
            # with `a` renamed to `b` and a NEW `a` added later, BOTH
            # declared columns resolve to physical name `a` in the old
            # era, and the duplicate column name fails the scan
            # (COLUMN_ALREADY_EXISTS). Alive physical names are
            # injective by construction: they all coexisted in one
            # write-time schema.
            alive = [
                n
                for n in declared
                if n not in created or seq > int(created[n])
            ]
            if alive:
                phys = {n: self._physical_name(n, seq) for n in alive}
                era_schema = ", ".join(
                    f"{phys[n]} {era_type(n, seq)}" for n in alive
                )
                df = _pos_cols(
                    self.spark.read.schema(era_schema).parquet(*paths)
                )
                # One atomic select does rename + upcast for every
                # column (sequential withColumnRenamed can collide
                # transiently when a rename chain swaps names).
                df = df.select(
                    *[F.col(c) for c in meta_cols],
                    *[
                        F.col(phys[n]).cast(types[n]).alias(n)
                        for n in alive
                    ],
                )
            else:
                # No declared column existed in this era (all dropped/
                # re-added later): the file still contributes its ROWS
                # as all-NULL, matching Iceberg field-id semantics.
                df = _pos_cols(self.spark.read.parquet(*paths)).select(
                    *[F.col(c) for c in meta_cols]
                )
            for n in declared:
                if n not in alive:
                    df = df.withColumn(n, F.lit(None).cast(types[n]))
            parts.append(df.select(*meta_cols, *declared))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        as_of_timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Current, time-travel (A20/A34), or ref read (`VERSION AS OF
        '<tag|branch>'` in Iceberg's Spark dialect). Merge-on-read
        equality deletes of the selected snapshot are applied at read
        time (sequence-aware anti-join).

        Divergence note: time-travel reads project the CURRENT table
        schema (Iceberg projects the snapshot's own schema-id); after
        a DROP the old snapshot's data for that column is not
        re-exposed. Era-correct VALUES are still guaranteed by the
        creation-seq/rename machinery in `_read_files`."""
        if ref is not None:
            snapshot_id = self.meta.refs[ref]["snapshot_id"]
        snap = self._resolve_snapshot(as_of_timestamp_ms, snapshot_id)
        if snap is None:
            return self._read_files([])
        return self._apply_deletes(
            self.meta.files(snap), self.meta.delete_entries(snap)
        )

    def _resolve_snapshot(
        self,
        as_of_timestamp_ms: int | None = None,
        snapshot_id: int | None = None,
    ) -> dict | None:
        if snapshot_id is not None:
            return self.meta.snapshot(snapshot_id)
        if as_of_timestamp_ms is None:
            sid = self.meta.current_snapshot_id
            return None if sid is None else self.meta.snapshot(sid)
        # The snapshot log (history_log) records rollbacks and never a
        # staged branch head.
        log = [
            (h["made_current_at_ms"], h["snapshot_id"])
            for h in self.meta.doc.get("history_log", [])
        ]
        sid = snapshot_as_of(log, as_of_timestamp_ms)
        if sid is None:
            return None
        by_id = {s["snapshot_id"]: s for s in self.meta.snapshots}
        if sid not in by_id:
            # Resolving to an older still-live snapshot would return
            # data that was not current then; Iceberg likewise fails
            # time travel to expired state.
            raise M.SnapshotExpired(
                f"time travel to {as_of_timestamp_ms}: snapshot "
                f"{sid} was current at that "
                "instant but has been removed by "
                "expire_snapshots; the requested state can no "
                "longer be materialized"
            )
        return by_id[sid]

    def _types(self) -> dict:
        from pyspark.sql.types import StructType

        return {
            f.name: f.dataType
            for f in StructType.fromDDL(self.meta.schema_ddl).fields
        }

    def _delete_files(self, entries: list[dict]) -> list[DeleteFile]:
        """Native delete entries in the shared shape. Equality keys are
        translated to CURRENT names through the rename log (deletes
        follow renames, Iceberg's field-id semantics); all equality
        entries must share one key set (order-insensitive). A
        positional entry without ``dseq`` bounds no data sequence."""
        out: list[DeleteFile] = []
        key_set: list[str] | None = None
        for d in entries:
            kind = d.get("kind", "eq")
            if kind == "pos":
                tp = d.get("target_paths")
                if tp is not None:
                    tp = frozenset(map(os.path.abspath, tp))
                out.append(
                    DeleteFile(
                        d["path"], int(d.get("dseq", sys.maxsize)), targets=tp
                    )
                )
            elif kind == "eq":
                cur = self._eq_delete_current_keys(d)
                if key_set is None:
                    key_set = cur
                elif sorted(cur) != sorted(key_set):
                    # delete_where_mor rejects mixed key sets at write
                    # time; a hand-crafted manifest must not silently
                    # apply a delete with the wrong equality columns
                    raise ValueError(
                        "equality-delete files disagree on key columns: "
                        f"{key_set} vs {cur}"
                    )
                keys = tuple(zip(d["keys"], cur))
                out.append(DeleteFile(d["path"], int(d["dseq"]), keys=keys))
        return out

    def _apply_deletes(
        self, files: list[dict], delete_files: list[dict],
        keep_pos: bool = False,
    ) -> DataFrame:
        """Rows of ``files`` with the merge-on-read ``delete_files``
        applied (``morread.read_with_deletes``). No data file is
        rewritten — the cost moves to read time until a rewrite
        materializes the deletes."""
        return self._read_shared(
            files, self._delete_files(delete_files), keep_pos
        )

    def _read_shared(
        self, files: list[dict], dels: list[DeleteFile], keep_pos=False
    ) -> DataFrame:
        return read_with_deletes(
            self.spark, files, dels, self._read_files, self._types(), keep_pos
        )

    @staticmethod
    def _delete_entry_bytes(d: dict) -> int:
        """Physical size of a MoR delete sidecar for IO reporting —
        entries don't record file_size (they carry record_count and
        keys/targets), so stat the tiny file, tolerating a sidecar
        GC'd under a stale report call."""
        if "file_size" in d:
            return d["file_size"] or 0
        try:
            return os.path.getsize(d["path"])
        except OSError:
            return 0

    def scan(self, preds: list | None = None) -> DataFrame:
        """Pruned scan (A25/A26, ``morread.pruned_scan``): partition-
        transform, column-bounds, bloom and bucket file pruning in the
        planner, merge-on-read deletes applied to the kept files, then
        the same predicate pushed to Spark for row-level correctness.
        ``last_scan_report`` records the files/bytes ratio benchmarked
        against BASELINE.md, plus the delete files the read also
        touches.

        ``preds`` is a conjunct list or DNF (list of conjunct lists):
        for an OR predicate a file survives if ANY disjunct keeps it."""
        dels = self.meta.current_deletes()
        df, self.last_scan_report = pruned_scan(
            self.spark,
            self.meta.current_files(),
            self._delete_files(dels),
            dict(enumerate(self.meta.specs)),
            preds,
            self._bucket_expectations,
            self._read_shared,
        )
        self.last_scan_report["delete_bytes_read"] = sum(
            self._delete_entry_bytes(d) for d in dels
        )
        return df

    def _bucket_expectations(
        self, preds: list[Pred]
    ) -> dict[tuple[int, str], str | None]:
        """``morread.bucket_expectations`` over this table's specs."""
        return bucket_expectations(
            dict(enumerate(self.meta.specs)),
            {k: t.simpleString() for k, t in self._types().items()},
            preds,
        )

    def _prune_bucket(self, files: list[dict], preds: list[Pred]) -> list[dict]:
        """Bucket-transform pruning for one disjunct."""
        return survive_buckets(files, preds, self._bucket_expectations)

    def history(self) -> DataFrame:
        """The `.history` metadata table (A31): made_current_at,
        snapshot_id, parent_id, is_current_ancestor
        (/root/reference/README.md:353-362)."""
        ancestors = set()
        by_id = {s["snapshot_id"]: s for s in self.meta.snapshots}
        cur = self.meta.current_snapshot_id
        while cur is not None:
            ancestors.add(cur)
            cur = by_id[cur]["parent_id"] if cur in by_id else None
        rows = [
            (
                # tz-aware UTC instant (naive utcfromtimestamp would be
                # reinterpreted in the session timezone, shifting the
                # reported time on non-UTC sessions; also deprecated)
                datetime.fromtimestamp(
                    h["made_current_at_ms"] / 1000.0, tz=timezone.utc
                ),
                h["snapshot_id"],
                by_id[h["snapshot_id"]]["parent_id"] if h["snapshot_id"] in by_id else None,
                h["snapshot_id"] in ancestors,
            )
            for h in self.meta.doc.get("history_log", [])
        ]
        return self.spark.createDataFrame(
            rows,
            schema="made_current_at timestamp, snapshot_id long, parent_id long, is_current_ancestor boolean",
        )

    def snapshots_info(self) -> list[dict[str, Any]]:
        return [
            {k: s[k] for k in ("snapshot_id", "parent_id", "timestamp_ms", "operation")}
            | dict(zip(("n_files", "n_records"), self.meta.file_counts(s)))
            for s in self.meta.snapshots
        ]

    def changes(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental append scan (Iceberg's incremental read /
        `spark.read.option("start-snapshot-id", ...)`): the rows in
        data files added strictly AFTER ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: current).

        This is the primitive that lets a downstream pipeline consume
        a 100 TB table incrementally — each sync reads only the new
        files (O(delta), never O(table)). Append-only semantics: a
        copy-on-write rewrite (compaction/DML) re-adds surviving rows;
        consumers that must distinguish logical inserts should sync
        from append snapshots only (exposed via `.history`/operation).
        """
        to_files = (
            self.meta.current_files()
            if to_snapshot_id is None
            else self.meta.files(self.meta.snapshot(to_snapshot_id))
        )
        from_paths = (
            set()
            if from_snapshot_id is None
            else {f["path"] for f in self.meta.files(self.meta.snapshot(from_snapshot_id))}
        )
        added = [f for f in to_files if f["path"] not in from_paths]
        return self._read_files(added)

    def changelog(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        identifier_columns: list[str] | None = None,
    ) -> DataFrame:
        """Net row-level changelog between two table states — the
        native analog of Iceberg's `CALL system.create_changelog_view`
        with ``net_changes=true``: full rows plus a ``_change_type``
        column in {'insert','delete'} (an UPDATE surfaces as the
        delete/insert pair, Iceberg's pre/post-update images).

        O(changed files), never O(table): see ``morread.changelog``."""
        def side(snap: dict | None) -> tuple[list[dict], list[DeleteFile]]:
            if snap is None:
                return [], []
            dels = self._delete_files(self.meta.delete_entries(snap))
            return self.meta.files(snap), dels

        from_snap = (
            None
            if from_snapshot_id is None
            else self.meta.snapshot(from_snapshot_id)
        )
        out = changelog(
            self.spark,
            side(from_snap),
            side(self._resolve_snapshot(None, to_snapshot_id)),
            dict(enumerate(self.meta.specs)),
            self._types(),
            self._read_shared,
        )
        if identifier_columns:
            # Iceberg's update-image pairing (create_changelog_view's
            # identifier_columns): a delete and an insert sharing the
            # row identity are the two halves of an UPDATE — relabel
            # them update_preimage/update_postimage. The semi-joins
            # shuffle only the delta, never the table.
            kind = F.col("_change_type")
            upd_keys = (
                out.filter(kind == "insert")
                .select(*identifier_columns)
                .intersect(
                    out.filter(kind == "delete").select(*identifier_columns)
                )
            )
            # no broadcast hint: AQE broadcasts when the key set is
            # small; a huge merge delta stays a shuffled join
            flagged = out.join(
                upd_keys.withColumn("__upd", F.lit(1)),
                identifier_columns,
                "left",
            )
            out = flagged.select(
                *[c for c in out.columns if c != "_change_type"],
                F.when(
                    F.col("__upd").isNotNull(),
                    F.when(
                        F.col("_change_type") == "delete",
                        "update_preimage",
                    ).otherwise("update_postimage"),
                )
                .otherwise(F.col("_change_type"))
                .alias("_change_type"),
            )
        return out

    def cherrypick(self, snapshot_id: int) -> None:
        """`CALL system.cherrypick_snapshot`: apply one snapshot's file
        delta onto the CURRENT state as a new commit — the audit-then-
        publish path for a staged append (e.g. written on a branch)
        without moving history the way fast_forward does. Like
        Iceberg, only append-shaped snapshots are supported: a
        snapshot that removed files or changed merge-on-read deletes
        was planned against one specific base, and replaying it on a
        different base would need full conflict validation — raises
        ValueError (Iceberg's ValidationException)."""
        snap = self.meta.snapshot(snapshot_id)
        parent = snap["parent_id"]
        parent_snap = None if parent is None else self.meta.snapshot(parent)
        parent_paths = (
            set()
            if parent_snap is None
            else {f["path"] for f in self.meta.files(parent_snap)}
        )
        snap_paths = {f["path"] for f in self.meta.files(snap)}
        if not parent_paths <= snap_paths:
            raise ValueError(
                "cherrypick: snapshot removed files — only append "
                "snapshots can be cherry-picked"
            )
        parent_dels = (
            [] if parent_snap is None else self.meta.delete_entries(parent_snap)
        )
        if self.meta.delete_entries(snap) != parent_dels:
            raise ValueError(
                "cherrypick: snapshot changed delete files — only "
                "append snapshots can be cherry-picked"
            )
        # Strip the staged files' sequence number: the cherry-picked
        # COMMIT is new, so its files take the new commit's sequence
        # (Iceberg behavior). Keeping the branch-era seq would let a
        # MoR equality delete committed on main AFTER the fork (dseq >
        # staged seq) silently swallow the just-published rows.
        delta = [
            {k: v for k, v in f.items() if k != "seq"}
            for f in self.meta.files(snap)
            if f["path"] not in parent_paths
        ]

        def missing(m: M.TableMeta) -> tuple:
            # only the paths the head does not list yet (the winner of
            # a concurrent commit may already have published some)
            have = {f["path"] for f in m.current_files()}
            return [f for f in delta if f["path"] not in have], [], None, None, False

        self._commit_snapshot_delta(
            missing(self.meta)[0], [], "cherrypick", rebase=missing
        )

    def rollback(self, snapshot_id: int) -> None:
        """A21: re-point current to an existing snapshot (history kept)."""

        def mutate(meta: M.TableMeta) -> None:
            meta.snapshot(snapshot_id)  # validate
            meta.doc["current_snapshot_id"] = snapshot_id
            meta.doc.setdefault("history_log", []).append(
                {"made_current_at_ms": M.now_ms(), "snapshot_id": snapshot_id}
            )

        self._retry_commit(mutate)

