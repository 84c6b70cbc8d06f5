"""Table maintenance: snapshot expiration, compaction, manifest rewrite.

Replays /root/reference/README.md:364-409:
  expire_snapshots  — A27 (EXECUTE expire_snapshots('<ts>') + orphan
                      file physical cleanup, README.md:364-381)
  rewrite_data_files — A29 (CALL system.rewrite_data_files — the
                      Spark-only compaction, README.md:396-403)
  rewrite_manifests — A30 (CALL system.rewrite_manifests, README.md:409)
"""

from __future__ import annotations

import functools
import math
import os

from iceberg_workshop_spark.icetbl import meta as M
from iceberg_workshop_spark.icetbl import transforms
from iceberg_workshop_spark.icetbl.table import IceTable

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024  # Iceberg's default 128 MB


def expire_snapshots(
    tbl: IceTable,
    older_than_ms: int | None = None,
    retain_last: int = 1,
) -> dict[str, int]:
    """Drop snapshots older than the cutoff (current snapshot always
    survives), then physically delete data files no remaining snapshot
    references — the orphan cleanup the reference demonstrates by
    listing S3 before/after (README.md:364-381). ``retain_last`` keeps
    at least the N newest current-ancestry snapshots regardless of
    age (Iceberg's expire_snapshots retain_last argument) so time
    travel always has a floor."""
    import contextlib

    cutoff = M.now_ms() if older_than_ms is None else older_than_ms
    retain_last = max(1, int(retain_last))
    before = len(tbl.meta.snapshots)
    kept: list[dict] = []
    to_delete: set[str] = set()

    def mutate(meta: M.TableMeta) -> None:
        nonlocal kept, to_delete
        # history.expire.max-ref-age-ms (Iceberg): named refs older
        # than the age cap are REMOVED by the expiration pass before
        # retention roots are computed — their snapshots then expire
        # like any other. Absent property = refs live forever. Ref age
        # is the age of the HEAD COMMIT, not of ref creation: a branch
        # that keeps receiving commits stays young however long ago it
        # was created (measuring from created_at_ms would delete an
        # actively-written branch and its files — review-caught bug).
        max_ref_age = meta.properties.get("history.expire.max-ref-age-ms")
        if max_ref_age is not None:
            ref_cutoff = M.now_ms() - int(max_ref_age)
            for name in list(meta.refs):
                r = meta.refs[name]
                head_ts = meta.snapshot(r["snapshot_id"])["timestamp_ms"]
                if head_ts < ref_cutoff:
                    del meta.refs[name]
        # Ref heads (tags/branches) are retention roots exactly like
        # the current snapshot — Iceberg semantics: expiration never
        # breaks a named ref, however old its head is.
        protected = {meta.current_snapshot_id} | {
            r["snapshot_id"] for r in meta.refs.values()
        }
        # retain_last: the N newest current-ancestry snapshots are
        # retention roots too
        by_id = {s["snapshot_id"]: s for s in meta.snapshots}
        cur = meta.current_snapshot_id
        n_kept = 0
        while cur is not None and cur in by_id and n_kept < retain_last:
            protected.add(cur)
            n_kept += 1
            cur = by_id[cur]["parent_id"]
        all_before = list(meta.snapshots)
        kept = [
            s
            for s in all_before
            if s["snapshot_id"] in protected or s["timestamp_ms"] > cutoff
        ]
        kept_ids = {s["snapshot_id"] for s in kept}
        # Physical deletions derive from SNAPSHOT METADATA, never from
        # a directory walk: files referenced only by expired snapshots.
        # A concurrent writer's just-written-not-yet-committed files
        # live in no snapshot, so they can never be chosen — the walk
        # variant would have deleted them (data loss). Files no
        # snapshot EVER referenced (crashed writers) are left for
        # remove_orphan_files with an age guard.
        # Equality-delete files are references too — removing one
        # would silently resurrect deleted rows on every surviving
        # snapshot that carries it.
        def refs_of(snaps: list[dict]) -> set[str]:
            return {f["path"] for s in snaps for f in meta.files(s)} | {
                d["path"] for s in snaps for d in meta.delete_entries(s)
            }

        dropped = [s for s in all_before if s["snapshot_id"] not in kept_ids]
        to_delete = refs_of(dropped) - refs_of(kept)
        # Manifest sidecars referenced only by expired snapshots die
        # with them (their data files are deleted below, so any old
        # vN.json pinning them is already unreadable — same Iceberg
        # semantics as data-file cleanup).
        def mfs_of(snaps: list[dict]) -> set[str]:
            return {
                m["path"]
                for s in snaps
                for m in meta.manifests_of(s)
                + meta.manifests_of(s, "delete_manifests")
            }

        def mls_of(snaps: list[dict]) -> set[str]:
            return {
                s["manifest_list"] for s in snaps if s.get("manifest_list")
            }

        mf_delete.clear()
        mf_delete.update(mfs_of(dropped) - mfs_of(kept))
        # manifest-list sidecars are per-snapshot, never shared — every
        # dropped snapshot's list dies with it
        mf_delete.update(mls_of(dropped) - mls_of(kept))
        meta.doc["snapshots"] = kept
        meta.doc["history_log"] = [
            h for h in meta.doc.get("history_log", []) if h["snapshot_id"] in kept_ids
        ]

    mf_delete: set[str] = set()
    tbl._retry_commit(mutate)

    removed = 0
    for p in sorted(to_delete):
        # Two concurrent expires may race on the same file; losing the
        # unlink race is success, not failure.
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)
            removed += 1
    for rel in sorted(mf_delete):
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(tbl.meta.location, rel))
    # Sweep write-sidecars and empty dirs only where we deleted data —
    # never across the whole data/ tree (a concurrent writer may be
    # mid-write in a fresh snap dir).
    data_dir = os.path.join(tbl.meta.location, M.DATA_DIR)
    for d in sorted({os.path.dirname(p) for p in to_delete}, key=len, reverse=True):
        cur = d
        while cur.startswith(data_dir + os.sep):
            try:
                entries = os.listdir(cur)
            except FileNotFoundError:
                break
            if any(e.endswith(".parquet") for e in entries):
                break
            for e in entries:
                if e == "_SUCCESS" or e.endswith(".crc"):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(cur, e))
            with contextlib.suppress(OSError):  # non-empty or gone
                os.rmdir(cur)
            if os.path.exists(cur):
                break
            cur = os.path.dirname(cur)
    return {
        "snapshots_before": before,
        "snapshots_after": len(kept),
        "orphan_files_removed": removed,
    }


def rewrite_data_files(
    tbl: IceTable,
    target_file_size_bytes: int = DEFAULT_TARGET_FILE_SIZE,
    target_num_files: int | None = None,
    small_file_threshold_bytes: int | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict[str, int]:
    """Compaction (A29): read-coalesce-rewrite into a new snapshot.

    Sizing is bytes-driven (total current bytes / target file size),
    exactly how you'd size a 100 TB compaction; the rewrite is a
    single ``repartition`` job so it scales with the cluster, and old
    files stay readable via time travel until expired. A partitioned
    table is hash-distributed by its partition tuple, so a partition of
    ``b`` bytes comes out as at most ``ceil(b / target)`` files (one
    for a small partition), however many tasks write.

    ``small_file_threshold_bytes`` switches to **size-tiered** mode
    (Iceberg binpack's min-file-size filter): only files below the
    threshold are read and re-packed; already-right-sized files are
    carried into the new snapshot untouched. At 100 TB this is the
    only affordable form — rewriting healthy files burns a full
    read+write of the table for nothing.

    ``sort_by`` switches binpack to **sort/cluster** mode (Iceberg's
    `rewrite_data_files(strategy => 'sort')`): rows are range-
    partitioned then sorted on the given columns, so rewritten files
    carry disjoint min/max bounds on the sort key and stats-based
    file skipping (A26) turns selective predicates into near-single-
    file scans. The range exchange is one extra sample+shuffle — the
    price of clustering, paid once at compaction instead of on every
    read.

    ``zorder_by`` clusters on the Morton (Z-order) curve over TWO OR
    MORE numeric columns (Iceberg's `sort_order => 'zorder(a, b)'`):
    each column is linearly scaled to a 16-bit code between its global
    min/max (one tiny agg, broadcast back — no global sort), the codes
    are bit-interleaved JVM-side, and rows are range-clustered on the
    interleaved key. Every clustered column then gets partial file
    skipping (a 1/k range predicate on either column touches
    ~sqrt-locality of files instead of all of them) — the layout for
    multi-dimension selective scans at 100 TB.
    """
    files = tbl.meta.current_files()
    if small_file_threshold_bytes is not None:
        to_rewrite = [
            f for f in files if f.get("file_size", 0) < small_file_threshold_bytes
        ]
        untouched = [
            f for f in files if f.get("file_size", 0) >= small_file_threshold_bytes
        ]
        if len(to_rewrite) <= 1:  # nothing to bin-pack
            return {
                "files_before": len(files),
                "files_after": len(files),
                "files_rewritten": 0,
                "files_untouched": len(files),
            }
    else:
        to_rewrite, untouched = files, []
    if not to_rewrite:
        # nothing to rewrite: no empty write job, no empty-file commit
        return {
            "files_before": len(files),
            "files_after": len(files),
            "files_rewritten": 0,
            "files_untouched": len(files),
        }
    total = sum(f.get("file_size", 0) for f in to_rewrite)
    n = target_num_files or max(1, math.ceil(total / target_file_size_bytes))
    # Rewritten files get a fresh sequence number, exempting them from
    # carried equality deletes — so the rewrite must read THROUGH the
    # deletes (untouched files keep their old seq; the carried deletes
    # still apply to them).
    dels = tbl.meta.current_deletes()
    spec_id = tbl.meta.current_spec_id
    spec = tbl.meta.specs[spec_id]
    width = None
    if spec and not (zorder_by or sort_by):
        # The writer clusters by the partition tuple, so the file count
        # no longer depends on the shuffle width: the width only
        # spreads the partitions over the cores.
        target = total / n if target_num_files else target_file_size_bytes
        df = _spread_partitions(tbl, to_rewrite, dels, target)
        width = max(n, tbl.spark.sparkContext.defaultParallelism)
    else:
        df = tbl._apply_deletes(to_rewrite, dels)
        if zorder_by:
            df = _zorder(df, zorder_by, n)
        elif sort_by:
            df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(n)
    new_files = tbl._write_files(df, spec, spec_id, width)
    tbl._commit_snapshot_delta(new_files, to_rewrite, "replace")
    return {
        "files_before": len(files),
        "files_after": len(untouched) + len(new_files),
        "files_rewritten": len(to_rewrite),
        "files_untouched": len(untouched),
    }


def _spread_partitions(
    tbl: IceTable, files: list[dict], dels: list[dict], target: float
):
    """Rows of ``files`` through ``dels``, each row of a partition over
    ``target`` bytes tagged with a :data:`transforms.SPREAD` value in
    ``range(k)``, ``k = ceil(partition bytes / target)`` (manifest
    ``file_size``, grouped by source partition): the clustered writer
    then writes that partition from at most ``k`` tasks, so at most
    ``k`` files. The files of one ``k`` share a scan; the value is the
    row's position in its file modulo ``k``."""
    from pyspark.sql import functions as F

    size: dict[tuple, int] = {}

    def key(f: dict) -> tuple:
        return f.get("spec_id"), tuple(sorted((f.get("partition") or {}).items()))

    for f in files:
        size[key(f)] = size.get(key(f), 0) + f.get("file_size", 0)
    by_k: dict[int, list[dict]] = {}
    for f in files:
        k = max(1, math.ceil(size[key(f)] / target)) if target else 1
        by_k.setdefault(k, []).append(f)
    parts = []
    for k, fs in sorted(by_k.items()):
        if k == 1:
            parts.append(tbl._apply_deletes(fs, dels))
            continue
        part = tbl._apply_deletes(fs, dels, keep_pos=True)
        parts.append(
            part.withColumn(transforms.SPREAD, F.pmod(F.col("__pos"), F.lit(k)))
            .drop("__path", "__pos")
        )
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


_Z_BITS = 8  # per-column code width (256 quantile buckets)


def _zorder(df, cols: list[str], n: int):
    """Range-cluster ``df`` into ``n`` output partitions along the
    Morton curve over ``cols``.

    Per-column codes are QUANTILE ranks, not linear min/max scaling:
    approxQuantile boundaries (a distributed sketch, driver gets only
    256 doubles per column) are baked into the plan as an array
    literal, and the code is the boundary count ≤ v — so skewed
    distributions (a long-tailed measure, a hot key) still spread
    across the full code space and every interleaved bit
    discriminates. This is the sampling-based range-id approach of
    production z-order implementations; a linear scale collapses
    under skew (all mass → low codes → no locality). The interleave
    is a folded shiftleft/or expression, codegen'd JVM-side.
    """
    from pyspark.sql import functions as F

    n_buckets = 1 << _Z_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE multi-column sketch pass over the compaction input — the
    # per-column overload would re-scan the input once per z-order
    # column for identical information
    all_bounds = df.stat.approxQuantile(cols, probs, 0.001)
    codes = []
    for c, bounds in zip(cols, all_bounds):
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        v = F.col(c).cast("double")
        codes.append(F.size(F.filter(arr, lambda b: b <= v)).cast("long"))
    z = F.lit(0).cast("long")
    for bit in range(_Z_BITS):
        for ci, code in enumerate(codes):
            pos = bit * len(codes) + ci
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(code, bit).bitwiseAND(F.lit(1)), pos)
            )
    out = df.withColumn("__zval", z)
    out = out.repartitionByRange(n, "__zval").sortWithinPartitions("__zval")
    return out.drop("__zval")


def rewrite_manifests(tbl: IceTable) -> dict[str, int]:
    """Manifest + metadata-log compaction (A30): drop snapshots no
    longer reachable from the current snapshot's ancestor chain
    (abandoned rollback branches), shrinking every future vN.json, and
    CONSOLIDATE each live head's manifest list — a long append history
    leaves the head referencing one tiny manifest per commit, and this
    rewrites them into ``ceil(n/MANIFEST_TARGET_ENTRIES)`` full shards
    (Iceberg's rewrite_manifests). Named refs are retention roots
    exactly like the current snapshot — a tag or branch head and its
    ancestry always survive. Superseded manifest files stay on disk
    for pinned old-version reads; remove_orphan_files sweeps them once
    no retained vN.json references them."""
    before = len(tbl.meta.snapshots)
    ancestors: set = set()
    mf_before = mf_after = 0

    def mutate(meta: M.TableMeta) -> None:
        nonlocal ancestors, mf_before, mf_after
        by_id = {s["snapshot_id"]: s for s in meta.snapshots}
        roots = [meta.current_snapshot_id] + [
            r["snapshot_id"] for r in meta.refs.values()
        ]
        ancestors = set()
        for cur in roots:
            while cur is not None and cur in by_id and cur not in ancestors:
                ancestors.add(cur)
                cur = by_id[cur]["parent_id"]
        meta.doc["snapshots"] = [
            s for s in meta.snapshots if s["snapshot_id"] in ancestors
        ]
        meta.doc["history_log"] = [
            h for h in meta.doc.get("history_log", []) if h["snapshot_id"] in ancestors
        ]
        mf_before = mf_after = 0
        def _need(descrs: list[dict]) -> int:
            n_entries = sum(
                m["n"] if "n" in m else len(meta._load_mf(m["path"]))
                for m in descrs
            )
            return max(1, -(-n_entries // M.MANIFEST_TARGET_ENTRIES))

        for sid in {r for r in roots if r is not None and r in by_id}:
            s = by_id[sid]
            ms = meta.manifests_of(s)
            dms = meta.manifests_of(s, "delete_manifests")
            if not ms and not dms:
                continue
            mf_before += len(ms) + len(dms)
            changed = False
            if ms and len(ms) > _need(ms):
                s["manifests"] = M._write_manifest_shards(
                    meta, list(meta.files(s))
                )
                changed = True
            # delete manifests fragment the same way (one tiny sidecar
            # entry per MoR delete commit) and are consolidated the
            # same way — a head carrying thousands of one-entry delete
            # manifests would pay thousands of loads per read
            if dms and len(dms) > _need(dms):
                s["delete_manifests"] = M._write_manifest_shards(
                    meta, list(meta.delete_entries(s))
                )
                changed = True
            if changed:
                # both descriptor lists are inline now (manifests_of
                # resolved them above); drop the manifest-list pointer
                # so commit re-spills a fresh one
                s.pop("manifest_list", None)
            mf_after += len(s["manifests"] if "manifests" in s else ms)
            mf_after += len(
                s["delete_manifests"] if "delete_manifests" in s else dms
            )

    tbl._retry_commit(mutate)
    return {
        "snapshots_before": before,
        "snapshots_after": len(ancestors),
        "head_manifests_before": mf_before,
        "head_manifests_after": mf_after,
    }


IceTable.expire_snapshots = expire_snapshots
IceTable.rewrite_data_files = rewrite_data_files
IceTable.rewrite_manifests = rewrite_manifests


def rewrite_equality_deletes(tbl: IceTable) -> dict[str, int]:
    """Materialize merge-on-read deletes (Iceberg's
    `rewrite_position_delete_files` + binpack, adapted to equality
    deletes): read the table WITH deletes applied, write clean data
    files, commit a snapshot carrying zero delete files. Read-time
    anti-join cost drops back to nothing; time travel to pre-rewrite
    snapshots still sees the MoR pair."""
    dels = tbl.meta.current_deletes()
    if not dels:
        return {"delete_files_removed": 0, "files_written": 0}
    clean = tbl.read().select(*tbl._column_names())
    spec_id = tbl.meta.current_spec_id
    new_files = tbl._write_files(clean, tbl.meta.specs[spec_id], spec_id)
    tbl._commit_snapshot_delta(
        new_files, [], "rewrite-deletes", truncate=True, truncate_deletes=True
    )
    return {"delete_files_removed": len(dels), "files_written": len(new_files)}


IceTable.rewrite_equality_deletes = rewrite_equality_deletes


def orphan_file_report(tbl: IceTable) -> dict[str, int]:
    """remove_orphan_files dry run: files physically under data/ that
    NO snapshot references (crashed writers, abandoned imports).
    Detection only — deletion stays with expire_snapshots' cleanup so
    a mis-scoped path can never eat live data on the report path."""
    referenced = {
        f["path"] for s in tbl.meta.snapshots for f in tbl.meta.files(s)
    } | {
        d["path"]
        for s in tbl.meta.snapshots
        for d in tbl.meta.delete_entries(s)
    }
    total = orphans = 0
    data_dir = os.path.join(tbl.meta.location, M.DATA_DIR)
    for root, _dirs, names in os.walk(data_dir):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            total += 1
            if os.path.join(root, name) not in referenced:
                orphans += 1
    return {"files_on_disk": total, "files_orphaned": orphans}


DEFAULT_ORPHAN_AGE_MS = 3 * 24 * 3600 * 1000  # Iceberg's 3-day default


def remove_orphan_files(
    tbl: IceTable, older_than_ms: int | None = None, dry_run: bool = False
) -> dict[str, int]:
    """CALL system.remove_orphan_files: physically delete files under
    data/ that NO snapshot references — guarded, like Iceberg, by an
    age threshold (default: older than 3 days by mtime) so a
    concurrent writer's just-written-but-not-yet-committed files are
    never eaten. ``dry_run`` reports without deleting."""
    import contextlib

    cutoff = (
        M.now_ms() - DEFAULT_ORPHAN_AGE_MS if older_than_ms is None else older_than_ms
    )
    # The data-file reference set comes from EVERY retained on-disk
    # version document via fresh reads — never the handle's in-memory
    # meta (round-11 review: a stale handle loaded at v5 would miss
    # files appended at v6+, and files referenced only by retained
    # older docs back pinned read_version views), mirroring the
    # manifest sweep below. Manifest caches are shared across the doc
    # reads so each immutable sidecar parses once; snapshots whose
    # manifests were already expired are skipped (their data files
    # were removed by expire_snapshots itself).
    referenced: set[str] = set()
    shared_mf: dict = {}
    shared_ids: dict = {}
    ref_mdir = os.path.join(tbl.meta.location, M.METADATA_DIR)
    try:
        doc_names = sorted(os.listdir(ref_mdir))
    except FileNotFoundError:
        doc_names = []
    for name in doc_names:
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        try:
            tm = M.read_metadata_file(os.path.join(ref_mdir, name))
        except (OSError, ValueError, KeyError):
            continue
        tm._mf_cache = shared_mf
        tm._mf_idset = shared_ids
        for s in tm.snapshots:
            try:
                referenced |= {f["path"] for f in tm.files(s)}
                referenced |= {d["path"] for d in tm.delete_entries(s)}
            except FileNotFoundError:
                continue  # SnapshotExpired: already unmaterializable
    found = removed = 0
    data_dir = os.path.join(tbl.meta.location, M.DATA_DIR)
    for root, _dirs, names in os.walk(data_dir, topdown=False):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(root, name)
            if p in referenced:
                continue
            try:
                mtime_ms = int(os.path.getmtime(p) * 1000)
            except FileNotFoundError:
                continue
            if mtime_ms >= cutoff:
                continue  # too young — may belong to an in-flight commit
            found += 1
            if not dry_run:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)
                    removed += 1
    # Orphan MANIFEST sidecars: losing CAS committers and
    # rewrite_manifests consolidation leave mf-*.json in metadata/
    # that no retained vN.json references. A manifest referenced by
    # ANY on-disk version doc stays (pinned read_version views); the
    # same age guard protects a writer whose manifests are written
    # but whose vN.json link hasn't landed yet.
    mdir = os.path.join(tbl.meta.location, M.METADATA_DIR)
    live_mfs: set[str] = set()
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        names = []
    import json as _json

    ml_cache: dict[str, dict] = {}

    def _ml_lists(ml: str) -> dict:
        # manifest lists are immutable and per-snapshot, but MANY
        # retained version docs reference the same snapshot — parse
        # each list once, not once per referencing doc
        if ml not in ml_cache:
            try:
                with open(os.path.join(tbl.meta.location, ml)) as f:
                    ml_cache[ml] = _json.load(f)
            except (OSError, ValueError):
                ml_cache[ml] = {}
        return ml_cache[ml]

    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            try:
                with open(os.path.join(mdir, name)) as f:
                    doc = _json.load(f)
            except (OSError, ValueError):
                continue
            for s in doc.get("snapshots", []):
                groups = [s.get("manifests") or [], s.get("delete_manifests") or []]
                ml = s.get("manifest_list")
                if ml:
                    # resolve the manifest-list indirection so its
                    # manifests count as referenced
                    live_mfs.add(os.path.basename(ml))
                    lists = _ml_lists(ml)
                    groups += [
                        lists.get("manifests") or [],
                        lists.get("delete_manifests") or [],
                    ]
                for g in groups:
                    for m in g:
                        live_mfs.add(os.path.basename(m["path"]))
    for name in names:
        if not (
            name.startswith((M.MANIFEST_PREFIX, M.MANIFEST_LIST_PREFIX))
            and name.endswith(".json")
        ):
            continue
        if name in live_mfs:
            continue
        p = os.path.join(mdir, name)
        try:
            mtime_ms = int(os.path.getmtime(p) * 1000)
        except FileNotFoundError:
            continue
        if mtime_ms >= cutoff:
            continue
        found += 1
        if not dry_run:
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)
                removed += 1
    # Torn-commit debris: `commit()` writes v(N+1).json and the
    # version hint via unique write-tmp-then-link/replace sidecars, so
    # a writer crashing mid-commit leaves `*.tmp` files in metadata/
    # (half-written doc that never got linked) or at the table root
    # (hint repoint that never landed). They are invisible to readers
    # (read_current probes vN.json and treats the hint as an
    # accelerator only) but accumulate forever; sweep them under the
    # SAME age guard — a live writer's tmp younger than the cutoff is
    # never eaten.
    for d in (mdir, tbl.meta.location):
        try:
            tmp_names = os.listdir(d)
        except FileNotFoundError:
            continue
        for name in tmp_names:
            if not name.endswith(".tmp"):
                continue
            p = os.path.join(d, name)
            if not os.path.isfile(p):
                continue
            try:
                mtime_ms = int(os.path.getmtime(p) * 1000)
            except FileNotFoundError:
                continue
            if mtime_ms >= cutoff:
                continue  # may belong to an in-flight commit
            found += 1
            if not dry_run:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)
                    removed += 1
    return {"orphans_found": found, "orphans_removed": removed}


IceTable.orphan_file_report = orphan_file_report
IceTable.remove_orphan_files = remove_orphan_files


def rewrite_position_deletes(tbl: IceTable) -> dict[str, int]:
    """Iceberg's `rewrite_position_delete_files` procedure: compact the
    table's positional delete files — merge many small ones into one
    and DROP dangling entries (positions pointing at data files no
    snapshot-current file set contains, e.g. after a compaction
    rewrote their target). Data files are untouched; equality deletes
    are untouched; readers see the same rows before and after.

    At 100 TB this is the companion to compaction: every
    rewrite_data_files leaves the old files' position deletes
    dangling, and this procedure is what keeps the delete-file count
    (and the read-time anti-join input) proportional to LIVE deleted
    rows.

    What the manifest entries decide, no data file is read for. An
    entry whose ``target_paths`` name no live file dangles whole and
    is dropped unread; one whose targets are all live keeps every
    position without the live-path join. Only entries without targets
    or with targets on both sides are joined against the live paths.
    The live positions are staged directly (the staged file's row
    count is the live count); the distinct-position count behind the
    exact ``dangling_positions_dropped`` runs only when some position
    dangles."""
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.icetbl.dml import _stage_pos_deletes
    from iceberg_workshop_spark.icetbl.morread import _local, canon_path_col

    dels = tbl.meta.current_deletes()
    pos_dels = [d for d in dels if d.get("kind") == "pos"]
    # (equality deletes carry forward by manifest reference — the
    # delta commit below removes only the pos-delete entries)
    if not pos_dels:
        return {
            "rewritten_delete_files_count": 0,
            "added_delete_files_count": 0,
            "dangling_positions_dropped": 0,
        }
    live_paths = {_local(f["path"]) for f in tbl.meta.current_files()}
    dead: list[dict] = []  # every target gone
    whole: list[dict] = []  # every target live
    mixed: list[dict] = []  # targets unknown, or on both sides
    for d in pos_dels:
        tp = d.get("target_paths")
        hits = None if tp is None else {_local(p) in live_paths for p in tp}
        if hits == {False}:
            dead.append(d)
        elif hits == {True}:
            whole.append(d)
        else:
            mixed.append(d)

    def positions(entries: list[dict]):
        # a declared schema (no footer-inference job), deduplicated in
        # one task: the staged file is written by one task anyway
        return (
            tbl.spark.read.schema("file_path string, pos long")
            .parquet(*[d["path"] for d in entries])
            .coalesce(1)
            .distinct()
        )

    kept = whole + mixed
    live = positions(kept) if kept else None
    if mixed:
        # EXECUTOR-side canonicalization + join against a frame of
        # live paths: an isin() literal list would grow the plan (and
        # driver memory) with the number of deleted-from files
        live_df = tbl.spark.createDataFrame(
            [(p,) for p in sorted(live_paths)], "live_path string"
        )
        live = live.join(
            live_df,
            canon_path_col(F.col("file_path")) == F.col("live_path"),
            "left_semi",
        )
    new_entries = (
        _stage_pos_deletes(tbl, live, max(int(d["dseq"]) for d in pos_dels))
        if live is not None
        else []
    )
    n_live = sum(e["record_count"] for e in new_entries)
    # count the DISTINCT position set: a (path, pos) pair recorded in
    # two sidecars is a consolidation no-op, not a "dangling position
    # dropped". With no dead or mixed entry every position is live.
    n_before = positions(pos_dels).count() if dead or mixed else n_live
    tbl._commit_snapshot_delta(
        [],
        [],
        "rewrite-deletes",
        added_deletes=new_entries,
        removed_deletes=pos_dels,
    )
    return {
        "rewritten_delete_files_count": len(pos_dels),
        "added_delete_files_count": len(new_entries),
        "dangling_positions_dropped": n_before - n_live,
    }


IceTable.rewrite_position_deletes = rewrite_position_deletes
