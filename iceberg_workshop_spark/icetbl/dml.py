"""Copy-on-write row-level DML: MERGE (A9) and DELETE (A10).

Replays the semantics of
``/root/reference/sql/update_iceberg_v2_examples.sql:14-18``::

    MERGE INTO airlines AS t USING airlines_merge AS s ON t.code = s.code
    WHEN MATCHED THEN UPDATE SET description = s.description
    WHEN NOT MATCHED THEN INSERT VALUES (s.code, s.description)

as Iceberg v2 copy-on-write does it, Spark-first:

1. Discover *affected files* with a ``_metadata.file_path`` semi-join
   against the source keys — a broadcast join at any realistic source
   size, touching only file-path metadata.
2. Rewrite only those files (update = left join + conditional
   replace; delete = negated filter), carry every untouched file into
   the new snapshot verbatim.

At 100 TB this means a MERGE touching 0.1% of keys rewrites ~0.1% of
files, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_workshop_spark.icetbl.morread import canon_path
from iceberg_workshop_spark.icetbl.pruning import Pred, prune_files
from iceberg_workshop_spark.icetbl.table import IceTable


def _affected_paths(df_with_fp: DataFrame) -> set[str]:
    rows = df_with_fp.select("__fp").distinct().collect()
    return {canon_path(r["__fp"]) for r in rows}


def _with_fp(tbl: IceTable, files: list[dict]) -> DataFrame:
    # __fp must be attached inside _read_files: on an evolved table the
    # read is a union of per-era projections and _metadata only
    # resolves on the raw scans beneath it.
    return tbl._read_files(files, with_fp=True)


def _current_deletes(tbl: IceTable, branch: str | None = None) -> list[dict]:
    """Delete files of the commit base — the BRANCH head's when a
    branch write is in flight (main's deletes must never mask branch
    rows and vice versa)."""
    cur = (
        tbl.meta.refs[branch]["snapshot_id"]
        if branch
        else tbl.meta.current_snapshot_id
    )
    return (
        list(tbl.meta.delete_entries(tbl.meta.snapshot(cur)))
        if cur is not None
        else []
    )


def _rows_of(
    tbl: IceTable,
    files: list[dict],
    branch: str | None = None,
    keep_pos: bool = False,
) -> DataFrame:
    """Rows of ``files`` with merge-on-read deletes applied — every
    CoW rewrite must read THROUGH the deletes: the rewritten file gets
    a fresh sequence number, so a carried equality delete would no
    longer apply to it and a raw read would resurrect deleted rows.
    The delete set comes from the same head the files came from
    (branch-scoped DML reads the branch's deletes, not main's).
    ``keep_pos`` keeps each row's ``__path``/``__pos``."""
    return tbl._apply_deletes(files, _current_deletes(tbl, branch), keep_pos)


def _del_entry_key(d: dict) -> tuple:
    return (d["path"], int(d.get("dseq", 0)))


def _cow_rebase(
    tbl, base_files, base_dels, removed_paths, new_files, added_conflicts,
    isolation,
):
    """Build the ``rebase`` hook that gives copy-on-write commits
    Iceberg's optimistic-concurrency arbitration: on a CAS conflict
    the pending snapshot is REBASED onto the winner's state, the
    operation's validation re-runs against fresh metadata, and the
    commit retries (bounded by ``_commit_snapshot_delta``'s attempt loop).
    Conflict detection is FILE-LEVEL — writers touching disjoint file
    sets both land, mirroring the concurrent Hive/Impala/Spark world
    of the reference's REST-catalog setup (interoperability.md:60-122).

    ``isolation`` levels (Iceberg's write.<op>.isolation-level):
    - ``"strict"`` (this engine's historical default): any concurrent
      commit invalidates the plan → return None,
      _commit_snapshot_delta propagates the conflict.
    - ``"snapshot"``: the plan survives any concurrent commit that
      leaves ITS OWN read-set intact — validation checks only that
      (a) every file this op REWROTE still exists (a concurrent
      writer rewriting the same file is a genuine write-write
      conflict) and (b) no concurrent MoR delete file can reach the
      rewritten files (an equality delete applies by sequence number,
      so the rewrite's fresh seq would silently void it; a positional
      delete conflicts only when it targets a rewritten file). The
      rebased snapshot is the WINNER's file set minus this op's
      rewritten files plus its rewrites — concurrent appends,
      compactions and disjoint CoW rewrites all carry through.
    - ``"serializable"``: snapshot's checks PLUS no concurrently-added
      row may match the operation's predicate/source keys — the
      result must equal some serial order, and a matching added row
      would have been rewritten had the op run second.
      ``added_conflicts(df_of_added_rows) -> bool`` decides; it reads
      only the concurrent delta's files, never the table.
    """
    if isolation == "strict":
        return None
    if isolation not in ("snapshot", "serializable"):
        raise ValueError(f"unknown isolation level: {isolation!r}")
    import os as _os

    base_paths = {f["path"] for f in base_files}
    base_del_keys = {_del_entry_key(d) for d in base_dels}
    removed_abs = {_os.path.abspath(p) for p in removed_paths}
    base_schema = tbl.meta.schema_ddl

    def rebase(fresh_meta):
        from iceberg_workshop_spark.icetbl import meta as M2

        if fresh_meta.schema_ddl != base_schema:
            # A concurrent schema change (rename/add/drop/widen) voids
            # the plan outright: rewritten files carry plan-time
            # physical column names but would be stamped into the
            # post-change era, so reads would resolve them wrongly.
            raise M2.CommitConflict(
                "isolation validation: a concurrent schema change "
                "committed — re-plan against the new schema"
            )
        fresh_files = fresh_meta.current_files()
        fresh_paths = {f["path"] for f in fresh_files}
        if removed_paths - fresh_paths:
            raise M2.CommitConflict(
                "isolation validation: files this operation rewrote were "
                "removed by a concurrent commit — re-plan required"
            )
        fresh_dels = fresh_meta.current_deletes()
        for d in fresh_dels:
            if _del_entry_key(d) in base_del_keys:
                continue  # read through at plan time
            targets = d.get("target_paths") if d.get("kind") == "pos" else None
            if targets is None:
                # equality delete (or untargeted): applies by key to
                # any older-seq file — could reach a rewritten one
                raise M2.CommitConflict(
                    "isolation validation: a concurrent row-level delete "
                    "file committed — this rewrite's fresh sequence would "
                    "void it — re-plan"
                )
            if removed_abs & {_os.path.abspath(p) for p in targets}:
                raise M2.CommitConflict(
                    "isolation validation: a concurrent positional delete "
                    "targets a file this operation rewrote — re-plan"
                )
        added = [f for f in fresh_files if f["path"] not in base_paths]
        if isolation == "serializable" and added:
            if added_conflicts(tbl._read_files(added)):
                raise M2.CommitConflict(
                    "serializable isolation: a concurrent append added rows "
                    "matching this operation's predicate — re-plan required"
                )
        # Delta against the WINNER's head: this op's rewrites plus the
        # winner's fresh entry objects for the files it removed (old
        # identities are stale after the refresh).
        return (
            new_files,
            [f for f in fresh_files if f["path"] in removed_paths],
            None,
            None,
            False,
        )

    return rebase


def _mor_append_rebase(
    tbl, base_meta, base_head_id, base_dels, own_new_files, own_entries
):
    """Rebase hook for merge-on-read commits (delete/update/merge
    sidecar writers): a concurrent winner that only ADDED data files
    leaves the operation fully valid — positional deletes target
    specific pre-existing files, and an equality delete's recorded
    ``dseq`` already confines it to strictly-older data, so the
    rebased commit is exactly the serial order "this delete, then the
    winner's append" (the winner's files carry the dseq itself, which
    is not strictly older). Rebase = winner's file set plus this op's
    appended images; the carried delete list (base deletes + this
    op's sidecars) is already correct because the winner's delete set
    is validated unchanged. Any winner that removed/rewrote a file or
    touched the delete set re-raises for a re-plan — a concurrent
    compaction would orphan positional targets, and a concurrent
    row-level delete interleaved with an update/merge is a genuine
    write-write conflict (lost-delete hazard).

    ``base_meta``/``base_head_id`` identify the PLAN-TIME head; the
    base path set is derived lazily inside the hook, so the no-conflict
    fast path never materializes the live file list (delete_keys_mor's
    O(|keys|) commit claim)."""
    base_del_keys = {_del_entry_key(d) for d in base_dels}
    base_schema = base_meta.schema_ddl

    def rebase(fresh_meta):
        from iceberg_workshop_spark.icetbl import meta as M2

        if fresh_meta.schema_ddl != base_schema:
            # A concurrent schema change voids the plan: an equality-
            # delete sidecar records plan-time key names with a dseq
            # NEWER than the rename's logged sequence, so the rename
            # translation would never apply to it and every later read
            # would fail resolving the stale key (found by round-11
            # review) — and appended images carry plan-time physical
            # column names that the post-change era would misread.
            raise M2.CommitConflict(
                "merge-on-read rebase: a concurrent schema change "
                "committed — re-plan against the new schema"
            )
        base_paths = (
            {
                f["path"]
                for f in base_meta.files(base_meta.snapshot(base_head_id))
            }
            if base_head_id is not None
            else set()
        )
        fresh_files = fresh_meta.current_files()
        fresh_paths = {f["path"] for f in fresh_files}
        if not base_paths <= fresh_paths:
            raise M2.CommitConflict(
                "merge-on-read rebase: a concurrent commit removed or "
                "rewrote data files this operation's delete sidecars "
                "target — re-plan required"
            )
        fresh_dels = fresh_meta.current_deletes()
        if {_del_entry_key(d) for d in fresh_dels} != base_del_keys:
            raise M2.CommitConflict(
                "merge-on-read rebase: a concurrent commit changed the "
                "delete-file set — re-plan required"
            )
        return (own_new_files, [], own_entries, None, False)

    return rebase


def delete_where(
    tbl: IceTable,
    condition: str,
    prune: list[Pred] | None = None,
    isolation: str = "strict",
    branch: str | None = None,
) -> dict[str, int]:
    """DELETE FROM ... WHERE (A10). Returns rewrite statistics.

    ``branch=`` runs the copy-on-write delete against that branch's
    HEAD and commits to the branch — the write-audit-publish pattern
    with row-level deletes staged off main (Iceberg's branch-scoped
    DML): main never sees the rewrite until fast_forward publishes
    it."""
    if branch and isolation != "strict":
        raise ValueError(
            "branch-scoped DELETE supports only isolation='strict' — "
            "the snapshot/serializable rebase validates against main"
        )
    files = (
        tbl.meta.files(tbl.meta.snapshot(tbl.meta.refs[branch]["snapshot_id"]))
        if branch
        else tbl.meta.current_files()
    )
    spec_by_id = {i: s for i, s in enumerate(tbl.meta.specs)}
    candidates, _ = prune_files(files, spec_by_id, prune or [])
    candidate_paths = {f["path"] for f in candidates}
    untouched = [f for f in files if f["path"] not in candidate_paths]

    hit_paths = (
        _affected_paths(_with_fp(tbl, candidates).filter(condition))
        if candidates
        else set()
    )
    affected = [f for f in candidates if f["path"] in hit_paths]
    unaffected = [f for f in candidates if f["path"] not in hit_paths]

    spec_id = tbl.meta.current_spec_id
    new_files: list[dict] = []
    if affected:
        remaining = (
            _rows_of(tbl, affected, branch)
            .filter(f"NOT ({condition})")
            .select(*tbl._column_names())
        )
        new_files = tbl._write_files(remaining, tbl.meta.specs[spec_id], spec_id)
    tbl._commit_snapshot_delta(
        new_files,
        affected,
        "delete",
        branch=branch,
        rebase=(
            None
            if branch
            else _cow_rebase(
                tbl,
                files,
                _current_deletes(tbl),
                {f["path"] for f in affected},
                new_files,
                lambda df: df.filter(condition).limit(1).count() > 0,
                isolation,
            )
        ),
    )
    return {
        "files_total": len(files),
        "files_rewritten": len(affected),
        "files_untouched": len(untouched) + len(unaffected),
    }


def merge_affected(
    tbl: IceTable,
    keys: DataFrame,
    on: list[str],
    files: list[dict] | None = None,
) -> list[dict]:
    """The data files of ``files`` (default: the current snapshot's)
    holding a row whose ``on`` key appears in ``keys``: a raw-file
    ``_metadata.file_path`` semi-join, run before any effect is built.
    It narrows a MERGE's target view to the rows a source key can
    reach, so the matched join and the insert anti-join over that view
    equal the joins over the table. It decides nothing about the write:
    the view reads through the deletes, and the writers rewrite or mask
    only the rows effects name by (file, pos). An empty table has no
    file-backed scan (no ``_metadata`` column) and no affected files."""
    files = tbl.meta.current_files() if files is None else files
    if not files:
        return []
    # a semi-join emits each target row once however often its key
    # repeats, so the broadcast keys need no distinct (and no shuffle)
    hit = _affected_paths(
        _with_fp(tbl, files).join(F.broadcast(keys.select(*on)), on, "left_semi")
    )
    return [f for f in files if f["path"] in hit]


# Columns of a MERGE effect frame besides the table's: the target row
# an effect replaces or deletes (null for an insert), the delete flag,
# and the index of the clause that claimed the row (-1: a matched row
# no clause claims, kept only for the cardinality check).
_EFFECT_COLS = ("__path", "__pos", "__delete", "__act")


def _upsert_effects(tbl: IceTable, source: DataFrame, on: list[str]) -> DataFrame:
    """Effects of the upsert MERGE: each source row with the (file, pos)
    of every target row its ``on`` key matches, or null when none. The
    source row is the image (matched) or the insert (unmatched); a row
    flagged ``__delete`` deletes its matches and never inserts."""
    cols = tbl._column_names()
    delete = F.col("__delete") if "__delete" in source.columns else F.lit(False)
    src = source.select(*cols, F.coalesce(delete, F.lit(False)).alias("__delete"))
    target = _rows_of(tbl, merge_affected(tbl, src, on), keep_pos=True)
    # the semi-join against the broadcast keys leaves only matched
    # target rows for the left join
    pos = target.join(F.broadcast(src.select(*on)), on, "left_semi")
    return (
        src.join(pos.select(*on, "__path", "__pos"), on, "left")
        .filter(F.col("__path").isNotNull() | ~F.col("__delete"))
        .withColumn("__act", F.lit(0))
    )


def _cardinality_violation(tbl: IceTable) -> Exception:
    """Spark's MERGE_CARDINALITY_VIOLATION (SQLSTATE 23K01), as PySpark
    raises it from a Spark MERGE."""
    from pyspark.errors.exceptions.captured import convert_exception

    errors = tbl.spark._jvm.org.apache.spark.sql.errors.QueryExecutionErrors
    return convert_exception(errors.mergeCardinalityViolationError())


def _merge_effects(
    tbl: IceTable, source: DataFrame, on: list[str]
) -> tuple[DataFrame, set[str]]:
    """The claimed rows of a MERGE's effect frame, evaluated once, and
    the canonical paths of the data files they name.

    ``source`` is an effect frame (the table's columns plus
    ``_EFFECT_COLS``, as the SQL front end builds it) or an upsert
    source for ``_upsert_effects``. The frame is local-checkpointed:
    every consumer reads it, none re-derives it, and it leaves no
    CacheManager entry. One aggregate over its positioned rows, which
    the driver holds anyway (the copy-on-write rewrite broadcasts them,
    the merge-on-read stager reads them back), returns the named files
    and raises MERGE_CARDINALITY_VIOLATION when one (file, pos) has
    more than one row. A front end that follows Spark's rule (no check
    under a lone unconditional WHEN MATCHED DELETE, or no WHEN MATCHED
    at all) deduplicates or leaves out those matched rows."""
    if "__path" not in source.columns:
        source = _upsert_effects(tbl, source, on)
    frame = source.select(*tbl._column_names(), *_EFFECT_COLS).localCheckpoint(eager=True)
    # one Arrow collect, grouped on the driver: a Spark aggregate would
    # add a job per shuffle stage
    named = (
        frame.filter(F.col("__path").isNotNull())
        .select("__path", "__pos", "__act")
        .toArrow()
        .group_by("__path")
        .aggregate([("__pos", "count"), ("__pos", "count_distinct"), ("__act", "max")])
        .to_pylist()
    )
    if any(r["__pos_count"] > r["__pos_count_distinct"] for r in named):
        raise _cardinality_violation(tbl)
    return (
        frame.filter(F.col("__act") >= 0),
        {canon_path(r["__path"]) for r in named if r["__act_max"] >= 0},
    )


def merge_into(
    tbl: IceTable,
    source: DataFrame,
    on: list[str],
    isolation: str = "strict",
) -> dict[str, int]:
    """Copy-on-write MERGE INTO (A9). ``source`` has the target's
    columns: a matched source row replaces each target row its ``on``
    key matches, an unmatched one inserts, and a boolean ``__delete``
    column, when present, turns a matched row into a delete (and keeps
    an unmatched one out). ``source`` may instead be an effect frame
    (``_merge_effects``). Two source rows matching one target row raise
    MERGE_CARDINALITY_VIOLATION before any write.

    Only the files effects name are rewritten: each named row is
    replaced by its image or dropped, the others are kept, and the
    inserts are added."""
    files = tbl.meta.current_files()
    effects, paths = _merge_effects(tbl, source, on)
    cols = tbl._column_names()
    rewrite = [f for f in files if f["path"] in paths]
    # Each image replaces its row inside the scan of its file, so the
    # rewrite writes about as many files as it reads. Both sides'
    # __path is Spark's URI of the same data file, read the same way,
    # so the positions compare raw.
    t = _rows_of(tbl, rewrite, keep_pos=True).alias("t")
    e = F.broadcast(effects.filter(F.col("__path").isNotNull())).alias("e")
    rewritten = (
        t.join(e, ["__path", "__pos"], "left")
        .filter(~F.coalesce(F.col("e.__delete"), F.lit(False)))
        .select(
            *[
                F.when(F.col("e.__act").isNotNull(), F.col(f"e.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in cols
            ]
        )
    )
    new_rows = rewritten.unionByName(effects.filter(F.col("__path").isNull()).select(*cols))
    spec_id = tbl.meta.current_spec_id
    new_files = tbl._write_files(new_rows, tbl.meta.specs[spec_id], spec_id)
    src_keys = effects.select(*on).distinct()
    tbl._commit_snapshot_delta(
        new_files,
        rewrite,
        "merge",
        rebase=_cow_rebase(
            tbl,
            files,
            _current_deletes(tbl),
            {f["path"] for f in rewrite},
            new_files,
            # a concurrently-appended row whose key appears in the
            # MERGE effects would have been updated/deleted had the
            # MERGE run second — serializable must re-plan
            lambda df: df.join(F.broadcast(src_keys), on, "left_semi")
            .limit(1)
            .count()
            > 0,
            isolation,
        ),
    )
    return {
        "files_total": len(files),
        "files_rewritten": len(rewrite),
        "files_untouched": len(files) - len(rewrite),
    }


def update_where(
    tbl: IceTable,
    condition: str,
    set_exprs: dict[str, str],
    prune: list[Pred] | None = None,
    isolation: str = "strict",
) -> dict[str, int]:
    """UPDATE ... SET ... WHERE — same CoW machinery as delete."""
    files = tbl.meta.current_files()
    spec_by_id = {i: s for i, s in enumerate(tbl.meta.specs)}
    candidates, _ = prune_files(files, spec_by_id, prune or [])
    candidate_paths = {f["path"] for f in candidates}
    untouched = [f for f in files if f["path"] not in candidate_paths]

    hit_paths = (
        _affected_paths(_with_fp(tbl, candidates).filter(condition))
        if candidates
        else set()
    )
    affected = [f for f in candidates if f["path"] in hit_paths]
    unaffected = [f for f in candidates if f["path"] not in hit_paths]

    new_files: list[dict] = []
    if affected:
        cols = tbl._column_names()
        rewritten = _rows_of(tbl, affected).select(
            *[
                F.when(F.expr(condition), F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ]
        )
        spec_id = tbl.meta.current_spec_id
        new_files = tbl._write_files(rewritten, tbl.meta.specs[spec_id], spec_id)
    tbl._commit_snapshot_delta(
        new_files,
        affected,
        "update",
        rebase=_cow_rebase(
            tbl,
            files,
            _current_deletes(tbl),
            {f["path"] for f in affected},
            new_files,
            lambda df: df.filter(condition).limit(1).count() > 0,
            isolation,
        ),
    )
    return {
        "files_total": len(files),
        "files_rewritten": len(affected),
        "files_untouched": len(untouched) + len(unaffected),
    }


IceTable.delete_where = delete_where
IceTable.merge_into = merge_into
IceTable.merge_affected = merge_affected
IceTable._rows_of = _rows_of
IceTable.update_where = update_where


def _require_key_set(tbl: IceTable, keys: list[str]) -> None:
    """All equality deletes of a table share one key set (order-
    insensitive): the reader anti-joins every delete file on the same
    columns, so a new delete keyed differently must be refused."""
    for d in _current_deletes(tbl):
        if d.get("kind", "eq") != "eq":
            continue
        cur = tbl._eq_delete_current_keys(d)
        if sorted(cur) != sorted(keys):
            raise ValueError(
                "equality-delete key set mismatch: table already "
                f"carries deletes keyed on {cur}, got {list(keys)}; "
                "run rewrite_equality_deletes() first to materialize "
                "the old deletes before changing the key set"
            )


def delete_where_mor(
    tbl: IceTable, condition: str, keys: list[str]
) -> dict[str, int]:
    """Merge-on-read DELETE (Iceberg v2 equality deletes): instead of
    rewriting affected data files (CoW, `delete_where`), write a tiny
    parquet of the matching key tuples and commit it as an
    equality-delete file. Readers anti-join it against strictly older
    data (sequence rule in ``morread.read_with_deletes``); a later
    `rewrite_equality_deletes` materializes and drops it.

    At 100 TB this is the low-latency delete path: the commit cost is
    O(|matching keys|), independent of table size — GDPR-style point
    deletes land in seconds, and the read-time anti-join stays cheap
    because the delete side is a broadcast-sized key list. All delete
    files of a table must share one equality key set (`keys`) —
    enforced loudly here, because the reader resolves the key columns
    from a single entry and a silently-mixed key set would misapply
    every later delete."""
    _require_key_set(tbl, keys)
    matching = tbl.read().filter(condition).select(*keys).distinct()
    return _commit_eq_delete(tbl, matching, keys)


def delete_keys_mor(
    tbl: IceTable, keys_df: DataFrame, keys: list[str]
) -> dict[str, int]:
    """Equality-delete by EXPLICIT key set — the CDC/changelog-consumer
    form of ``delete_where_mor``: the caller already holds the key
    tuples (a changelog's delete rows, an upstream tombstone feed), so
    no table scan plans the delete. Same key-set guard, same sidecar
    protocol, same sequence rule; commit cost is O(|keys|) regardless
    of table size — the index-maintenance primitive a derived table
    (e.g. a persisted ANN index) needs to track its base's deletes."""
    _require_key_set(tbl, keys)
    # Validate the caller's key column TYPES against the table schema
    # at write time: the read-time anti-join compares sidecar columns
    # to table columns, and a mistyped key (string keys against a
    # bigint column) would rely on implicit casts that can silently
    # fail to match — resurrecting deleted rows — instead of erroring
    # here where the bad feed is visible.
    declared = tbl._types()
    got = {f.name: f.dataType for f in keys_df.select(*keys).schema.fields}
    for k in keys:
        if k not in declared:
            raise ValueError(
                f"equality-delete key {k!r} is not a column of the table "
                f"schema ({tbl.meta.schema_ddl})"
            )
        if got[k] != declared[k]:
            raise TypeError(
                f"equality-delete key {k!r} has type "
                f"{got[k].simpleString()} but the table declares "
                f"{declared[k].simpleString()}; cast the key feed "
                "explicitly — an implicitly-cast sidecar can silently "
                "miss rows at read time"
            )
    return _commit_eq_delete(tbl, keys_df.select(*keys).distinct(), keys)


def _commit_eq_delete(
    tbl: IceTable, matching: DataFrame, keys: list[str]
) -> dict[str, int]:
    from iceberg_workshop_spark.icetbl.iceformat import stage_delete_file

    staged = stage_delete_file(matching, tbl.meta.location, "eqdel")
    # dseq is stamped from the base seen at PLAN time and deliberately
    # NOT re-stamped when `_mor_append_rebase` retries the commit onto
    # N concurrent append winners. After a rebase the delete's dseq can
    # therefore equal (collide with) winner #1's data sequence — that
    # is the intent: equality deletes apply only to STRICTLY older data
    # (see `morread.read_with_deletes`), so winner rows survive, giving
    # the serializable order delete-then-append. The resulting
    # invariant — an entry's dseq may be LESS than its committing
    # snapshot's own sequence number — is pinned by
    # tests/test_concurrency.py's concurrent MoR cases.
    dseq = int(tbl.meta.properties.get("last-sequence-number", "0")) + 1
    # an empty key set still commits (one snapshot per call), with no
    # delete file
    entries = [
        {
            "path": staged[0],
            "record_count": staged[1].num_rows,
            "keys": list(keys),
            "dseq": dseq,
        }
    ] if staged else []
    existing = _current_deletes(tbl)
    # Delta commit: the head's data AND delete manifests carry by
    # reference; only the new sidecar entries are written — the commit
    # never materializes the live file list (O(|keys|) at any table
    # size; the rebase hook derives the base path set lazily, only on
    # an actual conflict).
    tbl._commit_snapshot_delta(
        [],
        [],
        "delete-mor",
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl, tbl.meta, tbl.meta.current_snapshot_id, existing, [], entries
        ),
    )
    return {
        "delete_files_added": len(entries),
        "keys_deleted": sum(e["record_count"] for e in entries),
    }


IceTable.delete_where_mor = delete_where_mor
IceTable.delete_keys_mor = delete_keys_mor


def insert_overwrite(tbl: IceTable, df: DataFrame) -> dict[str, int]:
    """INSERT OVERWRITE with Iceberg's *dynamic* partition-overwrite
    semantics (the A8 partition-insert family,
    `sql/hive_partitioning_examples.sql:21-41`): only partitions
    present in the incoming data are replaced; every other partition's
    files carry into the new snapshot by identity. An unpartitioned
    table (empty current spec) is replaced whole.

    Replacement is by partition-tuple equality under the file's own
    spec, so files written under earlier specs (different keys) never
    match a current-spec incoming tuple and survive — consistent with
    the per-era read/prune machinery.

    At 100 TB: the commit rewrites exactly the touched partitions'
    worth of data and zero bytes of any other partition; the metadata
    swap is O(files), not O(rows).
    """
    spec_id = tbl.meta.current_spec_id
    spec = tbl.meta.specs[spec_id]
    current = tbl.meta.current_files()
    new_files = tbl._write_files(df, spec, spec_id)
    if not spec:
        # unpartitioned: replace whole — O(1) truncate of the parent's
        # manifests plus the new files
        tbl._commit_snapshot_delta(new_files, [], "overwrite", truncate=True)
        return {
            "files_total": len(current),
            "files_replaced": len(current),
            "files_added": len(new_files),
        }
    incoming = {
        tuple(sorted((f.get("partition") or {}).items())) for f in new_files
    }
    replaced = [
        f
        for f in current
        if tuple(sorted((f.get("partition") or {}).items())) in incoming
    ]
    tbl._commit_snapshot_delta(new_files, replaced, "overwrite")
    return {
        "files_total": len(current),
        "files_replaced": len(replaced),
        "files_added": len(new_files),
    }


IceTable.insert_overwrite = insert_overwrite


def _stage_pos_deletes(
    tbl: IceTable, positions: DataFrame, dseq: int | None = None
) -> list[dict]:
    """Stage a (file_path, pos) frame as one positional delete file,
    sorted by (file_path, pos) as Iceberg lays them out so readers can
    merge-apply, and return its manifest entries: none when the frame
    is empty (nothing is written then). ``dseq`` defaults to the next
    sequence number. Each entry records its TARGET data files
    (Iceberg keeps the same information in manifest stats): readers
    apply the (path, pos) anti-join only to the named files and scan
    every other file clean. Metadata-scale: one canonical path per
    touched file, read from the staged file, so the planning scan
    runs once."""
    from iceberg_workshop_spark.icetbl.iceformat import stage_delete_file

    # one task sorts the small frame: same single sorted file as a
    # global orderBy, without its range-sampling job
    staged = stage_delete_file(
        positions.repartition(1).sortWithinPartitions("file_path", "pos"),
        tbl.meta.location,
        "posdel",
    )
    if staged is None:
        return []
    path, content = staged
    uris = content.column("file_path").unique().to_pylist()
    if dseq is None:
        dseq = int(tbl.meta.properties.get("last-sequence-number", "0")) + 1
    return [
        {
            "path": path,
            "record_count": content.num_rows,
            "kind": "pos",
            "dseq": dseq,
            "target_paths": sorted({canon_path(u) for u in uris}),
        }
    ]


def delete_where_pos(tbl: IceTable, condition: str) -> dict[str, int]:
    """Merge-on-read DELETE via Iceberg v2 POSITIONAL delete files
    (`sql/update_iceberg_v2_examples.sql:1-18` is the v2 row-level-ops
    surface; `limitations.md:44-46` shows v2 interop): record
    (file_path, pos) pairs for the matching rows instead of either
    rewriting data files (CoW) or writing key tuples (equality MoR).
    This is the flavor real engines write for copy-on-read DELETEs
    over unsorted/non-key predicates — it needs no equality key set
    and composes with equality deletes on the same table.

    Readers anti-join on (file_path, row ordinal); because data-file
    paths are never reused, path+pos matching is sequence-safe by
    construction (a re-inserted row lives in a new file). The row
    ordinal comes from Spark's hidden ``_metadata.row_index``, which
    is the parquet row position — the exact field Iceberg's
    positional deletes record.

    At 100 TB: commit cost is O(|matching rows|) positions, not
    O(table); the read-time anti-join is keyed on (path, pos) so it
    co-partitions with the scan and AQE broadcasts small delete sets.
    """
    from pyspark.sql import functions as F

    files = tbl.meta.current_files()
    # Raw-file positions: rows already masked by existing deletes may
    # be re-recorded — a harmless idempotent no-op at read time, and
    # it keeps the planning read free of the delete anti-join.
    matching = (
        tbl._read_files(files, with_pos=True)
        .filter(condition)
        .select(
            F.col("__path").alias("file_path"),
            F.col("__pos").alias("pos"),
        )
    )
    entries = _stage_pos_deletes(tbl, matching)
    if not entries:  # nothing matched: no file, no commit
        return {"delete_files_added": 0, "positions_deleted": 0}
    existing = _current_deletes(tbl)
    tbl._commit_snapshot_delta(
        [],
        [],
        "delete-mor",
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl, tbl.meta, tbl.meta.current_snapshot_id, existing, [], entries
        ),
    )
    return {
        "delete_files_added": 1,
        "positions_deleted": entries[0]["record_count"],
    }


def _write_effects_mor(
    tbl: IceTable, effects: DataFrame, op: str, commit_empty: bool = True
) -> dict[str, int]:
    """The merge-on-read effect writer: ONE commit adds a positional
    delete file masking every (file, pos) ``effects`` names and data
    files holding its images and inserts (the rows not flagged
    ``__delete``). ``effects`` must be evaluated once (checkpointed),
    since both writes read it. ``commit_empty=False`` commits nothing
    when no position is staged."""
    positions = effects.filter(F.col("__path").isNotNull()).select(
        F.col("__path").alias("file_path"), F.col("__pos").alias("pos")
    )
    entries = _stage_pos_deletes(tbl, positions)
    if not entries and not commit_empty:
        return {"positions_deleted": 0, "files_added": 0}
    spec_id = tbl.meta.current_spec_id
    new_files = tbl._write_files(
        effects.filter(~F.col("__delete")).select(*tbl._column_names()),
        tbl.meta.specs[spec_id],
        spec_id,
    )
    existing = _current_deletes(tbl)
    tbl._commit_snapshot_delta(
        new_files,
        [],
        op,
        added_deletes=entries,
        rebase=_mor_append_rebase(
            tbl,
            tbl.meta,
            tbl.meta.current_snapshot_id,
            existing,
            new_files,
            entries,
        ),
    )
    return {
        "positions_deleted": sum(e["record_count"] for e in entries),
        "files_added": len(new_files),
    }


def update_where_mor(
    tbl: IceTable, condition: str, set_exprs: dict[str, str]
) -> dict[str, int]:
    """Merge-on-read UPDATE (Iceberg's ``write.update.mode =
    merge-on-read``): each matching row, read THROUGH the current
    delete set with its (file, pos), becomes an image for the
    merge-on-read effect writer — one positional delete masks the old
    rows and appended data files hold the new ones, in one commit. A
    row an earlier MoR delete masked is never resurrected, and nothing
    matched commits nothing.

    At 100 TB: the planning scan touches each file once with the
    (path, pos) metadata columns attached; read-time cost afterwards
    is the targeted (path, pos) anti-join plus the appended files —
    until a rewrite_position_deletes/rewrite_data_files pass
    materializes them.
    """
    images = (
        _rows_of(tbl, tbl.meta.current_files(), keep_pos=True)
        .filter(condition)
        .select(
            *[
                F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(c)
                for c in tbl._column_names()
            ],
            "__path",
            "__pos",
            F.lit(False).alias("__delete"),
        )
    )
    # lazy: the staging job evaluates the scan once and the image write
    # reads what it stored
    return _write_effects_mor(
        tbl, images.localCheckpoint(eager=False), "update-mor", commit_empty=False
    )


IceTable.delete_where_pos = delete_where_pos


def merge_into_mor(
    tbl: IceTable,
    source: DataFrame,
    on: list[str],
) -> dict[str, int]:
    """Merge-on-read MERGE (Iceberg's ``write.merge.mode =
    merge-on-read``): the same ``source`` as ``merge_into`` (an upsert
    source or an effect frame), written by the merge-on-read effect
    writer — matched target rows are masked by ONE positional delete
    file, and their images plus the inserts land as appended data
    files, in a single commit with no data-file rewrite. At 100 TB the
    commit cost is O(|matched| + |inserts|) rows.
    """
    effects, _ = _merge_effects(tbl, source, on)
    return _write_effects_mor(tbl, effects, "merge-mor")


IceTable.update_where_mor = update_where_mor
IceTable.merge_into_mor = merge_into_mor
