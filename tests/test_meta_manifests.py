"""Manifest-sharded metadata: commits write O(changed files).

Pure-metadata tests (no Spark): drive TableMeta/commit directly with
synthetic file entries, asserting the properties the sharding exists
for — constant v<N>.json size under appends, parent-manifest reuse,
exact entry round-trips and count-only metadata reads. Snapshots are
committed through the real ``IceTable._commit_snapshot_delta``.
"""

import json
import os

import iceberg_workshop_spark.icetbl.meta as M
from iceberg_workshop_spark.icetbl.table import IceTable


def _entry(i: int, seq: int = 1) -> dict:
    return {
        "path": f"/data/f{i:06d}.parquet",
        "record_count": 10,
        "file_size": 1000 + i,
        "partition": {},
        "spec_id": 0,
        "bounds": {"a": [i, i + 9]},
        "seq": seq,
        "first_snapshot_id": 1,
    }


class _Shim:
    """Stand-in for IceTable in ``_commit_snapshot_delta`` (it only
    touches ``self.meta`` plus these helpers): the real commit path
    without a SparkSession."""

    _partition_manifests = IceTable._partition_manifests
    _commit_snapshot_delta = IceTable._commit_snapshot_delta
    _commit_meta = IceTable._commit_meta
    _refresh_meta = IceTable._refresh_meta
    _committer = staticmethod(M.commit)
    _refresher = None


def _commit_via_table(
    meta: M.TableMeta,
    added: list[dict],
    op: str = "append",
    removed: list[dict] = (),
    **delta,
) -> M.TableMeta:
    """Commit ``added``/``removed`` (plus any delta keywords) on
    ``meta``'s head; ``removed`` entries come from ``meta`` itself."""
    shim = _Shim()
    shim.meta = meta
    shim._commit_snapshot_delta(added, list(removed), op, **delta)
    return shim.meta


def _append_snapshot(meta: M.TableMeta, new_entries: list[dict]) -> M.TableMeta:
    return _commit_via_table(meta, new_entries)


def _mk(tmp_path) -> M.TableMeta:
    loc = str(tmp_path / "tbl")
    os.makedirs(loc)
    meta = M.TableMeta.empty(loc, "a int", [])
    return M.commit(meta)


def test_commit_size_constant_under_appends(tmp_path):
    """The O(changed-files) certificate: after a big initial load, each
    single-file append writes a v<N>.json whose size does NOT grow with
    live file count, plus exactly one tiny new manifest."""
    meta = _mk(tmp_path)
    meta = _append_snapshot(meta, [_entry(i) for i in range(3000)])
    sizes, new_manifests = [], []
    mdir = os.path.join(meta.location, M.METADATA_DIR)
    for k in range(3):
        before = {n for n in os.listdir(mdir) if n.startswith(M.MANIFEST_PREFIX)}
        meta = _append_snapshot(meta, [_entry(10000 + k)])
        after = {n for n in os.listdir(mdir) if n.startswith(M.MANIFEST_PREFIX)}
        new_manifests.append(len(after - before))
        sizes.append(os.path.getsize(M.metadata_path(meta.location, meta.version)))
    # one new manifest per append (the 1-file delta), parents reused
    assert new_manifests == [1, 1, 1]
    # vN.json grows only by the per-snapshot descriptor line, never by
    # the live file count: three appends over a 3000-file table stay
    # within a few hundred bytes of each other
    assert max(sizes) - min(sizes) < 1000
    # and the doc itself is far smaller than the inlined-entry format
    # (3000 entries would be ~400 KB)
    assert max(sizes) < 20_000
    # the full list still materializes exactly once reloaded
    fresh = M.read_current(meta.location)
    assert len(fresh.current_files()) == 3003


def test_manifest_round_trip_and_descriptor_schema(tmp_path):
    meta = _mk(tmp_path)
    entries = [_entry(i) for i in range(10)]
    meta = _append_snapshot(meta, entries)
    fresh = M.read_current(meta.location)
    snap = fresh.snapshot(fresh.current_snapshot_id)
    # serialized doc carries ONE manifest-list path per snapshot —
    # neither entries nor descriptor rows (Iceberg's three-level
    # topology: v<N>.json -> manifest list -> manifests)
    raw = json.load(open(M.metadata_path(meta.location, meta.version)))
    rsnap = [s for s in raw["snapshots"] if s["snapshot_id"] == snap["snapshot_id"]][0]
    assert "files" not in rsnap and "delete_files" not in rsnap
    assert "manifests" not in rsnap and "delete_manifests" not in rsnap
    ml = rsnap["manifest_list"]
    assert os.path.exists(os.path.join(meta.location, ml))
    lists = json.load(open(os.path.join(meta.location, ml)))
    assert set(lists) == {"manifests", "delete_manifests"}
    for m in lists["manifests"]:
        assert set(m) == {"path", "n", "records"}
        assert os.path.exists(os.path.join(meta.location, m["path"]))
    # counts come from descriptors without materializing entries
    assert fresh.file_counts(snap) == (10, 100)
    assert "files" not in snap  # file_counts alone must not materialize
    # entries round-trip exactly
    assert fresh.files(snap) == entries


def test_parent_manifest_reuse_after_reload(tmp_path):
    """Reuse must survive a process restart: entries loaded from JSON
    compare equal to the carried in-memory dicts."""
    meta = _mk(tmp_path)
    meta = _append_snapshot(meta, [_entry(i) for i in range(100)])
    fresh = M.read_current(meta.location)
    head = fresh.snapshot(fresh.current_snapshot_id)
    first_manifests = [m["path"] for m in fresh.manifests_of(head)]
    fresh = _append_snapshot(fresh, [_entry(500)])
    head2 = fresh.snapshot(fresh.current_snapshot_id)
    reused = [m["path"] for m in fresh.manifests_of(head2)]
    assert set(first_manifests) <= set(reused)
    assert len(reused) == len(first_manifests) + 1


def test_delete_manifests_round_trip(tmp_path):
    meta = _mk(tmp_path)
    meta = _append_snapshot(meta, [_entry(0)])
    dels = [{"path": "/data/del-0.json", "kind": "eq", "keys": ["a"], "dseq": 2}]
    meta = _commit_via_table(meta, [], "delete", added_deletes=dels)
    fresh = M.read_current(meta.location)
    head = fresh.snapshot(fresh.current_snapshot_id)
    assert fresh.delete_entries(head) == dels
    # delete manifests are separate sidecars with their own descriptors
    assert head["delete_manifests"] and head["delete_manifests"][0]["n"] == 1


def test_sharding_respects_target_entries(tmp_path):
    meta = _mk(tmp_path)
    n = M.MANIFEST_TARGET_ENTRIES + 7
    meta = _append_snapshot(meta, [_entry(i) for i in range(n)])
    head = meta.snapshot(meta.current_snapshot_id)
    assert [m["n"] for m in head["manifests"]] == [M.MANIFEST_TARGET_ENTRIES, 7]
    fresh = M.read_current(meta.location)
    assert len(fresh.current_files()) == n


def _mf_names(loc: str) -> set[str]:
    mdir = os.path.join(loc, M.METADATA_DIR)
    return {n for n in os.listdir(mdir) if n.startswith(M.MANIFEST_PREFIX)}


def test_expire_gcs_exclusive_manifests(spark, tmp_path):
    """Expiring snapshots deletes manifests only they referenced;
    manifests reused by surviving snapshots stay readable."""
    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(spark, loc, spark.createDataFrame([(1,)], "a int"))
    t.insert_values([(2,)])
    t.insert_values([(3,)])
    before = _mf_names(loc)
    assert len(before) >= 3  # one delta manifest per commit
    n_head = len(t.meta.current_files())
    t.expire_snapshots(older_than_ms=M.now_ms() + 1)
    after = _mf_names(loc)
    # the head's reused chain survives; nothing the head needs is gone
    fresh = M.read_current(loc)
    assert len(fresh.current_files()) == n_head
    assert t.read().count() == 3
    # expired-only manifests are deleted (delete_manifests of dropped
    # snapshots were empty shards here, so only data manifests counted)
    assert after <= before


def test_pinned_read_of_expired_snapshot_raises_by_name(spark, tmp_path):
    """A retained v<N>.json whose snapshot's manifests were GC'd by
    expire_snapshots fails materialization with SnapshotExpired (a
    FileNotFoundError subclass), not a bare missing-file error."""
    import pytest

    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(
        spark, loc, spark.createDataFrame([(1,), (2,)], "a int")
    )
    pinned_version = t.meta.version
    t.truncate()  # rewrites the file set: the old manifest becomes
    t.insert_values([(9,)])  # exclusive to the dropped snapshots
    t.expire_snapshots(older_than_ms=M.now_ms() + 1)
    assert os.path.exists(M.metadata_path(loc, pinned_version)), (
        "metadata retention should keep the pinned doc for this test"
    )
    pinned = M.read_version(loc, pinned_version)
    with pytest.raises(M.SnapshotExpired, match="expire"):
        pinned.current_files()


def test_rewrite_manifests_consolidates_head(spark, tmp_path):
    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(spark, loc, spark.createDataFrame([(1,)], "a int"))
    for i in range(4):
        t.insert_values([(10 + i,)])
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    n_head = len(t.meta.current_files())
    assert len(head["manifests"]) == 5  # one per append
    stats = t.rewrite_manifests()
    assert stats["head_manifests_before"] == 5
    assert stats["head_manifests_after"] == 1
    fresh = M.read_current(loc)
    assert len(fresh.current_files()) == n_head
    assert t.read().count() == 5
    # subsequent appends reuse the consolidated shard
    t.insert_values([(99,)])
    head2 = t.meta.snapshot(t.meta.current_snapshot_id)
    assert len(head2["manifests"]) == 2


def test_orphan_sweep_removes_unreferenced_manifests(spark, tmp_path):
    """After consolidation + metadata GC drops every doc referencing
    the fragmented manifests, remove_orphan_files sweeps them."""
    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(spark, loc, spark.createDataFrame([(1,)], "a int"))
    for i in range(3):
        t.insert_values([(10 + i,)])
    t.rewrite_manifests()
    # retain only the newest metadata version so pre-consolidation
    # docs (which reference the fragmented manifests) are GC'd
    t.set_properties(
        {
            M.PROP_PREV_VERSIONS_MAX: "0",
            M.PROP_DELETE_AFTER_COMMIT: "true",
        }
    )
    t.insert_values([(99,)])
    n_before = len(_mf_names(loc))
    n_head = len(t.meta.current_files())
    rep = t.remove_orphan_files(older_than_ms=M.now_ms() + 1000)
    assert rep["orphans_removed"] >= 1
    assert len(_mf_names(loc)) < n_before
    # everything the live doc needs is intact
    assert t.read().count() == 5
    fresh = M.read_current(loc)
    assert len(fresh.current_files()) == n_head


def test_file_counts_fallback_without_n(tmp_path):
    """Descriptor missing 'n' (foreign writer): fall back to loading
    the manifest instead of raising."""
    meta = _mk(tmp_path)
    meta = _append_snapshot(meta, [_entry(i) for i in range(4)])
    fresh = M.read_current(meta.location)
    head = fresh.snapshot(fresh.current_snapshot_id)
    for m in fresh.manifests_of(head):
        del m["n"]
    assert fresh.file_counts(head)[0] == 4


def _fresh_entry(i: int) -> dict:
    """An entry as _write_files emits it: no seq / first_snapshot_id
    yet — the commit stamps both."""
    return {k: v for k, v in _entry(i).items() if k not in ("seq", "first_snapshot_id")}


def test_summary_identity_fast_path(tmp_path):
    """The persisted summary counts the delta, not the live set, also
    across a fresh metadata read (manifest-loaded entry objects)."""
    meta = _mk(tmp_path)
    meta = _commit_via_table(meta, [_fresh_entry(i) for i in range(5)])
    meta = M.read_current(meta.location)
    meta = _commit_via_table(meta, [_fresh_entry(99)])
    head = meta.snapshot(meta.current_snapshot_id)
    assert head["summary"]["added_data_files"] == 1
    assert head["summary"]["removed_data_files"] == 0
    gone = meta.current_files()[0]
    meta = _commit_via_table(meta, [], "delete", removed=[gone])
    head = meta.snapshot(meta.current_snapshot_id)
    assert head["summary"]["added_data_files"] == 0
    assert head["summary"]["removed_data_files"] == 1
    assert gone["path"] not in {f["path"] for f in meta.current_files()}


def test_commit_hands_manifest_cache_forward(tmp_path):
    """commit() must hand the loaded-manifest cache to the successor
    TableMeta (manifests are immutable) so the next commit's reuse
    check never re-parses sidecars."""
    meta = _mk(tmp_path)
    meta = _append_snapshot(meta, [_entry(i) for i in range(4)])
    assert meta._mf_cache  # the shards it just wrote are cached
    cached = set(meta._mf_cache)
    meta2 = _append_snapshot(meta, [_entry(10)])
    assert cached <= set(meta2._mf_cache)


def test_manifest_list_files_gcd_with_their_snapshots(spark, tmp_path):
    """Every snapshot persists ONE ml-*.json manifest list; expiring a
    snapshot deletes its list file with it (lists are per-snapshot,
    never shared), while surviving snapshots' lists stay readable."""
    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(spark, loc, spark.createDataFrame([(1,)], "a int"))
    t.insert_values([(2,)])
    t.insert_values([(3,)])

    def mls() -> set[str]:
        mdir = os.path.join(loc, M.METADATA_DIR)
        return {
            n
            for n in os.listdir(mdir)
            if n.startswith(M.MANIFEST_LIST_PREFIX)
        }

    before = mls()
    assert len(before) >= 3  # one list per committed snapshot
    t.expire_snapshots(older_than_ms=M.now_ms() + 1, retain_last=1)
    after = mls()
    assert len(after) < len(before), "dropped snapshots' lists must die"
    # the survivor still materializes through its list
    fresh = M.read_current(loc)
    assert fresh.current_files() and t.read().count() == 3


def test_vjson_stays_flat_as_manifests_accumulate(tmp_path):
    """The three-level topology's payoff: v<N>.json size depends on
    RETAINED SNAPSHOT count only — growing the manifest count per
    snapshot (many small appends, each adding a manifest) must not
    grow the per-snapshot footprint in the version document."""
    meta = _mk(tmp_path)
    meta = _append_snapshot(meta, [_entry(0)])
    few = os.path.getsize(M.metadata_path(meta.location, meta.version))
    # 30 more manifests accumulate on the head chain
    for i in range(1, 31):
        meta = _append_snapshot(meta, [_entry(i)])
    head = meta.snapshot(meta.current_snapshot_id)
    assert len(meta.manifests_of(head)) == 31
    # keep only the head snapshot (and its log entry) in a fresh doc to
    # compare like for like (same snapshot count, 31x the manifests)
    meta.doc["snapshots"] = [head]
    meta.doc["history_log"] = meta.doc["history_log"][-1:]
    meta = M.commit(meta)
    one_snap_many_mfs = os.path.getsize(
        M.metadata_path(meta.location, meta.version)
    )
    assert one_snap_many_mfs < few + 1000, (
        "v<N>.json must not grow with manifest count",
        few,
        one_snap_many_mfs,
    )


def test_pinned_read_fails_loudly_on_expired_manifest_list(spark, tmp_path):
    """With the three-level topology the first thing a pinned read of
    an expired snapshot hits is its GC'd manifest LIST — that path
    must raise SnapshotExpired by name too, not a bare file error."""
    import pytest

    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(
        spark, loc, spark.createDataFrame([(1,), (2,)], "a int")
    )
    pinned_version = t.meta.version
    old_head = t.meta.snapshot(t.meta.current_snapshot_id)
    old_ml = old_head["manifest_list"]
    t.truncate()
    t.insert_values([(9,)])
    t.expire_snapshots(older_than_ms=M.now_ms() + 1)
    assert not os.path.exists(os.path.join(loc, old_ml)), (
        "the dropped snapshot's manifest list must be GC'd"
    )
    pinned = M.read_version(loc, pinned_version)
    with pytest.raises(M.SnapshotExpired, match="manifest list"):
        pinned.current_files()


def test_remove_orphans_respects_files_committed_after_handle_load(
    spark, tmp_path
):
    """remove_orphan_files derives its reference set from the retained
    ON-DISK version docs, never the calling handle's in-memory meta: a
    stale handle must not delete files other writers committed after
    it loaded (round-11 review — this was current-table data loss)."""
    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t1 = IceTable.create_as(
        spark, loc, spark.createDataFrame([(1,)], "a int")
    )
    stale = IceTable.load(spark, loc)  # pinned at v-now
    t1.insert_values([(2,)])           # another writer advances
    rep = stale.remove_orphan_files(older_than_ms=M.now_ms() + 1000)
    assert rep["orphans_removed"] == 0
    assert {r.a for r in IceTable.load(spark, loc).read().collect()} == {1, 2}


def test_rewrite_manifests_consolidates_delete_manifests(spark, tmp_path):
    """Per-commit MoR deletes fragment the delete-manifest list the
    same way appends fragment the data side; rewrite_manifests now
    compacts both."""
    from iceberg_workshop_spark.icetbl.table import IceTable

    loc = str(tmp_path / "t")
    t = IceTable.create_as(
        spark,
        loc,
        spark.createDataFrame([(i, i) for i in range(8)], "k int, v int"),
    )
    for i in range(4):
        t.delete_keys_mor(
            spark.createDataFrame([(i,)], "k int"), ["k"]
        )
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    assert len(t.meta.manifests_of(head, "delete_manifests")) == 4
    t.rewrite_manifests()
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    assert len(t.meta.manifests_of(head, "delete_manifests")) == 1
    # semantics unchanged: the four deletes still apply
    assert {r.k for r in t.read().collect()} == {4, 5, 6, 7}
    fresh = M.read_current(loc)
    assert len(
        fresh.manifests_of(
            fresh.snapshot(fresh.current_snapshot_id), "delete_manifests"
        )
    ) == 1
