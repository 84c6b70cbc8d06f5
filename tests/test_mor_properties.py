"""Property test for merge-on-read delete semantics (BOTH v2
flavors): any interleaving of appends, MoR equality deletes,
positional deletes, CoW predicate deletes, delete materialization and
positional-delete compaction must keep `IceTable.read()` equal to a plain
Python reference model (dict of live rows). Catches sequence-number
bookkeeping mistakes (resurrection, over-deletion) that single-path
tests miss."""

from __future__ import annotations

import os
import random

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from tests.helpers import data_scans

OPS = ["append", "mor_delete", "pos_delete", "cow_delete", "materialize", "rewrite_pos"]
# Scripted histories run through the same generator. "three_seqs":
# files of three sequence numbers under a positional and an equality
# delete, then one more append (four sequence numbers).
SCRIPTS = {
    "three_seqs": ["append", "append", "append", "pos_delete", "mor_delete", "append"],
}


def _model_rows(model: dict[int, int]) -> set[tuple[int, int]]:
    return set(model.items())


def _table_rows(t: IceTable) -> set[tuple[int, int]]:
    return {(r["k"], r["v"]) for r in t.read().collect()}


def _check_scans(t: IceTable) -> bool:
    """When the live files carry three or more sequence numbers under
    both delete flavors, the read opens at most two data-file scans
    (one per targeting group, never one per sequence number). Returns
    whether the case applied."""
    files = t.meta.current_files()
    kinds = {d.get("kind", "eq") for d in t.meta.current_deletes()}
    if len({f["seq"] for f in files}) < 3 or kinds != {"pos", "eq"}:
        return False
    paths = {os.path.abspath(f["path"]) for f in files}
    assert data_scans(t.read(), paths) <= 2
    return True


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, "three_seqs"])
def test_random_op_sequences_match_reference(spark, tmp_path, seed):
    rng = random.Random(seed)
    script = SCRIPTS.get(seed)
    t = IceTable.create(spark, str(tmp_path / f"mor{seed}"), "k bigint, v bigint")
    model: dict[int, int] = {}
    next_v = 0
    checked = False

    for step in range(len(script) if script else 8):
        op = script[step] if script else rng.choice(OPS)
        if op == "append" or not model:
            # append is INSERT, not upsert — only non-live keys, so the
            # model stays a map. Re-inserting a DELETED key is exactly
            # the case the sequence rule must get right.
            free = [k for k in range(20) if k not in model]
            if not free:
                continue
            keys = rng.sample(free, min(len(free), rng.randint(1, 5)))
            rows = []
            for k in keys:
                next_v += 1
                model[k] = next_v
                rows.append((k, next_v))
            t.append(
                spark.createDataFrame(rows, schema="k bigint, v bigint")
            )
        elif op == "mor_delete":
            victims = rng.sample(sorted(model), min(len(model), rng.randint(1, 4)))
            cond = "k IN (" + ", ".join(str(k) for k in victims) + ")"
            t.delete_where_mor(cond, keys=["k"])
            for k in victims:
                del model[k]
        elif op == "cow_delete":
            cut = rng.randint(0, 19)
            t.delete_where(f"k >= {cut}")
            for k in [k for k in model if k >= cut]:
                del model[k]
        elif op == "pos_delete":
            # positional (file_path, pos) delete — the OTHER v2 MoR
            # flavor; mixing it with equality deletes in one history is
            # the interop case real engines hit
            victims = rng.sample(sorted(model), min(len(model), rng.randint(1, 4)))
            cond = "k IN (" + ", ".join(str(k) for k in victims) + ")"
            t.delete_where_pos(cond)
            for k in victims:
                del model[k]
        elif op == "rewrite_pos":
            t.rewrite_position_deletes()
        else:
            t.rewrite_equality_deletes()
        assert _table_rows(t) == _model_rows(model), (
            f"seed={seed} step={step} op={op}"
        )
        checked |= _check_scans(t)
    assert checked or not script


def test_positional_delete_call_through_frontend(spark, tmp_path):
    # CALL system.rewrite_position_delete_files through IceSqlSession:
    # compacts two pos-delete files into one, drops dangling entries,
    # answer unchanged.
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    t = IceTable.create(spark, str(tmp_path / "poscall"), "k bigint, v bigint")
    t.append(spark.createDataFrame([(i, i) for i in range(30)], "k bigint, v bigint"))
    t.delete_where_pos("k < 5")
    t.delete_where_pos("k >= 25")
    assert t.read().count() == 20
    s = IceSqlSession(spark)
    s.register_table("db.p", t)
    out = s.sql("CALL cat.system.rewrite_position_delete_files('db.p')").collect()[0]
    assert out["rewritten_delete_files_count"] == 2
    assert out["added_delete_files_count"] == 1
    assert t.read().count() == 20
    # only one pos-delete entry remains on the head snapshot
    dels = t.meta.delete_entries(t.meta.snapshot(t.meta.current_snapshot_id))
    assert [d.get("kind") for d in dels] == ["pos"]


def test_positional_delete_survives_changelog(spark, tmp_path):
    # changelog across a pos-delete boundary: the masked rows of an
    # UNCHANGED file must surface as deletes (pos-delete reach).
    t = IceTable.create(spark, str(tmp_path / "poscl"), "k bigint, v bigint")
    t.append(spark.createDataFrame([(i, i * 10) for i in range(10)], "k bigint, v bigint"))
    s1 = t.meta.current_snapshot_id
    t.delete_where_pos("k IN (3, 7)")
    ch = t.changelog(from_snapshot_id=s1).collect()
    assert {(r["k"], r["_change_type"]) for r in ch} == {
        (3, "delete"),
        (7, "delete"),
    }


def test_positional_deletes_do_not_leak_into_branches(spark, tmp_path):
    # A branch append carries the BRANCH PARENT's delete files; a pos
    # delete committed on main afterwards must not mask branch reads
    # (same isolation the equality flavor already guarantees).
    t = IceTable.create(spark, str(tmp_path / "posbr"), "k bigint, v bigint")
    t.append(spark.createDataFrame([(i, i) for i in range(10)], "k bigint, v bigint"))
    t.create_branch("audit")
    t.delete_where_pos("k < 4")          # main only
    assert t.read().count() == 6
    t.append(
        spark.createDataFrame([(100, 100)], "k bigint, v bigint"),
        branch="audit",
    )
    # branch head: all 10 original rows + the branch append
    assert t.read(ref="audit").count() == 11
    # main unchanged by the branch write
    assert t.read().count() == 6


def test_ice_stream_flags_positional_delete_as_non_append(spark, tmp_path):
    # The snapshot-tailing stream source must refuse (or skip) a
    # positional-delete commit exactly like an equality one: rows in
    # already-emitted files changed visibility.
    import pytest

    from iceberg_workshop_spark.sources.pysource import _IceStreamReader

    t = IceTable.create(spark, str(tmp_path / "posstream"), "k bigint, v bigint")
    t.append(spark.createDataFrame([(i, i) for i in range(8)], "k bigint, v bigint"))
    s1 = t.meta.current_snapshot_id
    t.delete_where_pos("k = 3")
    s2 = t.meta.current_snapshot_id
    reader = _IceStreamReader({"location": t.meta.location})
    with pytest.raises(ValueError, match="non-append"):
        reader.partitions({"sid": s1}, {"sid": s2})
    skipper = _IceStreamReader(
        {"location": t.meta.location, "skip_non_append": "true"}
    )
    assert skipper.partitions({"sid": s1}, {"sid": s2}) == []


def test_update_mor_does_not_resurrect_deleted_rows(spark, tmp_path):
    """MoR UPDATE reads through the existing delete set: a row masked
    by an earlier MoR delete must not reappear via the update's insert
    side, even when it matches the update predicate."""
    from pyspark.sql import functions as F

    t = IceTable.create_as(
        spark,
        str(tmp_path / "umor"),
        spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    t.delete_where_pos("k < 5")            # rows 0-4 masked
    stats = t.update_where_mor("k < 10", {"v": "v + 1"})
    assert stats["positions_deleted"] == 5  # only live rows 5-9
    rows = {r.k: r.v for r in t.read().collect()}
    assert set(rows) == set(range(5, 20))   # 0-4 stay gone
    assert all(rows[k] == k * 10 + 1 for k in range(5, 10))
    assert all(rows[k] == k * 10 for k in range(10, 20))
    # compaction materializes both delete generations; answers fixed
    t.rewrite_position_deletes()
    rows2 = {r.k: r.v for r in t.read().collect()}
    assert rows2 == rows


def test_update_mor_noop_when_nothing_matches(spark, tmp_path):
    from pyspark.sql import functions as F

    t = IceTable.create_as(
        spark,
        str(tmp_path / "umor2"),
        spark.range(0, 5).select(F.col("id").alias("k")),
    )
    v_before = t.meta.version
    stats = t.update_where_mor("k > 100", {"k": "k + 1"})
    assert stats == {"positions_deleted": 0, "files_added": 0}
    assert t.meta.version == v_before  # no empty commit


def test_mor_no_match_leaves_nothing_behind(spark, tmp_path):
    """A merge-on-read write that matches no row writes no sidecar or
    data file and commits no snapshot; a MERGE whose source matches no
    target row commits its inserts and leaves no orphan behind."""
    import os

    from pyspark.sql import functions as F

    loc = str(tmp_path / "nomatch")
    t = IceTable.create_as(
        spark, loc,
        spark.range(0, 5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )

    def on_disk():
        return sorted(
            os.path.join(root, n)
            for root, _dirs, names in os.walk(loc)
            for n in names
        )

    for call in (
        lambda: t.update_where_mor("k > 100", {"v": "v + 1"}),
        lambda: t.delete_where_pos("k > 100"),
    ):
        files, snaps = on_disk(), len(IceTable.load(spark, loc).meta.snapshots)
        call()
        assert on_disk() == files
        assert len(IceTable.load(spark, loc).meta.snapshots) == snaps

    t.merge_into_mor(
        spark.createDataFrame([(50, 500)], "k bigint, v bigint"), on=["k"]
    )
    assert t.orphan_file_report()["files_orphaned"] == 0
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (k, 10 * k) for k in range(5)
    } | {(50, 500)}


def test_merge_mor_effect_protocol_and_front_end_routing(spark, tmp_path):
    """MoR MERGE honors the __delete effect column (masked, not
    re-inserted) and the front-end routes by write.merge.mode."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession
    from pyspark.sql import functions as F

    t = IceTable.create_as(
        spark,
        str(tmp_path / "mmor"),
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"
        ),
    )
    before = {f["path"] for f in t.meta.current_files()}
    s = IceSqlSession(spark)
    s.register_table("db.m", t)
    s.sql(
        "ALTER TABLE db.m SET TBLPROPERTIES"
        " ('write.merge.mode' = 'merge-on-read')"
    )
    spark.createDataFrame(
        [(1, "UPD"), (3, "DEL"), (20, "NEW")], "k int, v string"
    ).createOrReplaceTempView("mmor_src")
    s.sql(
        """MERGE INTO db.m AS t USING mmor_src AS s ON t.k = s.k
           WHEN MATCHED AND s.v = 'DEL' THEN DELETE
           WHEN MATCHED THEN UPDATE SET v = s.v
           WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)"""
    )
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    assert before <= {f["path"] for f in t.meta.files(head)}
    assert any(d.get("kind") == "pos" for d in t.meta.delete_entries(head))
    rows = {r.k: r.v for r in t.read().collect()}
    expect = {i: f"v{i}" for i in range(10)}
    expect[1] = "UPD"
    del expect[3]
    expect[20] = "NEW"
    assert rows == expect


def test_expire_and_orphan_cleanup_keep_mor_update_sidecars(spark, tmp_path):
    """Snapshot expiry and orphan cleanup must treat the positional
    delete sidecars written by MoR UPDATE/MERGE as referenced — a
    sweep that removed one would resurrect the masked rows."""
    from pyspark.sql import functions as F

    t = IceTable.create_as(
        spark,
        str(tmp_path / "expmor"),
        spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    t.update_where_mor("k < 5", {"v": "v + 1"})
    t.append(spark.createDataFrame([(100, 1000)], "k long, v long"))
    t.expire_snapshots(older_than_ms=2**62, retain_last=1)
    t.remove_orphan_files(older_than_ms=-1)
    rows = {r.k: r.v for r in t.read().collect()}
    expect = {k: k * 10 + (1 if k < 5 else 0) for k in range(20)}
    expect[100] = 1000
    assert rows == expect


def test_mor_mixed_equality_key_sets_rejected(spark, tmp_path):
    """Round-9 hardening: the reader resolves equality-delete key
    columns from a single entry, so a table must never accumulate
    delete files with DIFFERENT key sets — the second delete_where_mor
    with new keys must fail loudly (not silently misapply), and after
    materializing the old deletes the new key set is accepted."""
    import pytest as _pytest

    t = IceTable.create(spark, str(tmp_path / "mixkeys"), "k bigint, v bigint")
    t.append(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k bigint, v bigint"))
    t.delete_where_mor("k = 1", keys=["k"])
    with _pytest.raises(ValueError, match="key set mismatch"):
        t.delete_where_mor("v = 20", keys=["v"])
    # state unchanged by the failed call
    assert _table_rows(t) == {(2, 20), (3, 30)}
    # materialize, then the new key set is legal
    t.rewrite_equality_deletes()
    t.delete_where_mor("v = 20", keys=["v"])
    assert _table_rows(t) == {(3, 30)}


def test_mor_delete_reinsert_delete_stacked_dseq(spark, tmp_path):
    """Sequence-rule edge: delete key k (dseq d1), re-insert k (seq >
    d1), delete k again (dseq d2 > seq). The middle insert must be
    visible between the deletes and gone after the second — two
    stacked delete files for the SAME key with different dseq values
    must each confine themselves to their own past."""
    t = IceTable.create(spark, str(tmp_path / "stacked"), "k bigint, v bigint")
    t.append(spark.createDataFrame([(7, 1), (8, 1)], "k bigint, v bigint"))
    t.delete_where_mor("k = 7", keys=["k"])
    assert _table_rows(t) == {(8, 1)}
    t.append(spark.createDataFrame([(7, 2)], "k bigint, v bigint"))
    assert _table_rows(t) == {(7, 2), (8, 1)}, "re-insert must survive older delete"
    t.delete_where_mor("k = 7", keys=["k"])
    assert _table_rows(t) == {(8, 1)}
    # and time travel still sees each intermediate state
    snaps = [s["snapshot_id"] for s in t.meta.snapshots]
    mid = {(r["k"], r["v"]) for r in t.read(snapshot_id=snaps[-2]).collect()}
    assert mid == {(7, 2), (8, 1)}


def test_eq_delete_null_key_tombstone(spark, tmp_path):
    """Iceberg equality-delete semantics treat null as equal to null:
    a delete row with a NULL key must delete NULL-keyed data rows
    (round-11 fix — plain `=` matching made such tombstones silent
    no-ops), while the sequence rule still protects a NULL row
    re-inserted after the delete."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "nullkey"),
        spark.createDataFrame(
            [(1, "a"), (None, "b"), (3, "c")], "k int, v string"
        ),
    )
    t.delete_keys_mor(spark.createDataFrame([(None,), (3,)], "k int"), ["k"])
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, "a")}
    t.append(spark.createDataFrame([(None, "b2")], "k int, v string"))
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {
        (1, "a"),
        (None, "b2"),
    }, "NULL row re-inserted after the delete must survive"


def test_eq_delete_duplicate_keys_in_one_batch(spark, tmp_path):
    """Duplicate key tuples in one delete feed are deduped at write
    time: one sidecar, keys_deleted counts DISTINCT keys, and the
    delete applies exactly once."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "dup"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    out = t.delete_keys_mor(
        spark.createDataFrame([(1,), (1,), (1,)], "k int"), ["k"]
    )
    assert out == {"delete_files_added": 1, "keys_deleted": 1}
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(2, "b")}


def test_eq_delete_survives_column_rename(spark, tmp_path):
    """Delete-key schema drift across eras (round-11 fix): a RENAME
    COLUMN with outstanding equality deletes used to break every read
    with UNRESOLVED_COLUMN. The sidecar's write-time key names now
    translate through the rename log (Iceberg's field-id semantics:
    deletes follow renames), and a post-rename delete under the NEW
    name composes with the old sidecar."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "ren"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    t.delete_keys_mor(spark.createDataFrame([(1,)], "k int"), ["k"])
    t.rename_column("k", "kk")
    assert {(r["kk"], r["v"]) for r in t.read().collect()} == {(2, "b")}
    t.delete_keys_mor(spark.createDataFrame([(2,)], "kk int"), ["kk"])
    assert t.read().count() == 0
    # the key-set guard also compares TRANSLATED names: 'kk' is the
    # same key set as the pre-rename 'k' sidecar, so no mismatch above;
    # a genuinely different column still trips it
    t.append(spark.createDataFrame([(9, "z")], "kk int, v string"))
    with pytest.raises(ValueError, match="key set mismatch"):
        t.delete_keys_mor(spark.createDataFrame([("z",)], "v string"), ["v"])


def test_eq_delete_key_type_validated_at_write(spark, tmp_path):
    """A mistyped key feed (string keys against an int column) fails
    loudly at write time instead of committing a sidecar whose
    read-time anti-join silently misses rows."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "typed"),
        spark.createDataFrame([(1, "a")], "k int, v string"),
    )
    with pytest.raises(TypeError, match="cast the key feed"):
        t.delete_keys_mor(spark.createDataFrame([("1",)], "k string"), ["k"])
    with pytest.raises(ValueError, match="not a column"):
        t.delete_keys_mor(spark.createDataFrame([(1,)], "zz int"), ["zz"])
    # table untouched by the failed calls
    assert t.read().count() == 1


def test_eq_delete_applies_across_type_widening(spark, tmp_path):
    """An int-era equality-delete sidecar still applies after the key
    column widens to bigint (the comparison coerces; widening is
    metadata-only so the sidecar bytes never change)."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "widen"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    t.delete_keys_mor(spark.createDataFrame([(1,)], "k int"), ["k"])
    t.update_column_type("k", "bigint")
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(2, "b")}
