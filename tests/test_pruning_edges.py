"""Round-11 review regressions: pruning soundness edges and AS-OF
snapshot-log semantics.

Every pruning case here is a SOUNDNESS pin — over-pruning silently
drops matching rows (the re-applied Spark filter cannot resurrect a
pruned file), so each scenario asserts the row comes back through
``scan()`` with the predicate that used to prune it."""

from __future__ import annotations

from datetime import date, datetime

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from iceberg_workshop_spark.icetbl.pruning import Pred


def _spec(source, transform, name):
    return [{"source": source, "transform": transform, "name": name}]


def test_bool_identity_partition_prunes_lowercase_dirs(spark, tmp_path):
    """Spark writes 'true'/'false' partition dirs; the pruner's
    Python-str 'True' used to compare above them and prune every
    matching file."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "b"),
        spark.createDataFrame([(True, 1), (False, 2)], "flag boolean, v int"),
        partition_spec=_spec("flag", "identity", "flag"),
    )
    got = {(r.flag, r.v) for r in t.scan([Pred("flag", "=", True)]).collect()}
    assert got == {(True, 1)}
    assert t.last_scan_report["files_scanned"] >= 1


def test_truncate_on_string_column_with_isoish_values(spark, tmp_path):
    """truncate[w] on a STRING column whose values look ISO-ish must
    not round-trip the literal through datetime (str(datetime) is
    space-separated; the dir is a raw substring — the mismatch
    over-pruned)."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "s"),
        spark.createDataFrame(
            [("2024-01-15T10:30:00", 1), ("2025-03-02T08:00:00", 2)],
            "s string, v int",
        ),
        partition_spec=_spec("s", "truncate[13]", "s_w"),
    )
    got = {r.v for r in t.scan([Pred("s", "=", "2024-01-15T10:30:00")]).collect()}
    assert got == {1}


def test_identity_timestamp_subsecond_bound_keeps_file(spark, tmp_path):
    """An upper-bound literal carrying microseconds must not be
    second-truncated into a NARROWER bound: rows in the same second
    satisfy the predicate and their file must survive."""
    rows = [
        (datetime(2024, 1, 15, 10, 30, 0, 100000), 1),
        (datetime(2024, 1, 16, 0, 0, 0), 2),
    ]
    t = IceTable.create_as(
        spark,
        str(tmp_path / "ts"),
        spark.createDataFrame(rows, "ts timestamp, v int"),
        partition_spec=_spec("ts", "identity", "ts"),
    )
    got = {
        r.v
        for r in t.scan(
            [Pred("ts", "<=", datetime(2024, 1, 15, 10, 30, 0, 123000))]
        ).collect()
    }
    assert got == {1}


def test_hour_transform_with_date_literal_does_not_crash(spark, tmp_path):
    """A plain date literal against an hour-partitioned timestamp used
    to raise AttributeError out of the scan; it must prune as that
    day's midnight (and in any case keep matching files)."""
    rows = [(datetime(2024, 1, 15, 10, 0, 0), 1), (datetime(2024, 2, 1, 5, 0, 0), 2)]
    t = IceTable.create_as(
        spark,
        str(tmp_path / "h"),
        spark.createDataFrame(rows, "ts timestamp, v int"),
        partition_spec=_spec("ts", "hour", "ts_hour"),
    )
    got = {r.v for r in t.scan([Pred("ts", ">=", date(2024, 2, 1))]).collect()}
    assert got == {2}


def test_hive_default_partition_dir_always_survives(spark, tmp_path):
    """Empty-string and NULL partition values share Spark's
    __HIVE_DEFAULT_PARTITION__ dir; a predicate on the empty string
    must still reach the rows inside it."""
    t = IceTable.create_as(
        spark,
        str(tmp_path / "d"),
        spark.createDataFrame([("", 1), ("x", 2)], "s string, v int"),
        partition_spec=_spec("s", "identity", "s"),
    )
    got = {r.v for r in t.scan([Pred("s", "=", "")]).collect()}
    assert got == {1}


def test_unprunable_field_still_lets_other_fields_prune():
    """An un-prunable literal disables only ITS spec field — the
    remaining fields' pruning still applies (the except used to keep
    the file outright). Planner-level check (the literal is not even
    executable as a Spark filter)."""
    from iceberg_workshop_spark.icetbl.pruning import (
        file_survives_partition,
        intervals,
    )

    spec = _spec("ts", "hour", "h") + _spec("region", "identity", "region")
    ivals = intervals(
        [Pred("ts", ">=", "not-a-timestamp"), Pred("region", "=", "eu")]
    )
    assert file_survives_partition(
        {"h": "2024-01-01-01", "region": "eu"}, spec, ivals
    )
    assert not file_survives_partition(
        {"h": "2024-01-01-02", "region": "us"}, spec, ivals
    ), "region field must still prune when the ts literal is un-prunable"


def test_as_of_ignores_unpublished_branch_snapshots(spark, tmp_path):
    """AS OF resolves through the snapshot log: a staged WAP branch
    snapshot (newest timestamp, never current on main) must not leak
    into a main-timeline time-travel read."""
    from iceberg_workshop_spark.icetbl import meta as M

    t = IceTable.create_as(
        spark, str(tmp_path / "wap"), spark.createDataFrame([(1,)], "a int")
    )
    t.create_branch("audit")
    t.append(spark.createDataFrame([(99,)], "a int"), branch="audit")
    now = M.now_ms() + 1
    assert {r.a for r in t.read(as_of_timestamp_ms=now).collect()} == {1}, (
        "unpublished branch data leaked into AS OF"
    )
    # publish, then AS OF after the publish sees it
    t.fast_forward("audit")
    assert {r.a for r in t.read(as_of_timestamp_ms=M.now_ms() + 1).collect()} == {1, 99}


def test_as_of_respects_rollback(spark, tmp_path):
    """After rollback the snapshot log records the re-point; AS OF a
    post-rollback instant returns the rolled-back state, not the
    newest-by-creation-time snapshot."""
    import time

    from iceberg_workshop_spark.icetbl import meta as M

    t = IceTable.create_as(
        spark, str(tmp_path / "rb"), spark.createDataFrame([(1,)], "a int")
    )
    s1 = t.meta.current_snapshot_id
    time.sleep(0.002)
    t.insert_values([(2,)])
    time.sleep(0.002)
    t.rollback(s1)
    assert {r.a for r in t.read(as_of_timestamp_ms=M.now_ms() + 1).collect()} == {1}


def test_insert_values_columns_bind_by_name(spark, tmp_path):
    """insert_values(columns=...) binds tuples to the NAMED columns in
    the caller's order (SQL column-list semantics); unnamed columns
    land NULL; unknown columns fail loudly."""
    t = IceTable.create(spark, str(tmp_path / "iv"), "a int, b int, c string")
    t.insert_values([(7, 1)], columns=["b", "a"])
    row = t.read().collect()[0]
    assert (row.a, row.b, row.c) == (1, 7, None)
    with pytest.raises(ValueError, match="not in table"):
        t.insert_values([(1,)], columns=["zz"])


def test_bucket_pruning_with_an_escaped_field_name(spark, tmp_path):
    """``PARTITIONED BY (bucket(8, id))`` names the field
    ``id_bucket[8]``, a name Spark percent-escapes in the directory
    key. The recorded partition is keyed by the field name, so bucket
    pruning keeps exactly the files it keeps for a plain-named field."""
    from iceberg_workshop_spark.icetbl import spec_field
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    df = spark.range(0, 4000, 1, 4).selectExpr("id", "CAST(id AS STRING) AS v")
    s = IceSqlSession(spark, scratch=str(tmp_path / "sess"))
    s.sql("CREATE TABLE t (id BIGINT, v STRING) PARTITIONED BY (bucket(8, id))")
    escaped = s.tables["t"]
    assert [f["name"] for f in escaped.meta.specs[0]] == ["id_bucket[8]"]
    escaped.append(df)
    plain = IceTable.create(
        spark, str(tmp_path / "plain"), "id BIGINT, v STRING",
        [spec_field("id", "bucket[8]", "idb")],
    )
    plain.append(df)

    got = sorted(tuple(r) for r in s.sql("SELECT * FROM t WHERE id = 5").collect())
    want = sorted(tuple(r) for r in plain.scan([Pred("id", "=", 5)]).collect())
    assert got == want == [(5, "5")]
    rep, ref = escaped.last_scan_report, plain.last_scan_report
    assert rep["files_total"] == ref["files_total"]
    assert rep["files_scanned"] == ref["files_scanned"] < ref["files_total"]
