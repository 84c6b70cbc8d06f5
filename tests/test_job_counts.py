"""Spark job counts of the table layer's hot statements, on a native
table with more live data files than Spark's default parallel-listing
threshold (32) and one outstanding positional delete.

Jobs are counted the way perfbench counts them: each call runs under
its own job group, and the group's job ids come from the status
tracker. The limits are the counts measured on a 4-core host; a
regression that re-reads the table, re-plans the MERGE effects or
lists the manifest's files with a distributed job shows up here as an
extra job, whatever the host load."""

from __future__ import annotations

import itertools
import os

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession
from tests.helpers import data_scans

N_FILES = 44
_groups = itertools.count()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"test-job-counts-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture()
def wide(spark, tmp_path):
    """A table of N_FILES data files with one positional delete that
    targets a single file, so a read opens the other files in one scan."""
    rows = spark.range(0, 40 * N_FILES).selectExpr(
        "id", "id % 7 AS v", "CAST(id % 5 AS string) AS g"
    )
    tbl = IceTable.create_as(
        spark, str(tmp_path / "wide"), rows.repartitionByRange(N_FILES, "id")
    )
    assert len(tbl.meta.current_files()) >= 40
    tbl.delete_where_pos("id = 3")
    assert len(tbl.meta.current_deletes()) == 1
    sess = IceSqlSession(spark, scratch=str(tmp_path / "sess"))
    sess.register_table("t", tbl)
    sess.register_view(
        "src",
        spark.range(0, 30).selectExpr("id * 97 + 1 AS id", "100 + id AS v", "'n' AS g"),
    )
    return tbl, sess


def test_read_construction_runs_no_job(spark, wide):
    tbl, _ = wide
    assert _jobs(spark, tbl.read) == 0


# merge-on-read's bound is the count its writer ran when it still
# matched effects to target rows by key
_MERGE_JOBS = {"copy-on-write": 11, "merge-on-read": 16}


@pytest.mark.parametrize("mode", list(_MERGE_JOBS))
def test_merge_job_count(spark, wide, mode):
    tbl, sess = wide
    sess.sql(f"ALTER TABLE t SET TBLPROPERTIES ('write.merge.mode' = '{mode}')")
    before = tbl.read().count()
    n = _jobs(
        spark,
        lambda: sess.sql(
            "MERGE INTO t AS tgt USING (SELECT * FROM src) AS s ON tgt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v, s.g)"
        ),
    )
    assert n <= _MERGE_JOBS[mode], f"{mode} MERGE ran {n} Spark jobs"
    # source ids below 40 * N_FILES update a row, the others insert
    assert tbl.read().count() == before + sum(1 for i in range(30) if i * 97 + 1 >= 40 * N_FILES)
    assert tbl.read().filter("v >= 100").count() == 30


def test_delete_where_pos_job_count(spark, wide):
    tbl, _ = wide
    n = _jobs(spark, lambda: tbl.delete_where_pos("id % 89 = 5"))
    assert n <= 2, f"delete_where_pos ran {n} Spark jobs"
    assert tbl.read().filter("id % 89 = 5").count() == 0


def test_read_opens_at_most_two_data_scans(spark, tmp_path):
    """Files of three sequence numbers under a positional and an
    equality delete: one scan for the targeted files, one for the rest,
    never one per sequence number."""
    tbl = IceTable.create(spark, str(tmp_path / "seqs"), "k bigint, v bigint")
    for lo in (0, 10, 20):
        tbl.append(spark.range(lo, lo + 10).selectExpr("id AS k", "id AS v").coalesce(2))
    tbl.delete_where_pos("k = 3")
    tbl.delete_where_mor("k = 24", keys=["k"])
    files = tbl.meta.current_files()
    assert len({f["seq"] for f in files}) == 3
    df = tbl.read()
    assert data_scans(df, {os.path.abspath(f["path"]) for f in files}) <= 2
    assert sorted(r.k for r in df.collect()) == [k for k in range(30) if k not in (3, 24)]


def _all_data_paths(tbl) -> set[str]:
    return {
        os.path.abspath(f["path"]) for s in tbl.meta.snapshots for f in tbl.meta.files(s)
    }


@pytest.mark.parametrize("loc", ["plain", "sp ace"])
def test_rewrite_position_deletes_after_compaction_reads_no_data_file(
    spark, tmp_path, monkeypatch, loc
):
    """After a full rewrite_data_files every positional entry's targets
    are gone: the manifest entries decide that, no data file is read,
    and the report still counts distinct positions."""
    from pyspark.sql.readwriter import DataFrameReader

    tbl = IceTable.create_as(
        spark, str(tmp_path / loc / "t"),
        spark.range(0, 200).selectExpr("id", "id % 7 AS v").repartition(4),
    )
    tbl.delete_where_pos("id < 10")
    tbl.delete_where_pos("id % 50 = 7")  # records id 7 a second time
    tbl.delete_where_pos("id < 3")  # three more repeats
    tbl.rewrite_data_files()
    want = sorted(r.id for r in tbl.read().collect())
    data = _all_data_paths(tbl)
    read: list[str] = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    report: dict = {}
    n = _jobs(spark, lambda: report.update(tbl.rewrite_position_deletes()))
    monkeypatch.undo()
    assert n <= 3, f"rewrite_position_deletes ran {n} Spark jobs"
    assert read and not {os.path.abspath(p) for p in read} & data
    # 10 + 4 + 3 recorded positions, 13 distinct
    assert report == {
        "rewritten_delete_files_count": 3,
        "added_delete_files_count": 0,
        "dangling_positions_dropped": 13,
    }
    assert tbl.meta.current_deletes() == []
    assert sorted(r.id for r in tbl.read().collect()) == want


def test_rewrite_position_deletes_one_live_one_dangling_job_count(spark, tmp_path):
    """One entry whose target is live and one whose target a
    copy-on-write delete rewrote: the live positions are staged
    directly and the dangling one is dropped unread."""
    tbl = IceTable.create(spark, str(tmp_path / "mixed"), "k bigint, v bigint")
    for lo in (0, 10):
        tbl.append(spark.range(lo, lo + 10).selectExpr("id AS k", "id AS v").coalesce(1))
    tbl.delete_where_pos("k = 3")
    tbl.delete_where_pos("k = 15")
    tbl.delete_where("k = 16")  # rewrites the second file
    want = [k for k in range(20) if k not in (3, 15, 16)]
    assert sorted(r.k for r in tbl.read().collect()) == want
    report: dict = {}
    n = _jobs(spark, lambda: report.update(tbl.rewrite_position_deletes()))
    assert n <= 3, f"rewrite_position_deletes ran {n} Spark jobs"
    assert report == {
        "rewritten_delete_files_count": 2,
        "added_delete_files_count": 1,
        "dangling_positions_dropped": 1,
    }
    assert [d["record_count"] for d in tbl.meta.current_deletes()] == [1]
    assert sorted(r.k for r in tbl.read().collect()) == want
