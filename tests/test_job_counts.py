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

import pytest

from iceberg_workshop_spark.icetbl import IceTable
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

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


def test_merge_job_count(spark, wide):
    tbl, sess = wide
    before = tbl.read().count()
    n = _jobs(
        spark,
        lambda: sess.sql(
            "MERGE INTO t AS tgt USING (SELECT * FROM src) AS s ON tgt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.v, s.g)"
        ),
    )
    assert n <= 11, f"MERGE ran {n} Spark jobs"
    # source ids below 40 * N_FILES update a row, the others insert
    assert tbl.read().count() == before + sum(1 for i in range(30) if i * 97 + 1 >= 40 * N_FILES)
    assert tbl.read().filter("v >= 100").count() == 30


def test_delete_where_pos_job_count(spark, wide):
    tbl, _ = wide
    n = _jobs(spark, lambda: tbl.delete_where_pos("id % 89 = 5"))
    assert n <= 3, f"delete_where_pos ran {n} Spark jobs"
    assert tbl.read().filter("id % 89 = 5").count() == 0
