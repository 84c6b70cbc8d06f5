"""Lifecycle extensions: SQL UPDATE through the front-end, manifest
introspection over the sharded metadata layer, and branch diffing.

``q_meta_manifests`` is the queryable proof of the round-6 metadata
redesign: commits write O(changed-files) manifest sidecars and REUSE
the parent's manifests verbatim (icetbl/meta.py::_shard_snapshot —
the structure real Iceberg uses for the same reason,
``/root/reference/pyspark-iceberg/limitations.md:82-105``). The
reuse counts surfaced here are exactly what a 10⁶-file table needs
to stay writable: snapshot N's manifest list is N descriptors, not
N × files entries.

``q_tt_diff_refs`` closes the ref surface (tags/branches,
``q_tt_tag_branch``) with the audit primitive built on it: the
row-level symmetric difference between two refs' heads — what
changed on the audit branch relative to main before a publish.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.icetbl.table import IceTable
from iceberg_workshop_spark.plans.sqlfront import IceSqlSession
from iceberg_workshop_spark.registry import register, require, scratch
from iceberg_workshop_spark.sources.tables import load


@register(
    "q_sql_update_stmt",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CASE WHEN s_nationkey = 3 THEN s_acctbal + 100.5
                ELSE s_acctbal END AS s_acctbal
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def q_sql_update_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET ... WHERE as SQL text through the front-end —
    the remaining row-level DML statement family (MERGE/DELETE/INSERT
    are covered by their own q_sql_* rows). Routed to the
    copy-on-write update path with predicate-pruned candidate
    discovery; the same statement flips to merge-on-read when
    write.update.mode says so (q_dml_update_mor)."""
    supplier = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    tbl = IceTable.create_as(spark, scratch("sql_update"), supplier)
    sess = IceSqlSession(spark)
    sess.register_table("db.suppliers", tbl)
    sess.sql(
        "UPDATE db.suppliers SET s_acctbal = s_acctbal + 100.5"
        " WHERE s_nationkey = 3"
    )
    return tbl.read().orderBy("s_suppkey")


@register(
    "q_meta_manifests",
    oracle="""
    SELECT 1 AS ordinal, 1 AS n_manifests, 0 AS n_reused, 1 AS n_files,
           CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey < 10)
                AS BIGINT) AS n_records
    UNION ALL
    SELECT 2, 2, 1, 2,
           CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey < 20)
                AS BIGINT)
    UNION ALL
    SELECT 3, 3, 2, 3,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    ORDER BY ordinal
    """,
)
def q_meta_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.manifests metadata table: per-snapshot manifest descriptors
    with parent-reuse accounting. Three single-file commits must
    yield manifest lists [m1], [m1, m2], [m1, m2, m3] — every parent
    manifest reused by identity, exactly one new sidecar per commit
    (the O(changed-files) write invariant, checked as data, not as a
    byte-size heuristic). Counts come from the descriptors alone
    (``n``/``records``), never by re-listing data files — manifest
    reads are O(manifests), the metadata-scale contract."""
    nation = load(spark, sf_dir, "nation")
    tbl = IceTable.create_as(
        spark,
        scratch("meta_manifests"),
        nation.filter(F.col("n_nationkey") < 10).coalesce(1),
    )
    tbl.append(
        nation.filter(
            (F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)
        ).coalesce(1)
    )
    tbl.append(nation.filter(F.col("n_nationkey") >= 20).coalesce(1))

    snaps = tbl.meta.snapshots
    require(len(snaps) == 3, f"expected 3 snapshots, got {len(snaps)}")
    rows = []
    parent_paths: set[str] = set()
    for ordinal, snap in enumerate(snaps, start=1):
        ms = tbl.meta.manifests_of(snap)
        reused = sum(1 for m in ms if m["path"] in parent_paths)
        rows.append(
            (
                ordinal,
                len(ms),
                reused,
                int(sum(m["n"] for m in ms)),
                int(sum(m["records"] for m in ms)),
            )
        )
        parent_paths = {m["path"] for m in ms}
    return spark.createDataFrame(
        rows,
        schema="ordinal int, n_manifests int, n_reused int,"
        " n_files int, n_records long",
    ).orderBy("ordinal")


@register(
    "q_tt_diff_refs",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey < 20)
                AS BIGINT) AS n_main,
           CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey < 10
                 OR n_nationkey >= 20) AS BIGINT) AS n_audit,
           CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey < 10)
                AS BIGINT) AS n_common,
           CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey >= 10
                 AND n_nationkey < 20) AS BIGINT) AS n_only_main,
           CAST((SELECT COUNT(*) FROM nation WHERE n_nationkey >= 20)
                AS BIGINT) AS n_only_audit
    """,
)
def q_tt_diff_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two refs' heads: after main and an
    ``audit`` branch diverge, report common rows and each side's
    exclusive rows (bag semantics via exceptAll — duplicates count).
    This is the pre-publish audit for branch workflows
    (q_tt_tag_branch / q_sql_cdc_wap): 'what exactly does this branch
    add or drop relative to main'. Computed as two ref reads + two
    anti-diffs — file-pruned scans of only the refs' snapshots, no
    history walk."""
    nation = load(spark, sf_dir, "nation")
    tbl = IceTable.create_as(
        spark,
        scratch("diff_refs"),
        nation.filter(F.col("n_nationkey") < 10).coalesce(1),
    )
    tbl.create_branch("audit")
    tbl.append(
        nation.filter(
            (F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)
        ).coalesce(1)
    )
    tbl.append(
        nation.filter(F.col("n_nationkey") >= 20).coalesce(1), branch="audit"
    )
    main_df = tbl.read().localCheckpoint()
    audit_df = tbl.read(ref="audit").localCheckpoint()
    return spark.createDataFrame(
        [
            (
                main_df.count(),
                audit_df.count(),
                main_df.intersectAll(audit_df).count(),
                main_df.exceptAll(audit_df).count(),
                audit_df.exceptAll(main_df).count(),
            )
        ],
        schema="n_main long, n_audit long, n_common long,"
        " n_only_main long, n_only_audit long",
    )
