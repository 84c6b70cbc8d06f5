"""Table-lifecycle queries — the icetbl layer exercised end-to-end.

Each query builds its table in ``registry.scratch`` (a new location
per invocation) and returns a deterministic result: either the final table
state (exact DuckDB oracle over the same fixture data) or lifecycle
invariants encoded as constant-valued oracles (stronger than the
rows-only fallback).

Replays, query by query, the reference's workshop exercises — the
fake-airline insert + time travel (/root/reference/README.md:102-127),
the MERGE upsert (sql/update_iceberg_v2_examples.sql:14-18), partition
evolution (README.md:134-195), hidden transform partitioning
(README.md:204-237), snapshot expiration (README.md:364-381),
compaction (README.md:396-403) and the schema-evolution bug repro that
must NOT error here (limitations.md:3-17).
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.exprs import money
from iceberg_workshop_spark.icetbl import IceTable, Pred, spec_field
from iceberg_workshop_spark.registry import register, require, scratch
from iceberg_workshop_spark.sources.tables import load

@register(
    "q_dml_insert_values",
    oracle="""
    SELECT * FROM (VALUES
      ('AA', 'American Airlines'),
      ('DL', 'Delta Air Lines'),
      ('ABC', 'Real Fake Airlines')
    ) AS t(code, description)
    ORDER BY code
    """,
)
def q_dml_insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE + multi-row INSERT VALUES + read back (A6; the airlines
    dimension rows of /root/reference/README.md:102-103)."""
    loc = scratch("insert_values")
    t = IceTable.create(spark, loc, "code string, description string")
    # One batched commit: each insert_values is a full snapshot commit
    # (a Spark write job + metadata swap), a fixed cost worth paying
    # once, not per statement. Multi-commit history is exercised by
    # q_tt_as_of / q_meta_history.
    t.insert_values(
        [
            ("AA", "American Airlines"),
            ("DL", "Delta Air Lines"),
            ("ABC", "Real Fake Airlines"),
        ]
    )
    return t.read().orderBy("code")


@register(
    "q_dml_insert_select",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority FROM (
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderstatus, 'REPLAY' AS o_orderpriority
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1996-01-01'
    )
    ORDER BY o_orderkey, o_orderpriority
    """,
)
def q_dml_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... SELECT with projection + literal column (A7 —
    the 29-column year-1995→2022 replay of README.md:145-177)."""
    loc = scratch("insert_select")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"
    )
    t = IceTable.create_as(spark, loc, orders.drop("o_orderdate"))
    replay = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderstatus", F.lit("REPLAY").alias("o_orderpriority"))
    t.append(replay)
    return t.read().orderBy("o_orderkey", "o_orderpriority")


@register(
    "q_dml_merge",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'MERGED' AS c_mktsegment
      FROM customer WHERE c_custkey < 50
      UNION ALL
      SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'NEWROW'
      FROM customer WHERE c_custkey < 10
    )
    SELECT c.c_custkey,
           COALESCE(s.c_name, c.c_name) AS c_name,
           COALESCE(s.c_nationkey, c.c_nationkey) AS c_nationkey,
           COALESCE(s.c_acctbal, c.c_acctbal) AS c_acctbal,
           COALESCE(s.c_mktsegment, c.c_mktsegment) AS c_mktsegment
    FROM customer c LEFT JOIN src s USING (c_custkey)
    UNION ALL
    SELECT * FROM src
    WHERE c_custkey NOT IN (SELECT c_custkey FROM customer)
    ORDER BY c_custkey
    """,
)
def q_dml_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO upsert (A9): matched → update, not matched → insert —
    the exact shape of sql/update_iceberg_v2_examples.sql:14-18, CoW
    file-granular rewrite underneath."""
    loc = scratch("merge")
    customer = load(spark, sf_dir, "customer")
    t = IceTable.create_as(spark, loc, customer)
    updates = customer.filter(F.col("c_custkey") < 50).withColumn(
        "c_mktsegment", F.lit("MERGED")
    )
    inserts = (
        customer.filter(F.col("c_custkey") < 10)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_mktsegment", F.lit("NEWROW"))
    )
    t.merge_into(updates.unionByName(inserts), on=["c_custkey"])
    return t.read().orderBy("c_custkey")


@register(
    "q_dml_merge_mor",
    oracle="""
    WITH src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'MERGED' AS c_mktsegment
      FROM customer WHERE c_custkey < 50
      UNION ALL
      SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'NEWROW'
      FROM customer WHERE c_custkey < 10
    )
    SELECT c.c_custkey,
           COALESCE(s.c_name, c.c_name) AS c_name,
           COALESCE(s.c_nationkey, c.c_nationkey) AS c_nationkey,
           COALESCE(s.c_acctbal, c.c_acctbal) AS c_acctbal,
           COALESCE(s.c_mktsegment, c.c_mktsegment) AS c_mktsegment
    FROM customer c LEFT JOIN src s USING (c_custkey)
    UNION ALL
    SELECT * FROM src
    WHERE c_custkey NOT IN (SELECT c_custkey FROM customer)
    ORDER BY c_custkey
    """,
)
def q_dml_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE (write.merge.mode=merge-on-read): matched
    rows masked by one positional delete file, updates + inserts
    appended — no data file rewritten (require-asserted), one commit.
    Same source and oracle as q_dml_merge's CoW variant, proving the
    two write flavors produce identical tables."""
    loc = scratch("merge_mor")
    customer = load(spark, sf_dir, "customer")
    t = IceTable.create_as(spark, loc, customer)
    before_files = {f["path"] for f in t.meta.current_files()}
    updates = customer.filter(F.col("c_custkey") < 50).withColumn(
        "c_mktsegment", F.lit("MERGED")
    )
    inserts = (
        customer.filter(F.col("c_custkey") < 10)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_mktsegment", F.lit("NEWROW"))
    )
    stats = t.merge_into_mor(updates.unionByName(inserts), on=["c_custkey"])
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    require(
        before_files <= {f["path"] for f in t.meta.files(head)},
        "MoR MERGE must keep every pre-existing data file",
    )
    require(stats["positions_deleted"] > 0, "matched rows must be masked")
    return t.read().orderBy("c_custkey")


@register(
    "q_dml_delete",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus <> 'F'
    ORDER BY o_orderkey
    """,
)
def q_dml_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM ... WHERE (A10 — interoperability.md:128), CoW."""
    loc = scratch("delete")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = IceTable.create_as(spark, loc, orders)
    t.delete_where("o_orderstatus = 'F'")
    return t.read().orderBy("o_orderkey")


@register(
    "q_dml_insert_overwrite",
    oracle="""
    SELECT o_orderkey, yr, o_orderpriority FROM (
      SELECT o_orderkey, year(o_orderdate) AS yr, o_orderpriority
      FROM orders WHERE year(o_orderdate) <> 1995
      UNION ALL
      SELECT o_orderkey, 1995 AS yr, 'REPLAY' AS o_orderpriority
      FROM orders WHERE year(o_orderdate) = 1995
    ) ORDER BY o_orderkey
    """,
)
def q_dml_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE with *dynamic* partition overwrite (A8's
    static/dynamic partition-insert family,
    `sql/hive_partitioning_examples.sql:21-41`): only partitions
    present in the incoming data (yr=1995) are replaced; all other
    partitions survive untouched. The per-writer option scopes the
    mode so no global session conf leaks."""
    loc = scratch("insert_overwrite")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr"), "o_orderpriority"
    )
    orders.write.partitionBy("yr").parquet(loc)
    replay = orders.filter("yr = 1995").withColumn(
        "o_orderpriority", F.lit("REPLAY")
    )
    (
        replay.write.partitionBy("yr")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(loc)
    )
    return (
        spark.read.parquet(loc)
        .select("o_orderkey", "yr", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@register(
    "q_dml_update",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN '9-PENDING'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders ORDER BY o_orderkey
    """,
)
def q_dml_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET ... WHERE (the single-clause half of A9's MERGE,
    `sql/update_iceberg_v2_examples.sql:14-16`), CoW file-granular:
    only files holding a 'P'-status row are rewritten; the rest carry
    into the new snapshot by identity."""
    loc = scratch("update")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    t = IceTable.create_as(spark, loc, orders)
    stats = t.update_where("o_orderstatus = 'P'", {"o_orderpriority": "'9-PENDING'"})
    require(stats["files_rewritten"] <= stats["files_total"], "rewrite cannot touch more files than exist")
    return t.read().orderBy("o_orderkey")


@register(
    "q_dml_update_mor",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN '9-PENDING'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders ORDER BY o_orderkey
    """,
)
def q_dml_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (Iceberg's write.update.mode=merge-on-read):
    one commit adds a positional delete file masking the matching rows
    plus new data files with their updated images — NO existing data
    file is rewritten (require-asserted), commit cost O(matching
    rows). Same statement-level semantics as q_dml_update's CoW
    variant; the oracle is identical, proving flavor-equivalence."""
    loc = scratch("update_mor")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    t = IceTable.create_as(spark, loc, orders)
    before_files = {f["path"] for f in t.meta.current_files()}
    stats = t.update_where_mor(
        "o_orderstatus = 'P'", {"o_orderpriority": "'9-PENDING'"}
    )
    head = t.meta.snapshot(t.meta.current_snapshot_id)
    require(
        before_files <= {f["path"] for f in t.meta.files(head)},
        "MoR UPDATE must keep every pre-existing data file",
    )
    require(
        any(d.get("kind") == "pos" for d in t.meta.delete_entries(head)),
        "MoR UPDATE must add a positional delete file",
    )
    require(stats["files_added"] >= 1, "updated images must be appended")
    return t.read().orderBy("o_orderkey")


@register(
    "q_dml_truncate",
    oracle="""
    SELECT * FROM (VALUES (990, 'FAKELAND', 0)) AS t(n_nationkey, n_name, n_regionkey)
    """,
)
def q_dml_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE → 0 rows → INSERT 1 → 1 row (A11; README.md:320,346-353)."""
    loc = scratch("truncate")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "nation"))
    t.truncate()
    require(t.read().count() == 0, "TRUNCATE must leave zero rows")
    t.insert_values([(990, "FAKELAND", 0)])
    return t.read()


@register(
    "q_tt_as_of",
    oracle="""
    SELECT 'as_of_s1' AS mode, CAST(0 AS BIGINT) AS n_fake,
           (SELECT COUNT(*) FROM nation) AS n_rows
    UNION ALL
    SELECT 'current', 1, (SELECT COUNT(*) FROM nation) + 1
    ORDER BY mode
    """,
)
def q_tt_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (A20): the fake-airline replay of README.md:102-117 —
    snapshot-before lacks the row, current has it."""
    loc = scratch("tt_as_of")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "nation"))
    s1 = t.meta.current_snapshot_id
    t.insert_values([(990, "FAKELAND", 0)])
    before = t.read(snapshot_id=s1)
    current = t.read()

    def stat(df: DataFrame, mode: str) -> DataFrame:
        return df.agg(
            F.lit(mode).alias("mode"),
            F.sum(F.when(F.col("n_nationkey") == 990, 1).otherwise(0)).alias("n_fake"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    return stat(before, "as_of_s1").unionAll(stat(current, "current")).orderBy("mode")


@register(
    "q_tt_rollback",
    oracle="""
    SELECT COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_fake FROM nation
    """,
)
def q_tt_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback (A21): after EXECUTE rollback the fake row is gone
    (README.md:122-127)."""
    loc = scratch("tt_rollback")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "nation"))
    s1 = t.meta.current_snapshot_id
    t.insert_values([(990, "FAKELAND", 0)])
    t.rollback(s1)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("n_nationkey") == 990, 1).otherwise(0)).alias("n_fake"),
    )


@register(
    "q_tt_changes",
    oracle="""
    SELECT COUNT(*) AS n_new_rows,
           COUNT(DISTINCT o_orderkey % 3) AS n_chunks,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 3 IN (1, 2)
    """,
)
def q_tt_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan: three commits land thirds of orders;
    a consumer syncing from the first snapshot reads exactly the two
    later commits' rows — O(delta) file listing, never a table diff.
    (Iceberg's incremental read, the snapshot-log dual of time travel
    A20.)"""
    loc = scratch("tt_changes")
    orders = load(spark, sf_dir, "orders")
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 3 = 0"))
    s1 = t.meta.current_snapshot_id
    t.append(orders.filter("o_orderkey % 3 = 1"))
    t.append(orders.filter("o_orderkey % 3 = 2"))
    delta = t.changes(from_snapshot_id=s1)
    return delta.agg(
        F.count(F.lit(1)).alias("n_new_rows"),
        F.countDistinct(F.col("o_orderkey") % 3).alias("n_chunks"),
        F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
    )


@register(
    "q_cdc_changelog",
    oracle="""
    SELECT 'delete' AS _change_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderstatus = 'F'
    UNION ALL
    SELECT 'insert', COUNT(*), COUNT(DISTINCT o_orderkey),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 7 = 3
    ORDER BY _change_type
    """,
)
def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between snapshots — the native analog of
    Iceberg's `CALL system.create_changelog_view` (net_changes): a
    CoW DELETE then an append, and the changelog from the first
    snapshot is exactly {deleted rows → 'delete', new rows →
    'insert'}; rows the CoW rewrite carried over unchanged cancel out.
    Reads only the symmetric difference of the endpoint file sets —
    O(delta), never O(table) (icetbl/table.py::changelog)."""
    loc = scratch("cdc_changelog")
    orders = load(spark, sf_dir, "orders")
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 7 = 0"))
    s1 = t.meta.current_snapshot_id
    t.delete_where("o_orderstatus = 'F'")
    t.append(orders.filter("o_orderkey % 7 = 3"))
    cl = t.changelog(from_snapshot_id=s1)
    return (
        cl.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy("_change_type")
    )


@register(
    "q_cdc_changelog_updates",
    oracle="""
    SELECT 'insert' AS _change_type, COUNT(*) AS n_rows
    FROM orders WHERE o_orderkey % 13 = 1
    UNION ALL
    SELECT 'update_postimage', COUNT(*)
    FROM orders WHERE o_orderkey % 13 = 0 AND o_orderstatus = 'O'
    UNION ALL
    SELECT 'update_preimage', COUNT(*)
    FROM orders WHERE o_orderkey % 13 = 0 AND o_orderstatus = 'O'
    ORDER BY _change_type
    """,
)
def q_cdc_changelog_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC with update-image pairing (`create_changelog_view`'s
    identifier_columns): a MERGE that updates matched rows and inserts
    new ones yields update_preimage/update_postimage pairs for the
    updates (delete+insert sharing the row identity) and plain inserts
    for the rest — the shape a downstream CDC consumer applies."""
    loc = scratch("cdc_changelog_upd")
    orders = load(spark, sf_dir, "orders")
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 13 = 0"))
    s1 = t.meta.current_snapshot_id
    src = (
        orders.filter(
            "(o_orderkey % 13 = 0 AND o_orderstatus = 'O') OR o_orderkey % 13 = 1"
        )
        .withColumn("o_orderpriority", F.lit("0-TOUCHED"))
    )
    t.merge_into(src, on=["o_orderkey"])
    cl = t.changelog(
        from_snapshot_id=s1, identifier_columns=["o_orderkey"]
    )
    return (
        cl.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("_change_type")
    )


@register(
    "q_cdc_agg_maintain",
    oracle="""
    WITH final AS (
      SELECT * FROM orders
      WHERE (o_orderkey % 5 = 0 AND o_orderstatus <> 'F')
         OR o_orderkey % 5 = 1
    ), g AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price
      FROM final GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_groups,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           CAST(SUM(sum_price) AS DOUBLE) AS total_price
    FROM g
    """,
)
def q_cdc_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance from the CDC changelog — the
    materialized-view pattern a 100 TB deployment uses instead of
    re-aggregating the table after every commit.

    A per-customer (COUNT, SUM(price)) aggregate is materialized at
    snapshot s1; the table then takes a CoW DELETE and an append. The
    maintained aggregate is base ⟕⟖ delta where delta is the
    changelog's rows signed +1 for 'insert' / -1 for 'delete' and
    pre-aggregated per group — O(changed rows) work (the changelog
    reads only the symmetric difference of the endpoint file sets),
    versus O(table) for a recompute. Both SUM and COUNT are
    self-maintainable under insert/delete deltas; groups whose
    maintained count reaches zero are dropped, matching GROUP BY
    semantics. The query recomputes the aggregate from the final
    snapshot and returns the number of disagreeing groups — the oracle
    pins it at zero, so the delta-application algebra itself is what
    the driver checks. (Native analog of maintaining a downstream
    rollup from `CALL system.create_changelog_view`,
    /root/reference/pyspark-iceberg/README.md time-travel + CDC
    surface.)"""
    loc = scratch("cdc_agg_maintain")
    orders = load(spark, sf_dir, "orders")
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 5 = 0"))
    s1 = t.meta.current_snapshot_id

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).alias("sum_price"),
        )

    base = agg_of(t.read(snapshot_id=s1))

    t.delete_where("o_orderstatus = 'F'")
    t.append(orders.filter("o_orderkey % 5 = 1"))

    sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
    delta = (
        t.changelog(from_snapshot_id=s1)
        .groupBy("o_custkey")
        .agg(
            F.sum(sign).alias("d_n"),
            F.sum(money("o_totalprice") * sign).alias("d_price"),
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    maintained = (
        base.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                "n_orders"
            ),
            (F.coalesce("sum_price", zero) + F.coalesce("d_price", zero)).alias(
                "sum_price"
            ),
        )
        .filter(F.col("n_orders") > 0)
    )
    recomputed = agg_of(t.read())
    cmp = maintained.alias("m").join(
        recomputed.alias("r"), "o_custkey", "full_outer"
    )
    return cmp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.when(
                F.col("m.n_orders").eqNullSafe(F.col("r.n_orders"))
                & F.col("m.sum_price").eqNullSafe(F.col("r.sum_price")),
                0,
            ).otherwise(1)
        ).alias("n_mismatch"),
        F.sum("r.n_orders").alias("total_orders"),
        F.sum("r.sum_price").cast("double").alias("total_price"),
    )


@register(
    "q_cdc_join_maintain",
    oracle="""
    WITH fo AS (
      SELECT * FROM orders
      WHERE (o_orderkey % 5 = 0 AND o_orderstatus <> 'F')
         OR o_orderkey % 5 = 1
    ), fc AS (
      SELECT * FROM customer WHERE c_nationkey <> 7
    ), j AS (
      SELECT c.c_nationkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS sum_price
      FROM fo o JOIN fc c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey
    )
    SELECT COUNT(*) AS n_groups,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           CAST(SUM(sum_price) AS DOUBLE) AS total_price
    FROM j
    """,
)
def q_cdc_join_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view from TWO
    tables' changelogs — the two-sided generalization of
    q_cdc_agg_maintain and the pattern that keeps a 100 TB star-join
    rollup fresh without re-joining fact and dimension after every
    commit.

    MV = per-nation (COUNT, SUM(price)) over orders ⋈ customer,
    materialized at (s1_orders, s1_customer). Both tables then change:
    orders takes a CoW DELETE and an append; customer loses a nation
    (CoW DELETE). The delta algebra for a join view under bag
    semantics is

        Δ(O ⋈ C) = ΔO ⋈ C_new  +  O_old ⋈ ΔC

    (expand (O_old+ΔO)⋈(C_old+ΔC) and cancel J_old) — each term signs
    its rows by its own changelog's insert/delete flag, pre-aggregates
    per group, and applies to the base exactly like the single-table
    case. Work is O(|ΔO| ⋈ dim + fact_old ⋈ |ΔC|): the fact-side scan
    in the second term prunes to the files whose key ranges intersect
    the deleted customers (the changelog's own stats pruning), never
    the whole fact table when deltas are selective. The query compares
    the maintained view against a full recompute of the final join —
    the oracle pins zero disagreeing groups, so the driver checks the
    two-sided delta algebra itself."""
    loc_o = scratch("cdc_jm_orders")
    loc_c = scratch("cdc_jm_cust")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    t_o = IceTable.create_as(spark, loc_o, orders.filter("o_orderkey % 5 = 0"))
    t_c = IceTable.create_as(spark, loc_c, cust)
    s1_o = t_o.meta.current_snapshot_id
    s1_c = t_c.meta.current_snapshot_id

    def agg_join(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(money("o_totalprice")).alias("sum_price"),
            )
        )

    o_old = t_o.read(snapshot_id=s1_o)
    base = agg_join(o_old, t_c.read(snapshot_id=s1_c))

    t_o.delete_where("o_orderstatus = 'F'")
    t_o.append(orders.filter("o_orderkey % 5 = 1"))
    t_c.delete_where("c_nationkey = 7")

    sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
    d_o = t_o.changelog(from_snapshot_id=s1_o).withColumn("__s", sign)
    d_c = t_c.changelog(from_snapshot_id=s1_c).withColumn("__s", sign)
    c_new = t_c.read()
    # ΔO ⋈ C_new — dim side broadcastable at any realistic size
    term1 = (
        d_o.join(c_new, d_o["o_custkey"] == c_new["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum("__s").alias("d_n"),
            F.sum(money("o_totalprice") * F.col("__s")).alias("d_price"),
        )
    )
    # O_old ⋈ ΔC — the delta keys prune the fact side's file set
    term2 = (
        o_old.join(d_c, o_old["o_custkey"] == d_c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum("__s").alias("d_n"),
            F.sum(money("o_totalprice") * F.col("__s")).alias("d_price"),
        )
    )
    delta = (
        term1.unionByName(term2)
        .groupBy("c_nationkey")
        .agg(F.sum("d_n").alias("d_n"), F.sum("d_price").alias("d_price"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    maintained = (
        base.join(delta, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                "n_orders"
            ),
            (F.coalesce("sum_price", zero) + F.coalesce("d_price", zero)).alias(
                "sum_price"
            ),
        )
        .filter(F.col("n_orders") > 0)
    )
    recomputed = agg_join(t_o.read(), t_c.read())
    cmp = maintained.alias("m").join(
        recomputed.alias("r"), "c_nationkey", "full_outer"
    )
    return cmp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.when(
                F.col("m.n_orders").eqNullSafe(F.col("r.n_orders"))
                & F.col("m.sum_price").eqNullSafe(F.col("r.sum_price")),
                0,
            ).otherwise(1)
        ).alias("n_mismatch"),
        F.sum("r.n_orders").alias("total_orders"),
        F.sum("r.sum_price").cast("double").alias("total_price"),
    )


@register(
    "q_meta_history",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_entries,
           CAST(2 AS BIGINT) AS n_snapshots,
           CAST(1 AS BIGINT) AS n_current_ancestors
    """,
)
def q_meta_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.history metadata table (A31): snapshot count + parent chain
    after insert/insert/rollback match README.md:353-362's shape."""
    loc = scratch("meta_history")
    t = IceTable.create(spark, loc, "code string, description string")
    t.insert_values([("AA", "American")])
    t.insert_values([("ABC", "Real Fake Airlines")])
    t.rollback(t.meta.snapshots[0]["snapshot_id"])
    h = t.history()
    return h.agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.countDistinct("snapshot_id").alias("n_snapshots"),
        F.countDistinct(F.when(F.col("is_current_ancestor"), F.col("snapshot_id"))).alias(
            "n_current_ancestors"
        ),
    )


@register(
    "q_meta_pinned_read",
    oracle="""
    SELECT 'pinned_v2' AS mode,
           (SELECT COUNT(*) FROM nation) AS n_rows,
           CAST(0 AS BIGINT) AS n_fake,
           true AS equals_time_travel
    UNION ALL
    SELECT 'current', (SELECT COUNT(*) FROM nation) + 1, 1, true
    ORDER BY mode
    """,
)
def q_meta_pinned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned metadata-file read (A34): open the table AT a specific
    metadata file — the reference reads an old Iceberg table state by
    full ``<hash>.metadata.json`` path when the version hint is absent
    (/root/reference/pyspark-iceberg/interoperability.md:95-112). The
    pinned view must equal the time-travel read of the same snapshot
    (proven by symmetric exceptAll emptiness, computed distributed)."""
    loc = scratch("meta_pinned")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "nation"))
    pinned_version = t.meta.version  # v2: create + CTAS-append
    s1 = t.meta.current_snapshot_id
    t.insert_values([(990, "FAKELAND", 0)])

    import os as _os

    from iceberg_workshop_spark.icetbl import meta as _M

    pinned = IceTable.load_metadata(
        spark, _os.path.join(loc, _M.METADATA_DIR, f"v{pinned_version}.json")
    ).read()
    tt = t.read(snapshot_id=s1)
    equals = (pinned.exceptAll(tt).count() == 0) and (
        tt.exceptAll(pinned).count() == 0
    )

    def stat(df: DataFrame, mode: str) -> DataFrame:
        return df.agg(
            F.lit(mode).alias("mode"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("n_nationkey") == 990, 1).otherwise(0)).alias("n_fake"),
            F.lit(equals).alias("equals_time_travel"),
        )

    return (
        stat(pinned, "pinned_v2")
        .unionAll(stat(IceTable.load(spark, loc).read(), "current"))
        .orderBy("mode")
    )


@register(
    "q_maint_expire",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS snapshots_after,
           (SELECT COUNT(*) - 1 FROM nation) AS n_rows,
           true AS orphans_removed
    """,
)
def q_maint_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expire_snapshots + orphan-file cleanup (A27; README.md:364-381):
    only the current snapshot survives, unreferenced files are
    physically deleted, data is intact."""
    loc = scratch("maint_expire")
    nation = load(spark, sf_dir, "nation")
    t = IceTable.create_as(spark, loc, nation.filter("n_nationkey < 10"))
    t.append(nation.filter("n_nationkey >= 10"))
    t.delete_where("n_nationkey = 24")  # real delete → rewritten file → orphans
    stats = t.expire_snapshots()
    return t.read().agg(
        F.lit(stats["snapshots_after"]).cast("bigint").alias("snapshots_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(stats["orphan_files_removed"] > 0).alias("orphans_removed"),
    )


@register(
    "q_maint_compact",
    oracle="""
    SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows, true AS fewer_files
    """,
)
def q_maint_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rewrite_data_files compaction (A29; README.md:396-403): same
    answers, fewer files."""
    loc = scratch("maint_compact")
    li = load(spark, sf_dir, "lineitem")
    t = IceTable.create_as(spark, loc, li.repartition(64))
    stats = t.rewrite_data_files(target_num_files=4)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(stats["files_after"] < stats["files_before"]).alias("fewer_files"),
    )


@register(
    "q_maint_cluster",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           true AS scanned_all_before,
           true AS pruned_after
    FROM events
    WHERE value >= 2.0 AND value <= 2.5
    """,
)
def q_maint_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/cluster compaction (Iceberg `strategy => 'sort'`) + zstd
    codec (A28 property): events are first written round-robin (every
    file spans the full `value` range, so stats skipping is useless
    and the planner scans all files), then rewritten range-clustered
    on `value` — after which the same selective predicate touches a
    small fraction of files. The answer itself must stay identical to
    the raw-table oracle; pruning is observable via scan reports.

    100 TB: this is the read-amplification story — clustering is one
    sample+range-shuffle at maintenance time and turns every later
    selective scan from O(table) into O(matching range)."""
    loc = scratch("maint_cluster")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    t = IceTable.create_as(spark, loc, ev.repartition(12))
    pred = [Pred("value", "between", (2.0, 2.5))]
    t.scan(pred)
    before = t.last_scan_report
    t.set_properties({"write.parquet.compression-codec": "zstd"})
    t.rewrite_data_files(target_num_files=12, sort_by=["value"])
    after_df = t.scan(pred)
    after = t.last_scan_report
    return after_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.lit(before["files_scanned"] == before["files_total"]).alias(
            "scanned_all_before"
        ),
        F.lit(after["files_scanned"] * 3 < after["files_total"]).alias(
            "pruned_after"
        ),
    )


@register(
    "q_part_evolution",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS oyear,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY oyear
    ORDER BY oyear
    """,
)
def q_part_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution mid-table (A22; README.md:134-195):
    unpartitioned files coexist with year-partitioned files; a scan
    unions both layouts and matches the unpartitioned oracle."""
    loc = scratch("part_evolution")
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    new = orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    t = IceTable.create_as(spark, loc, old)  # spec: unpartitioned
    t.set_partition_spec([spec_field("o_orderdate", "year")])
    t.append(new)  # written under the evolved spec
    return (
        t.read()
        .groupBy(F.year("o_orderdate").alias("oyear"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy("oyear")
    )


@register(
    "q_part_transform",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts <= TIMESTAMP '2024-01-07'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_part_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden transform partitioning (A23/A25; README.md:204-237): the
    events copy is day(ts)-partitioned; the predicate is on raw ts,
    pruning happens on the transform, answers match the oracle. The
    pruning ratio itself is asserted in tests and benchmarked."""
    loc = scratch("part_transform")
    events = load(spark, sf_dir, "events")
    t = IceTable.create_as(
        spark, loc, events, partition_spec=[spec_field("ts", "day")]
    )
    df = t.scan(
        [Pred("ts", "between", (datetime(2024, 1, 5), datetime(2024, 1, 7)))]
    )
    return (
        df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy("event_type")
    )


@register(
    "q_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
      (1, CAST(NULL AS TIMESTAMP)),
      (2, TIMESTAMP '2022-01-01 00:00:00')
    ) AS t(c1, ts)
    ORDER BY c1
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN then query across old+new files (A35): the repro of
    limitations.md:6-10 that crashes Impala must work here — old files
    read the new column as NULL, predicates on it work."""
    loc = scratch("schema_evolution")
    t = IceTable.create(spark, loc, "c1 int")
    t.insert_values([(1,)])
    t.add_column("ts", "timestamp")
    t.append(
        spark.createDataFrame([(2, datetime(2022, 1, 1))], "c1 int, ts timestamp")
    )
    require(t.read().filter("ts >= '2022-01-01'").count() == 1, "evolved partition spec must still return the new row")
    return t.read().orderBy("c1")


@register(
    "q_meta_snapshots",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'append',   CAST(3 AS BIGINT)),
      (1, 'append',   CAST(5 AS BIGINT)),
      (2, 'truncate', CAST(0 AS BIGINT))
    ) AS t(ordinal, operation, n_records)
    ORDER BY ordinal
    """,
)
def q_meta_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.snapshots metadata table (Iceberg parity beyond .history):
    one row per snapshot with its operation and cumulative record
    count — the lineage a user inspects before time travel
    (/root/reference/README.md:353-362 shows the same via .history).
    """
    loc = scratch("meta_snapshots")
    t = IceTable.create(spark, loc, "k int, v string")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.insert_values([(4, "d"), (5, "e")])
    t.truncate()
    info = t.snapshots_info()
    rows = [
        (i, s["operation"], int(s["n_records"])) for i, s in enumerate(info)
    ]
    return spark.createDataFrame(
        rows, schema="ordinal int, operation string, n_records long"
    ).orderBy("ordinal")


@register(
    "q_meta_files",
    oracle="""
    SELECT source, n_records, has_bounds FROM (VALUES
      ('adopted', (SELECT COUNT(*) FROM region), false),
      ('native',  (SELECT COUNT(*) FROM region), true)
    ) AS t(source, n_records, has_bounds)
    ORDER BY source
    """,
)
def q_meta_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.files metadata table: per-file record counts and stats
    presence. A natively-written table carries column bounds in its
    metadata (prunable); an in-place *adopted* table does not — the
    reference's limitations.md:49-105 contrast, surfaced as a
    queryable metadata table.
    """
    region = load(spark, sf_dir, "region")

    native_loc = scratch("meta_files_native")
    native = IceTable.create_as(spark, native_loc, region)

    src_loc = scratch("meta_files_src")
    region.coalesce(1).write.mode("overwrite").parquet(src_loc)
    parquet_files = [
        os.path.join(src_loc, f)
        for f in sorted(os.listdir(src_loc))
        if f.endswith(".parquet")
    ]
    adopted_loc = scratch("meta_files_adopted")
    adopted = IceTable.adopt(spark, adopted_loc, parquet_files)

    rows = []
    for source, tbl in (("adopted", adopted), ("native", native)):
        files = tbl.meta.current_files()
        rows.append(
            (
                source,
                int(sum(f["record_count"] for f in files)),
                all(bool(f.get("bounds")) for f in files),
            )
        )
    return spark.createDataFrame(
        rows, schema="source string, n_records long, has_bounds boolean"
    ).orderBy("source")


@register(
    "q_maint_zorder",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           true AS pruned_on_user,
           true AS pruned_on_value
    FROM events
    WHERE user_id >= 100 AND user_id <= 120
    """,
)
def q_maint_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering over TWO columns (user_id, value):
    after one zorder rewrite, selective range predicates on EITHER
    column skip files (single-column sort can only serve one). The
    returned aggregate is over the user_id slice and must equal the
    raw-table oracle; both pruning gains ride as boolean invariants.

    100 TB: multi-dimension locality from one maintenance pass — the
    layout answer when scans filter on more than one column."""
    loc = scratch("maint_zorder")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    t = IceTable.create_as(spark, loc, ev.repartition(16))
    t.rewrite_data_files(target_num_files=16, zorder_by=["user_id", "value"])
    pu = [Pred("user_id", "between", (100, 120))]
    pv = [Pred("value", "between", (2.0, 2.5))]
    df_u = t.scan(pu)
    rep_u = t.last_scan_report
    t.scan(pv)
    rep_v = t.last_scan_report
    # Z-order trades sort-mode's sharp single-column pruning for
    # locality on EVERY clustered column: the sound invariant is a
    # meaningful fraction skipped on both dimensions (< 3/4 scanned),
    # not near-single-file scans (a range predicate that straddles a
    # top interleave bit legitimately touches half the curve).
    return df_u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.lit(rep_u["files_scanned"] * 4 < rep_u["files_total"] * 3).alias(
            "pruned_on_user"
        ),
        F.lit(rep_v["files_scanned"] * 4 < rep_v["files_total"] * 3).alias(
            "pruned_on_value"
        ),
    )


@register(
    "q_incr_agg_maintenance",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_incr_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate (materialized-view) maintenance: a
    per-status rollup is maintained by combining the PREVIOUS
    aggregate with the aggregate of ONLY the newly appended files
    (`IceTable.changes`) — count and decimal-sum are commutative
    monoids, so merge = union + re-sum. The maintained result must
    equal a full recompute (the oracle). At 100 TB each refresh costs
    O(delta) + O(groups), never a table re-scan — the viability
    condition for any always-fresh rollup."""
    loc = scratch("incr_agg")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 3 = 0"))
    s1 = t.meta.current_snapshot_id

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).alias("sum_price_dec"),
        )

    prev = rollup(t.read())  # the stored MV as of snapshot s1
    t.append(orders.filter("o_orderkey % 3 = 1"))  # new data lands
    delta = rollup(t.changes(from_snapshot_id=s1))  # O(delta) refresh
    return (
        prev.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price_dec").cast("double").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_wap_pattern",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(0 AS BIGINT) AS n_bad,
           COUNT(DISTINCT n_regionkey) AS n_regions
    FROM (
      SELECT * FROM nation
      UNION ALL
      SELECT n_nationkey + 2000, n_name, n_regionkey FROM nation
    )
    """,
)
def q_wap_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish: a bad batch (negative region keys) is
    committed, FAILS the audit query, and is un-published by rolling
    back to the pre-write snapshot; the clean batch then lands. Final
    state shows no trace of the rejected write — the snapshot log is
    what makes staged validation free (no copy of the table, no
    cleanup scan; audit reads the staged snapshot like any other).
    """
    loc = scratch("wap")
    nation = load(spark, sf_dir, "nation")
    t = IceTable.create_as(spark, loc, nation)
    s_published = t.meta.current_snapshot_id

    bad = nation.select(
        (F.col("n_nationkey") + 1000).alias("n_nationkey"),
        "n_name",
        F.lit(-1).alias("n_regionkey"),
    )
    t.append(bad)  # staged write
    audit_failed = t.read().filter(F.col("n_regionkey") < 0).count() > 0
    if audit_failed:
        t.rollback(s_published)  # un-publish

    clean = nation.select(
        (F.col("n_nationkey") + 2000).alias("n_nationkey"),
        "n_name",
        "n_regionkey",
    )
    t.append(clean)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("n_regionkey") < 0, 1).otherwise(0)).alias("n_bad"),
        F.countDistinct("n_regionkey").alias("n_regions"),
    )


_SCD2_ROWS = """
WITH h AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev
  FROM {src}
),
chg AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
  FROM h WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT o_orderkey, o_custkey,
       o_orderstatus AS status,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       CASE WHEN LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey)
            IS NULL THEN 1 ELSE 0 END AS is_current
FROM chg
"""


@register(
    "q_scd2_incremental",
    oracle=_SCD2_ROWS.format(src="orders")
    + " ORDER BY o_custkey, valid_from, o_orderkey",
)
def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD Type-2 maintenance on the versioned table
    layer, provably equal to a full rebuild (the oracle IS the full-
    history build over all orders).

    History before the cutoff becomes the initial dimension table; the
    post-cutoff delta then upserts via MERGE keyed on the change-event
    orderkey: only each affected customer's CURRENT row (the seed) +
    that customer's delta rows are re-windowed — O(|delta|) work, not
    a table rebuild. The seed carries the open interval's status, so
    LAG sees the right predecessor without reading any closed history.
    At 100 TB the dimension is merge-maintained from the day's
    partition while the closed rows never move (the CoW merge
    rewrites only files holding seed rows)."""
    cutoff = "1998-01-01"
    loc = scratch("scd2_incr")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"
    )
    hist = orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
    delta = orders.filter(F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp"))

    hist.createOrReplaceTempView("iws_scd2_hist")
    t = IceTable.create_as(
        spark, loc, spark.sql(_SCD2_ROWS.format(src="iws_scd2_hist"))
    )

    affected = delta.select("o_custkey").distinct()
    seeds = (
        t.read()
        .join(F.broadcast(affected), "o_custkey", "left_semi")
        .filter(F.col("is_current") == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("status").alias("o_orderstatus"),
            F.col("valid_from").alias("o_orderdate"),
        )
    )
    seeds.unionByName(delta).createOrReplaceTempView("iws_scd2_recompute")
    src = spark.sql(_SCD2_ROWS.format(src="iws_scd2_recompute"))
    t.merge_into(src, on=["o_orderkey"])
    return t.read().orderBy("o_custkey", "valid_from", "o_orderkey")


@register(
    "q_tt_tag_branch",
    oracle="""
    SELECT 'branch_audit' AS ref,
           (SELECT COUNT(*) FROM nation) + 2 AS n_rows,
           1 AS has_990, 1 AS has_991, 0 AS has_992
    UNION ALL
    SELECT 'main', (SELECT COUNT(*) FROM nation) + 2, 1, 0, 1
    UNION ALL
    SELECT 'tag_v1', (SELECT COUNT(*) FROM nation), 0, 0, 0
    ORDER BY ref
    """,
)
def q_tt_tag_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg tags + branches — the ref layer behind
    `VERSION AS OF '<name>'` and branch-scoped writes): tag `v1` pins
    the initial snapshot forever; branch `audit` diverges after one
    shared append and receives its own append while main receives a
    different one. Each ref then reads its own file list — three
    histories over one physical table, no data copied (the shared
    990-append file is referenced by both heads)."""
    loc = scratch("tag_branch")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "nation"))
    t.create_tag("v1")
    t.insert_values([(990, "FAKELAND", 0)])
    t.create_branch("audit")
    t.append(
        spark.createDataFrame([(991, "AUDITLAND", 1)], schema=t.meta.schema_ddl),
        branch="audit",
    )
    t.insert_values([(992, "MAINLAND", 2)])

    def stat(df: DataFrame, ref: str) -> DataFrame:
        return df.agg(
            F.lit(ref).alias("ref"),
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.when(F.col("n_nationkey") == 990, 1).otherwise(0)).alias("has_990"),
            F.max(F.when(F.col("n_nationkey") == 991, 1).otherwise(0)).alias("has_991"),
            F.max(F.when(F.col("n_nationkey") == 992, 1).otherwise(0)).alias("has_992"),
        )

    return (
        stat(t.read(ref="audit"), "branch_audit")
        .unionAll(stat(t.read(), "main"))
        .unionAll(stat(t.read(ref="v1"), "tag_v1"))
        .orderBy("ref")
    )


@register(
    "q_meta_partitions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS STRING) AS partition_year,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY year(o_orderdate)
    ORDER BY partition_year
    """,
)
def q_meta_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.partitions metadata table (SHOW PARTITIONS + stats, A32): per-
    partition row counts aggregated from manifest entries ONLY — no
    data files are opened, the numbers come from each file's
    `record_count` and hidden-partition value. The oracle recomputes
    the same totals from the raw data, proving manifest stats are
    trustworthy (the property that makes metadata-only planning sound
    at 100 TB)."""
    loc = scratch("meta_partitions")
    orders = load(spark, sf_dir, "orders")
    t = IceTable.create(
        spark,
        loc,
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp",
        partition_spec=[spec_field("o_orderdate", "year", "order_year")],
    )
    t.append(orders.select("o_orderkey", "o_custkey", "o_orderdate"))

    agg: dict[str, int] = {}
    for f in t.meta.current_files():
        key = f["partition"].get("order_year", "")
        agg[key] = agg.get(key, 0) + int(f["record_count"])
    return spark.createDataFrame(
        sorted(agg.items()), schema="partition_year string, n_rows long"
    ).orderBy("partition_year")


@register(
    "q_dml_delete_mor",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus <> 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
    ORDER BY o_orderkey
    """,
)
def q_dml_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (Iceberg v2 equality-delete files): the
    'F' orders are deleted by committing a key list — no data file is
    rewritten. A subset of the deleted keys is then RE-INSERTED; the
    sequence rule (deletes apply only to strictly older data) must
    let them survive the read-time anti-join. Finally the deletes are
    materialized (`rewrite_equality_deletes`) and the answer must not
    change — proving MoR read, sequence semantics, and delete
    compaction agree."""
    loc = scratch("delete_mor")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = IceTable.create_as(spark, loc, orders)
    stats = t.delete_where_mor("o_orderstatus = 'F'", keys=["o_orderkey"])
    require(stats["delete_files_added"] >= 1, "MoR delete must add a delete file")
    t.append(orders.filter("o_orderstatus = 'F' AND o_orderkey % 10 = 0"))
    n_mor = t.read().count()
    rstats = t.rewrite_equality_deletes()
    require(rstats["delete_files_removed"] >= 1, "materialization must drop delete files")
    out = t.read()
    require(out.count() == n_mor, "materialization preserved the answer")
    return out.orderBy("o_orderkey")


@register(
    "q_dml_delete_positional",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE NOT (o_totalprice < 50000)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_totalprice < 50000 AND o_orderkey % 7 = 0
    ORDER BY o_orderkey
    """,
)
def q_dml_delete_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via Iceberg v2 POSITIONAL delete files
    (`sql/update_iceberg_v2_examples.sql:1-18`;
    `limitations.md:44-46`): a non-key predicate (price threshold)
    deletes rows by recording (file_path, row ordinal) pairs — the
    delete flavor engines write when there is no equality key. A
    subset of deleted rows is RE-INSERTED and must survive (their new
    file's paths can never collide with recorded positions); then
    `rewrite_position_delete_files` compacts the delete files and the
    answer must not change."""
    loc = scratch("delete_pos")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = IceTable.create_as(spark, loc, orders.repartition(4))
    stats = t.delete_where_pos("o_totalprice < 50000")
    require(
        stats["delete_files_added"] >= 1,
        "positional delete must add a delete file",
    )
    require(
        stats["positions_deleted"] > 0,
        "fixture must contain rows under the price threshold",
    )
    t.append(orders.filter("o_totalprice < 50000 AND o_orderkey % 7 = 0"))
    n_mor = t.read().count()
    rep = t.rewrite_position_deletes()
    require(
        rep["rewritten_delete_files_count"] >= 1,
        "compaction must rewrite the positional delete file",
    )
    out = t.read()
    require(out.count() == n_mor, "delete-file compaction preserved the answer")
    return out.orderBy("o_orderkey")


@register(
    "q_meta_delete_files",
    oracle="""
    SELECT 'EQUALITY_DELETES' AS content,
           CAST(1 AS BIGINT) AS n_files,
           (SELECT COUNT(DISTINCT c_nationkey) FROM customer
            WHERE c_nationkey < 5) AS total_records
    UNION ALL
    SELECT 'POSITION_DELETES',
           CAST(1 AS BIGINT),
           (SELECT COUNT(*) FROM customer
            WHERE c_nationkey >= 5 AND c_acctbal < 0)
    ORDER BY content
    """,
)
def q_meta_delete_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg's `.delete_files` metadata table over a mixed MoR
    history: one equality-delete file (key list) plus one positional
    delete file (file_path/pos pairs) — the listing reports each
    flavor's content type and record count without opening data files.
    `.position_deletes` (the row-level view) is cross-checked: its row
    count must equal the positional entry's record_count."""
    from iceberg_workshop_spark.plans.sqlfront import IceSqlSession

    loc = scratch("meta_delete_files")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    t = IceTable.create_as(spark, loc, cust.repartition(4))
    t.delete_where_mor("c_nationkey < 5", keys=["c_nationkey"])
    t.delete_where_pos("c_nationkey >= 5 AND c_acctbal < 0")
    sess = IceSqlSession(spark)
    sess.register_table("db.cust", t)
    out = sess.sql(
        """SELECT content, COUNT(*) AS n_files,
                  CAST(SUM(record_count) AS BIGINT) AS total_records
           FROM db.cust.delete_files
           GROUP BY content ORDER BY content"""
    )
    n_pos_rows = sess.sql(
        "SELECT COUNT(*) AS n FROM db.cust.position_deletes"
    ).first()["n"]
    pos_rec = {
        r["content"]: r["total_records"] for r in out.collect()
    }["POSITION_DELETES"]
    require(
        n_pos_rows == pos_rec,
        ".position_deletes row count must equal the .delete_files record_count",
    )
    return out


@register(
    "q_meta_refs",
    oracle="""
    SELECT 'audit' AS ref_name, 'branch' AS ref_type,
           (SELECT COUNT(*) FROM region) + 1 AS n_rows
    UNION ALL
    SELECT 'v1', 'tag', (SELECT COUNT(*) FROM region)
    ORDER BY ref_name
    """,
)
def q_meta_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.refs metadata table (Iceberg's `SELECT * FROM tbl.refs`): one
    row per named ref with its type and the row count visible at its
    head — metadata joined to a ref-addressed count, no data files
    opened for the listing itself."""
    loc = scratch("meta_refs")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "region"))
    t.create_tag("v1")
    t.create_branch("audit")
    t.append(
        spark.createDataFrame([(99, "NEWLAND")], schema=t.meta.schema_ddl),
        branch="audit",
    )
    rows = [
        (name, r["type"], t.read(ref=name).count())
        for name, r in sorted(t.meta.refs.items())
    ]
    return spark.createDataFrame(
        rows, schema="ref_name string, ref_type string, n_rows long"
    ).orderBy("ref_name")


@register(
    "q_part_bucket",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_custkey = 42
    ORDER BY o_orderkey
    """,
)
def q_part_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``bucket[8]`` partitioning (the Iceberg hash transform,
    A23's non-temporal sibling): orders land in 8 hash buckets of
    o_custkey; a point predicate on the raw column prunes to ~1/8 of
    files via the planner's literal-bucket computation, while the
    answer must equal the unpartitioned oracle. The scan-report
    assertion keeps the pruning honest, not just the values."""
    loc = scratch("part_bucket")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IceTable.create_as(
        spark,
        loc,
        orders,
        partition_spec=[spec_field("o_custkey", "bucket[8]", "custkey_bucket")],
    )
    df = t.scan([Pred("o_custkey", "=", 42)])
    rep = t.last_scan_report
    require(rep["files_scanned"] * 4 <= rep["files_total"], f"bucket scan must prune to <= 1/4 of files: {rep}")
    return df.select("o_orderkey", "o_custkey", "o_orderstatus").orderBy(
        "o_orderkey"
    )


@register(
    "q_part_truncate",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_custkey BETWEEN 200 AND 299
    ORDER BY o_orderkey
    """,
)
def q_part_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``truncate[100]`` partitioning (Iceberg's width
    transform): custkeys land in width-100 ranges, and because
    truncation is ORDER-PRESERVING (unlike bucket), a range predicate
    on the raw column prunes directly — the planner maps the interval
    through the transform and keeps only overlapping widths. Asserted
    ≤ 2× the ideal single-width fraction; answers equal the
    unpartitioned oracle."""
    loc = scratch("part_truncate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IceTable.create_as(
        spark,
        loc,
        orders,
        partition_spec=[spec_field("o_custkey", "truncate[100]", "custkey_w100")],
    )
    df = t.scan([Pred("o_custkey", "between", (200, 299))])
    rep = t.last_scan_report
    n_widths = len({f["partition"]["custkey_w100"] for f in t.meta.current_files()})
    require(rep["files_scanned"] * n_widths <= 2 * rep["files_total"], f"truncate-transform scan must prune: {rep}")
    return df.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        "o_orderkey"
    )


@register(
    "q_maint_manifests",
    oracle="""
    SELECT 'after_rollback' AS phase,
           (SELECT COUNT(*) FROM region) AS n_rows, 2 AS n_snapshots
    UNION ALL
    SELECT 'compacted', (SELECT COUNT(*) FROM region), 1
    ORDER BY phase
    """,
)
def q_maint_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest/metadata-log compaction (A30,
    `CALL system.rewrite_manifests` — README.md:409): two appends,
    a rollback abandoning the second append, then compaction drops
    the abandoned snapshot from the log while the tagged first append
    survives as a retention root. Row counts prove data is untouched;
    snapshot counts prove the log shrank by exactly the abandoned
    branch."""
    loc = scratch("maint_manifests")
    t = IceTable.create_as(spark, loc, load(spark, sf_dir, "region"))
    t.create_tag("keep")
    t.insert_values([(90, "DROPLAND")])
    abandoned = t.meta.current_snapshot_id
    t.rollback(t.meta.snapshot(abandoned)["parent_id"])
    n_before = len(t.meta.snapshots)
    row_before = ("after_rollback", t.read().count(), n_before)
    stats = t.rewrite_manifests()
    require(abandoned not in {s["snapshot_id"] for s in t.meta.snapshots}, "expire must drop the abandoned snapshot")
    require(t.read(ref="keep").count() == row_before[1], "kept ref must survive expire with its rows")
    row_after = ("compacted", t.read().count(), stats["snapshots_after"])
    return spark.createDataFrame(
        [row_before, row_after], schema="phase string, n_rows long, n_snapshots int"
    ).orderBy("phase")


@register(
    "q_schema_drop_column",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey
    FROM (
      SELECT c_custkey, c_name, CAST(NULL AS INT) AS c_nationkey FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, c_name, 0 FROM customer WHERE c_custkey < 5
    )
    ORDER BY c_custkey
    """,
)
def q_schema_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN then ADD COLUMN of the same name (the evolution
    sequence that needs column-identity care): after dropping
    c_nationkey the old files' physical column stops being projected;
    re-adding the name creates a LOGICALLY NEW column that reads NULL
    from pre-drop files — old values must NOT resurface — while
    post-re-add inserts carry real values. Metadata-only throughout:
    zero files rewritten."""
    loc = scratch("drop_column")
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    t = IceTable.create_as(spark, loc, customer)
    t.drop_column("c_nationkey")
    require("c_nationkey" not in t._column_names(), "DROP COLUMN must remove the column")
    t.add_column("c_nationkey", "int")
    new_rows = (
        customer.filter(F.col("c_custkey") < 5)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_nationkey", F.lit(0))
    )
    t.append(new_rows)
    return t.read().orderBy("c_custkey")


@register(
    "q_schema_rename_column",
    oracle="""
    SELECT o_orderkey, priority FROM (
      SELECT o_orderkey, o_orderpriority AS priority FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, 'RENAMED-ERA' FROM orders
      WHERE o_orderkey < 5
    )
    WHERE priority IN ('1-URGENT', 'RENAMED-ERA')
    ORDER BY o_orderkey
    """,
)
def q_schema_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only RENAME COLUMN: o_orderpriority becomes
    `priority`; values in pre-rename files are PRESERVED (reads alias
    each file era's physical name back to the logical name — no
    rewrite, no NULL-out), post-rename appends write the new name, and
    a filter on the renamed column spans both eras."""
    loc = scratch("rename_column")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    t = IceTable.create_as(spark, loc, orders)
    t.rename_column("o_orderpriority", "priority")
    require(t._column_names() == ["o_orderkey", "priority"], "RENAME must be metadata-only and ordered")
    t.append(
        orders.filter(F.col("o_orderkey") < 5).select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            F.lit("RENAMED-ERA").alias("priority"),
        )
    )
    return (
        t.read()
        .filter(F.col("priority").isin("1-URGENT", "RENAMED-ERA"))
        .orderBy("o_orderkey")
    )


@register(
    "q_part_evolution_bucket",
    oracle="""
    SELECT o_orderkey, o_custkey FROM (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate <  TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    )
    WHERE o_custkey = 42
    ORDER BY o_orderkey
    """,
)
def q_part_evolution_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution INTO a hash spec (unpartitioned →
    bucket[8](o_custkey)): pre-evolution files have no partition tuple
    and must always scan; post-evolution files prune to the literal's
    bucket. One point predicate exercises both pruning eras in a
    single mixed-layout scan — old files all kept (sound), new files
    ~1/8 kept — and the answer equals the unpartitioned oracle."""
    loc = scratch("part_evo_bucket")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    old = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    new = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
    t = IceTable.create_as(spark, loc, old)
    t.set_partition_spec([spec_field("o_custkey", "bucket[8]", "ck_bucket")])
    t.append(new)
    df = t.scan([Pred("o_custkey", "=", 42)])
    rep = t.last_scan_report
    n_new_files = sum(
        1 for f in t.meta.current_files() if f.get("partition")
    )
    n_old_files = rep["files_total"] - n_new_files
    # all old-era files survive (no partition info), new era prunes
    require(rep["files_scanned"] < rep["files_total"], f"evolved-spec scan must prune: {rep}")
    require(rep["files_scanned"] >= n_old_files, f"pre-evolution files cannot be pruned by the new spec: {rep}")
    return df.select("o_orderkey", "o_custkey").orderBy("o_orderkey")


@register(
    "q_maint_orphans",
    oracle="""
    SELECT 'after_cleanup' AS phase, 0 AS n_orphans,
           (SELECT COUNT(*) FROM region) AS n_rows
    UNION ALL
    SELECT 'detected', 2, (SELECT COUNT(*) FROM region)
    ORDER BY phase
    """,
)
def q_maint_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file lifecycle (the reference demonstrates it by listing
    S3 before/after — README.md:364-381): two stray parquet files are
    planted in the data directory (a crashed writer's leftovers), the
    dry-run report detects exactly them, expiration's cleanup removes
    them, and table reads are identical throughout — orphans are
    invisible to queries because scans come from the manifest, never
    from directory listing."""
    import glob as _glob

    loc = scratch("maint_orphans")
    region = load(spark, sf_dir, "region")
    t = IceTable.create_as(spark, loc, region)
    stray_dir = os.path.join(loc, "data", "stray")
    region.limit(2).coalesce(1).write.mode("overwrite").parquet(stray_dir)
    extra = [p for p in _glob.glob(os.path.join(stray_dir, "*.parquet"))]
    # duplicate one stray so the count is 2 regardless of writer split
    import shutil as _sh

    while len(extra) < 2:
        dup = extra[0].replace(".parquet", "_dup.parquet")
        _sh.copy(extra[0], dup)
        extra.append(dup)
    rep = t.orphan_file_report()
    detected = ("detected", rep["files_orphaned"], t.read().count())
    from iceberg_workshop_spark.icetbl.meta import now_ms

    # CALL system.remove_orphan_files — the age guard (Iceberg's 3-day
    # default) is lifted to "now" because these strays are known dead;
    # production callers keep the default so a concurrent writer's
    # in-flight files are never eaten.
    t.remove_orphan_files(older_than_ms=now_ms() + 60_000)
    rep2 = t.orphan_file_report()
    cleaned = ("after_cleanup", rep2["files_orphaned"], t.read().count())
    return spark.createDataFrame(
        [detected, cleaned], schema="phase string, n_orphans int, n_rows long"
    ).orderBy("phase")
