"""Bucketed (pre-shuffled) tables: co-located joins without exchanges.

At 100 TB the dominant cost of a fact⋈fact join is shuffling both
sides. Writing both tables bucketed on the join key
(``bucketBy(n, key).sortBy(key)``) pays that shuffle once at write
time; every subsequent join on the key is exchange-free — Spark reads
matching buckets pairwise (and with sorted buckets skips the sort
too). This is the write-side twin of the icetbl layer's read-side
pruning: organize data once, win on every query.

The reference's partitioning chapters demonstrate the same principle
for scans (/root/reference/sql/*_partitioning_examples.sql); bucketing
extends it to join locality, which the reference's engines get from
Hive bucketed tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.exprs import dsum
from iceberg_workshop_spark.registry import register, scratch
from iceberg_workshop_spark.sources.tables import load

N_BUCKETS = 8


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_custkey AS custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_custkey
    ORDER BY custkey
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables bucketed on the join key — zero exchanges.

    Both sides are written ``bucketBy(8, custkey).sortBy(custkey)``;
    the join then plans as a SortMergeJoin whose children are bare
    bucket scans (asserted in tests/test_plans.py). The aggregation
    after the join also reuses the bucket partitioning. Results equal
    the plain join, which is the oracle.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    # a database under this call's scratch: the scope drops it and
    # removes its files on return
    db = "iws_bucketed"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{scratch(db)}'")
    (
        orders.write.bucketBy(N_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .format("parquet")
        .saveAsTable(f"{db}.orders")
    )
    (
        customer.write.bucketBy(N_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .format("parquet")
        .saveAsTable(f"{db}.customer")
    )
    o = spark.table(f"{db}.orders")
    c = spark.table(f"{db}.customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("custkey")
    )
