"""Physical-layout probes: runtime partition pruning, file-level
metadata introspection, and key-skew diagnostics.

The reference's partitioning chapters prove *static* pruning
(``/root/reference/README.md:214-237`` — a literal predicate prunes
directories). At 100 TB the join-driven variant matters just as much:
the dimension filter is only known at runtime, and Spark's dynamic
partition pruning (DPP) broadcasts the dim's partition keys into the
fact scan so un-joined partitions are never read. ``q_join_dpp``
pins that plan shape in-query (``require``), not just in a test.

``q_scan_file_metadata`` exercises the ``_metadata`` hidden column —
the file-provenance surface that positional deletes and audits build
on. ``q_profile_skew`` is the planning diagnostic that decides when
the salting strategies (operators/skew.py) are worth applying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.registry import register, require, scratch
from iceberg_workshop_spark.sources.tables import load

# month-number -> quarter dim, tiny and broadcastable; the DPP filter
# ("quarter 2") lives on the dim side so the fact months to scan are
# only known after the dim filter runs — the dynamic-pruning shape.
_MONTH_DIM = [(m, (m - 1) // 3 + 1) for m in range(1, 13)]


def _orders_by_month(spark: SparkSession, sf_dir: str) -> str:
    out = scratch("orders_by_month")
    (
        load(spark, sf_dir, "orders")
        .withColumn("o_month", F.month("o_orderdate"))
        .repartition("o_month")
        .write.partitionBy("o_month")
        .parquet(out)
    )
    return out


@register(
    "q_join_dpp",
    oracle="""
    SELECT CAST(month(o_orderdate) AS INT) AS o_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE (month(o_orderdate) - 1) // 3 + 1 = 2
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: fact partitioned by month, joined to
    a broadcast month→quarter dim filtered to Q2. The months to scan
    are a *runtime* result of the dim filter, so Catalyst injects a
    dynamicpruning subquery into the fact scan — only 3 of 12
    partition directories are read. The plan shape is asserted
    in-query; at 1000 executors this is the difference between
    reading 25% and 100% of a date-partitioned fact table."""
    fact = spark.read.parquet(_orders_by_month(spark, sf_dir))
    dim = spark.createDataFrame(_MONTH_DIM, "m_month int, m_quarter int")
    joined = fact.join(
        F.broadcast(dim.filter(F.col("m_quarter") == 2)),
        fact.o_month == dim.m_month,
    )
    plan = joined._jdf.queryExecution().toString()
    require(
        "dynamicpruning" in plan,
        "expected a dynamicpruning subquery on the fact scan",
    )
    return (
        joined.groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(F.col("o_month").cast("int").alias("o_month"), "n_orders", "total_price")
        .orderBy("o_month")
    )


@register(
    "q_scan_file_metadata",
    oracle="""
    SELECT lang,
           1 AS n_files,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance audit via the ``_metadata`` hidden column: who
    wrote which rows where. Documents are written partitioned by
    lang (hash-clustered first, so each lang lands in exactly one
    file — the write.distribution-mode=hash layout); the read-side
    groups by the partition value parsed from ``_metadata.file_path``
    and proves one-file-per-partition. The same column feeds the
    positional-delete path (plans/lifecycle.py) — this pins its
    provenance contract standalone."""
    out = scratch("docs_by_lang")
    (
        load(spark, sf_dir, "documents")
        .repartition("lang")
        .write.partitionBy("lang")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"lang=([a-z]+)/", 1
            ).alias("lang"),
            F.col("_metadata.file_path").alias("_path"),
            "source",
            "n_chars",
        )
        .groupBy("lang")
        .agg(
            F.countDistinct("_path").cast("int").alias("n_files"),
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "q_profile_skew",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    top10 AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS top10_rows
      FROM (SELECT cnt FROM per_key ORDER BY cnt DESC, o_custkey LIMIT 10)
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           MAX(cnt) AS max_key_rows,
           CAST((CAST(1000000 AS HUGEINT) * MAX(cnt))
                // CAST(SUM(cnt) AS HUGEINT) AS BIGINT)
             AS top1_share_ppm,
           CAST((CAST(100 AS HUGEINT) * MAX(cnt) * COUNT(*))
                // CAST(SUM(cnt) AS HUGEINT) AS BIGINT)
             AS skew_x100,
           CAST((CAST(1000000 AS HUGEINT) * (SELECT top10_rows FROM top10))
                // CAST(SUM(cnt) AS HUGEINT) AS BIGINT) AS top10_share_ppm
    FROM per_key
    """,
)
def q_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic on orders.o_custkey: key cardinality,
    hottest-key share (ppm), max/mean ratio (×100), and the top-10-key
    share — the numbers that decide between a plain shuffle join,
    AQE skew splitting, and explicit salting (operators/skew.py).
    Integer arithmetic throughout (DIV, not float division); the
    share/skew products multiply table-scale counts (1e6·max_rows,
    100·max_rows·n_keys), so they run in DECIMAL(38,0)/HUGEINT —
    the round-10 ppm discipline — instead of wrapping BIGINT at
    ~10^13 rows. One grouped agg plus a 10-row TakeOrdered; nothing
    touches the driver."""
    per_key = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top10 = (
        per_key.orderBy(F.desc("cnt"), "o_custkey")
        .limit(10)
        .agg(F.sum("cnt").alias("top10_rows"))
    )
    return (
        per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(top10))
        .selectExpr(
            "n_keys",
            "n_rows",
            "max_key_rows",
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * max_key_rows"
            " DIV CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)"
            " AS top1_share_ppm",
            "CAST(CAST(100 AS DECIMAL(38,0)) * max_key_rows * n_keys"
            " DIV CAST(n_rows AS DECIMAL(38,0)) AS BIGINT) AS skew_x100",
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * top10_rows"
            " DIV CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)"
            " AS top10_share_ppm",
        )
    )
