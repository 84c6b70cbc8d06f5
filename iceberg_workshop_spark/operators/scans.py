"""Scan / source / sink queries.

Covers the reference's source formats: CSV with explicit schema +
header skip (``/root/reference/sql/airlines.sql:5-39``), Parquet scans
(``/root/reference/README.md:78,86``), CTAS round-trips
(``/root/reference/sql/airlines.sql:49-55``) and partition-pruned
scans (``/root/reference/README.md:214-237``).

Scale notes: every scan here is a plain ``spark.read`` — vectorized
Parquet reader, predicate pushdown, column pruning all apply. The
pruned-scan query writes a `partitionBy(year)` copy so Catalyst prunes
directories; correctness is checked against the unpartitioned oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.registry import persist, register, scratch
from iceberg_workshop_spark.sources.tables import load

@register(
    "q_scan_parquet",
    oracle="SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Parquet scan, all columns, stable order (A2)."""
    return load(spark, sf_dir, "lineitem").orderBy("l_orderkey", "l_linenumber")


@register(
    "q_scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with explicit schema + header (A1 semantics).

    Mirrors ``TBLPROPERTIES("skip.header.line.count"="1")`` and the
    ``,`` delimiter of ``/root/reference/sql/airlines.sql:36-39``. The
    schema is explicit (never inferred) so types stay stable.
    """
    out = scratch("csv_nation")
    nation = load(spark, sf_dir, "nation")
    nation.write.option("header", True).option("sep", ",").csv(out)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", True)
        .option("sep", ",")
        .csv(out)
        .orderBy("n_nationkey")
    )


@register(
    "q_ctas_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
)
def q_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS to a new Parquet table, read back (A3/A4 semantics,
    ``/root/reference/sql/airlines.sql:49-55``)."""
    out = scratch("ctas_supplier")
    load(spark, sf_dir, "supplier").write.parquet(out)
    return spark.read.parquet(out).orderBy("s_suppkey")


@register(
    "q_scan_pruned",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    """,
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan (A25, ``/root/reference/README.md:214-237``).

    Writes a ``partitionBy(l_shipyear)`` copy, then filters on the
    partition column so Catalyst prunes to 1-of-N directories; the
    answer must equal the unpartitioned oracle. The 1-year-predicate
    pruning ratio is benchmarked in bench.py (BASELINE.md target:
    ≤0.84% of files for the reference's 1/238 showcase).
    """
    out = scratch("lineitem_by_year")
    (
        load(spark, sf_dir, "lineitem")
        .withColumn("l_shipyear", F.year("l_shipdate"))
        .write.partitionBy("l_shipyear")
        .parquet(out)
    )
    part = spark.read.parquet(out).filter(F.col("l_shipyear") == 1997)
    return part.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "q_scan_json",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round trip: write nation as JSONL, read back with an
    explicit schema (schema inference is a second full scan — never in
    a 100 TB pipeline). Dialect closure of A1's CSV staging pattern for
    the other ubiquitous interchange format."""
    out = scratch("json_nation")
    src = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    src.write.json(out)
    return (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .json(out)
        .orderBy("n_nationkey")
    )


@register(
    "q_scan_orc",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier ORDER BY s_suppkey
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip — the other columnar format the lakehouse world
    reads; same vectorized reader + pushdown machinery as Parquet."""
    out = scratch("orc_supplier")
    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    src.write.orc(out)
    return spark.read.orc(out).orderBy("s_suppkey")


@register(
    "q_scan_text",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MIN(length(text)) AS min_len,
           MAX(length(text)) AS max_len
    FROM documents
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source round trip: documents written as line-oriented
    text files (`spark.read.text` — the rawest corpus ingestion shape,
    one row per line), read back and profiled. Line-count/length
    aggregates must match the structured table exactly; at 100 TB the
    text source splits on line boundaries so parallelism is
    byte-range-based, same as CSV."""
    out = scratch("scan_text")
    docs = load(spark, sf_dir, "documents").select("text")
    docs.write.text(out)
    lines = spark.read.text(out)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


@register(
    "q_scan_xml",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round trip (Spark 4 built-in `xml` source, the merged
    spark-xml): write nation with row/root tags, read back with an
    explicit schema + rowTag. Closes the last interchange format the
    staging pattern (A1) covers; like the JSON/CSV twins, inference is
    skipped — an explicit schema keeps the read one pass."""
    out = scratch("xml_nation")
    src = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    (
        src.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .load(out)
        .orderBy("n_nationkey")
    )


@register(
    "q_scan_csv_dirty",
    oracle="""
    SELECT cls, n FROM (VALUES
      ('corrupt_rows', 2),
      ('dropmalformed_rows', 3),
      ('good_rows', 3)
    ) AS t(cls, n)
    ORDER BY cls
    """,
)
def q_scan_csv_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input contract of the CSV reader (the staging path of
    A1 meeting real-world data): PERMISSIVE mode captures broken rows
    in a corrupt-record column (counted after a cache — Spark refuses
    a query projecting ONLY that internal column), DROPMALFORMED
    silently drops them. 3 well-formed + 2 broken rows → 3/2/3,
    engine-independent by construction."""
    out = scratch("csv_dirty")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "rows.csv"), "w") as fh:
        fh.write("1,alpha\n2,beta\nnot_an_int,gamma\n3,delta\n4,epsilon,extra,cols\n")
    # DROPMALFORMED first: once the PERMISSIVE scan is cached, the
    # CacheManager would substitute it for this same-path read even
    # though the parse mode differs (options are not part of the
    # canonicalized plan) and nothing would be dropped.
    # .count() would lie here: a zero-column CSV count skips parsing
    # entirely (it counts raw lines), so malformed rows are never
    # dropped. Materializing the parsed columns gives the real answer.
    n_dropped_mode = len(
        spark.read.schema("k int, v string")
        .option("mode", "DROPMALFORMED")
        .csv(out)
        .collect()
    )
    schema = "k int, v string, _corrupt_record string"
    permissive = persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    n_corrupt = permissive.filter(F.col("_corrupt_record").isNotNull()).count()
    n_good = permissive.filter(F.col("_corrupt_record").isNull()).count()
    return spark.createDataFrame(
        [
            ("corrupt_rows", n_corrupt),
            ("dropmalformed_rows", n_dropped_mode),
            ("good_rows", n_good),
        ],
        schema="cls string, n long",
    ).orderBy("cls")


@register(
    "q_scan_recursive_glob",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey = 0
    ORDER BY n_nationkey, n_regionkey
    """,
)
def q_scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-directory ingestion: files written under different
    subtrees (a date-partitioned drop zone) picked up in ONE read via
    ``recursiveFileLookup`` — the loose-landing-zone pattern before
    data is adopted into the table layer. The oracle is the exact
    union of what both subtrees hold."""
    base = scratch("recglob")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.write.parquet(os.path.join(base, "drop=1", "batch=a"))
    n.filter(F.col("n_regionkey") == 0).write.parquet(
        os.path.join(base, "drop=2", "batch=b")
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .parquet(base)
        .orderBy("n_nationkey", "n_regionkey")
    )


@register(
    "q_scan_bloom",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
    """,
)
def q_scan_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (Iceberg's
    ``write.parquet.bloom-filter-enabled.column.X`` property): a point
    lookup on an UNSORTED high-cardinality column, where every file's
    min/max spans the whole domain and stats skipping is powerless.
    The write embeds real Parquet bloom pages AND mirrors a per-file
    bitmap into the manifest (icetbl/bloom.py), so the planner drops
    files whose bloom provably lacks the probed key. require() pins
    that the scan engaged the filter (scanned < total) — at 16 files
    with 3 probe bits the expected false-positive scan is ~1 file.
    """
    from iceberg_workshop_spark.icetbl import IceTable, Pred
    from iceberg_workshop_spark.registry import require

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    loc = scratch("orders_bloom")
    t = IceTable.create(
        spark, loc, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    )
    t.set_properties({"write.parquet.bloom-filter-enabled.column.o_custkey": "true"})
    t.append(orders.repartition(16))  # hash layout: stats cannot prune
    probe = int(orders.agg(F.min("o_custkey")).first()[0])
    hit = t.scan([Pred("o_custkey", "=", probe)])
    rep = t.last_scan_report
    require(
        rep["files_scanned"] < rep["files_total"],
        f"bloom skipping did not engage: {rep}",
    )
    return hit.filter(F.col("o_custkey") == probe).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
