"""Catalog surface: SHOW TABLES / DESCRIBE / CREATE-DROP DATABASE
(reference A32-A34) and deterministic dataset splitting.

The reference drives its engines through catalog SQL constantly
(``SHOW TABLES`` /root/reference/README.md:35, ``DESCRIBE FORMATTED``
sql/hive_partitioning_examples.sql:44, ``DROP DATABASE ... CASCADE``
README.md:415, ``DROP TABLE IF EXISTS`` sql/iceberg_partitioning_
examples.sql:24). Spark's session catalog provides all of it; the
query below exercises the statements end-to-end and returns a
deterministic inventory so the oracle can check it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.registry import register, require, scratch
from iceberg_workshop_spark.sources.tables import TABLE_NAMES, load


def _values_sql(rows: list[tuple[str, str]]) -> str:
    return ", ".join(f"('{a}', '{b}')" for a, b in rows)


_CUSTOMER_COLS = [
    "c_custkey",
    "c_name",
    "c_nationkey",
    "c_acctbal",
    "c_mktsegment",
]

_EXPECTED = [("table", t) for t in sorted(TABLE_NAMES)] + [
    ("column", c) for c in _CUSTOMER_COLS
]


@register(
    "q_catalog_ops",
    oracle=f"""
    SELECT object_type, name
    FROM (VALUES {_values_sql(_EXPECTED)}) AS t(object_type, name)
    ORDER BY object_type, name
    """,
)
def q_catalog_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog round trip: create a database, register every fixture
    table, list them via SHOW TABLES, read customer's schema via
    DESCRIBE, drop a table and verify it disappears from the listing.

    The returned inventory (tables ∪ customer columns) is the golden
    the reference asserts by eye (README.md:35, :415); here it is
    oracle-checked.
    """
    spark.sql("CREATE DATABASE IF NOT EXISTS iws_catalog")
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).createOrReplaceTempView(f"iws_cat_{t}")

    # DROP + re-listing: a dropped view must vanish (A32 semantics).
    load(spark, sf_dir, "region").createOrReplaceTempView("iws_cat_doomed")
    spark.sql("DROP VIEW IF EXISTS iws_cat_doomed")

    shown = spark.sql("SHOW TABLES").filter(
        F.col("tableName").startswith("iws_cat_")
    )
    tables = shown.select(
        F.lit("table").alias("object_type"),
        F.regexp_replace("tableName", "^iws_cat_", "").alias("name"),
    )
    described = spark.sql("DESCRIBE iws_cat_customer").select(
        F.lit("column").alias("object_type"), F.col("col_name").alias("name")
    )
    return tables.unionAll(described).orderBy("object_type", "name")


@register(
    "q_llm_split_train_val",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
)
def q_llm_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val split (~75/25): the split
    of a document depends only on md5(doc_id), so it is stable across
    runs, engines, partitionings, and re-shards — the property a
    training pipeline needs to avoid leakage when data is re-ingested.
    md5 is bit-identical in Spark and DuckDB, hence the exact oracle.
    """
    tagged = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
                *"0123456789ab"
            ),
            "train",
        )
        .otherwise("val")
        .alias("split"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@register(
    "q_llm_sample_stratified",
    oracle="""
    WITH strata AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), ranked AS (
      SELECT d.doc_id, d.lang,
             ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rn
      FROM documents d
    )
    SELECT r.lang,
           COUNT(*) AS n_sampled,
           MIN(r.doc_id) AS min_doc,
           CAST(SUM(r.doc_id) AS BIGINT) AS sum_doc
    FROM ranked r
    JOIN strata s ON s.lang = r.lang
    WHERE r.rn <= CAST(CEIL(s.n * 0.2) AS BIGINT)
    GROUP BY r.lang
    ORDER BY r.lang
    """,
)
def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly ceil(20%) of each
    language stratum, selected by ranking md5(doc_id) within the
    stratum — a seedless, engine-independent pseudo-random order, so
    the same documents are chosen on every run/engine/partitioning
    (the reproducibility property a training-data pipeline needs; the
    md5 rank replaces `TABLESAMPLE`, which is neither stratified nor
    deterministic). One window over the stratum key, no driver logic.
    100 TB note: the 20% target is stratum-proportional (large k), so
    the per-stratum rank window holds a whole stratum in one task; at
    that scale refine to bucket-selection (count per (lang,
    md5-prefix bucket), prefix-sum the bucket counts to locate each
    stratum's cut bucket, rank only inside it) — q_llm_domain_mix
    documents the same plan."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    from pyspark.sql.window import Window

    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    rn = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.withColumn("rn", F.row_number().over(rn))
    sampled = ranked.join(F.broadcast(counts), "lang").filter(
        F.col("rn") <= F.ceil(F.col("n") * 0.2)
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("lang")
    )


@register(
    "q_catalog_rest",
    oracle="""
    SELECT * FROM (
      SELECT 'docs_all' AS table_name,
             2 AS n_snapshots,
             (SELECT COUNT(*) FROM documents) AS n_rows
      UNION ALL
      SELECT 'docs_even', 1,
             (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
    ) ORDER BY table_name
    """,
)
def q_catalog_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST-catalog round trip — the offline slice of the reference's
    multi-engine catalog story (docker-compose.yml:24-44 serves one
    Iceberg REST catalog to every engine): build two icetbl tables,
    serve their metadata over a loopback HTTP REST shim
    (icetbl/restcat.py), then act as a FOREIGN engine — discover
    namespaces and tables by name, load each table's current metadata
    document, and materialize its file list with manifest fetches that
    go over HTTP (RemoteTableMeta), never the metadata directory. Row
    counts come from reading exactly the served file list, so the
    oracle checks that catalog-served metadata reconstructs the same
    tables the writer committed (docs_all: CTAS + one append = 2
    snapshots over all documents; docs_even: CTAS of the even half).
    Per-table work is metadata-scale; the only data-sized jobs are the
    two CTAS writes and the verification counts."""
    from iceberg_workshop_spark.icetbl.restcat import (
        RestCatalogClient,
        RestCatalogServer,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    docs = load(spark, sf_dir, "documents")
    root = scratch("restcat")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    t_all = IceTable.create_as(spark, f"{root}/docs_all", even)
    t_all.append(odd)
    IceTable.create_as(spark, f"{root}/docs_even", even)

    srv = RestCatalogServer()
    srv.register("docs_all", f"{root}/docs_all")
    srv.register("docs_even", f"{root}/docs_even")
    base = srv.start()
    try:
        cli = RestCatalogClient(base)
        require(
            cli.list_namespaces() == [["default"]],
            "namespace listing must come from the server",
        )
        names = cli.list_tables()
        require(
            names == ["docs_all", "docs_even"],
            f"table discovery over REST failed: {names}",
        )
        rows = []
        for name in names:
            tm = cli.load_table(name)
            paths = [f["path"] for f in tm.current_files()]
            require(paths, f"{name}: served metadata lists no files")
            n_rows = spark.read.parquet(*paths).count()
            rows.append((name, len(tm.snapshots), n_rows))
        require(
            srv.n_requests >= 6,
            "metadata must be served over HTTP (config/list/load/manifests)",
        )
    finally:
        srv.stop()
    return spark.createDataFrame(
        rows, "table_name string, n_snapshots int, n_rows long"
    ).orderBy("table_name")


@register(
    "q_iceberg_export_roundtrip",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def q_iceberg_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Apache Iceberg BYTE-format round trip — the interop the
    reference demonstrates by opening one table from several engines
    via its metadata files (interoperability.md:76-112: `v<N>.metadata
    .json` + Avro manifests are the shared contract).

    Build an icetbl table from `nation`, EXPORT it as a spec-compliant
    Iceberg v2 table (icetbl/iceformat.py: TableMetadata JSON with
    schemas/specs/refs/snapshot-log, manifest list + manifest as Avro
    object container files written by the canonical Apache Avro Java
    library with Iceberg's field-ids, version-hint.text), then act as
    a FOREIGN engine: re-open the table purely from those bytes —
    version-hint → metadata.json → manifest-list Avro → manifest Avro
    → parquet paths — using an independent pure-Python Avro decoder,
    and aggregate the rows. The oracle checks the round-tripped table
    equals the source; require() pins the spec surface (format-version
    2, field-ids, summary counts). Metadata-scale work only."""
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        iceberg_data_files,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    nation = load(spark, sf_dir, "nation")
    root = scratch("iceexp")
    src = IceTable.create_as(spark, f"{root}/src", nation)
    export_iceberg(src, f"{root}/ice")
    doc = resolve_iceberg_metadata(f"{root}/ice")
    require(doc["format-version"] == 2, "must emit Iceberg v2 metadata")
    require(
        all(f.get("id") for f in doc["schemas"][0]["fields"]),
        "schema fields must carry Iceberg field-ids",
    )
    require(
        doc["refs"]["main"]["snapshot-id"] == doc["current-snapshot-id"],
        "main branch ref must point at the current snapshot",
    )
    files = iceberg_data_files(doc)
    require(files, "manifest walk must surface data files")
    n_src = nation.count()
    require(
        sum(f["record_count"] for f in files) == n_src,
        "manifest record counts must sum to the table rows",
    )
    return (
        read_iceberg(spark, f"{root}/ice")
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "q_iceberg_mor_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    WHERE n_nationkey NOT IN (1, 2, 3) AND n_nationkey < 20
    UNION ALL
    SELECT 2 AS n_nationkey, 'REBORN' AS n_name
    ORDER BY n_nationkey, n_name
    """,
)
def q_iceberg_mor_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Iceberg v2 MERGE-ON-READ round trip (round 12): equality
    AND positional delete files cross the byte-format boundary.

    Build a nation table; equality-delete keys {1,2,3}; APPEND key 2
    back (the v2 sequence rule — row_seq < delete_seq — must keep the
    re-inserted row); positional-delete rows with key >= 20. Export as
    a spec-compliant Iceberg v2 table: the MoR sidecars become REAL
    delete manifests (content=1 positional (file_path,pos) parquet,
    content=2 equality parquet with equality_ids), per-file data
    sequence numbers carried. Re-open from bytes alone and apply the
    deletes the way a real engine does (read_iceberg →
    _read_with_deletes). The oracle is the final logical row set, so
    a delete lost, double-applied, or sequence-misordered anywhere in
    the chain breaks parity. Replays the v2 row-level-ops surface of
    `sql/update_iceberg_v2_examples.sql:1-18` across the format
    boundary."""
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        iceberg_manifest_entries,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = scratch("icemor")
    t = IceTable.create_as(spark, f"{root}/src", nation)
    t.delete_keys_mor(
        spark.createDataFrame([(1,), (2,), (3,)], "n_nationkey int"),
        ["n_nationkey"],
    )
    t.append(
        spark.createDataFrame(
            [(2, "REBORN", 0)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
    )
    t.delete_where_pos("n_nationkey >= 20")
    export_iceberg(t, f"{root}/ice")
    doc = resolve_iceberg_metadata(f"{root}/ice")
    _, dels = iceberg_manifest_entries(doc)
    require(
        sorted(d["content"] for d in dels) == [1, 2],
        "export must emit one positional and one equality delete file",
    )
    require(
        next(d for d in dels if d["content"] == 2)["equality_ids"]
        == [1],
        "equality_ids must name the key column's field id",
    )
    return (
        read_iceberg(spark, f"{root}/ice")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey", "n_name")
    )


@register(
    "q_iceberg_time_travel",
    oracle="""
    SELECT 'v1_before' AS at, COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
    FROM nation
    UNION ALL
    SELECT 'v2_current', COUNT(*) + 1, CAST(SUM(n_nationkey) + 999 AS BIGINT)
    FROM nation
    ORDER BY at
    """,
)
def q_iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN-ENGINE time travel over the exported byte format (round
    12): the reference's fake-airline demo (`README.md:102-117` —
    insert a row, read the snapshot before vs after) replayed across
    the format boundary. Export with ``history=True`` ships the
    main-ancestry snapshot chain — real parent ids, timestamps,
    per-snapshot Avro manifest lists — and the reopened table is read
    AT each historic snapshot id purely from the emitted bytes. The
    oracle pins both instants' aggregates, so a snapshot chain broken
    anywhere (wrong parent, wrong file set per snapshot, log order)
    breaks parity."""
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = scratch("icett")
    t = IceTable.create_as(spark, f"{root}/src", nation)
    t.append(
        spark.createDataFrame(
            [(999, "FAKE_AIRLINE", 0)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
    )
    export_iceberg(t, f"{root}/ice", history=True)
    doc = resolve_iceberg_metadata(f"{root}/ice")
    snaps = doc["snapshots"]
    require(len(snaps) == 2, "history export must ship both snapshots")
    require(
        snaps[1]["parent-snapshot-id"] == snaps[0]["snapshot-id"],
        "parent chain must survive the export",
    )
    rows = []
    for label, sid in (
        ("v1_before", snaps[0]["snapshot-id"]),
        ("v2_current", snaps[1]["snapshot-id"]),
    ):
        agg = (
            read_iceberg(spark, f"{root}/ice", snapshot_id=sid)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_nationkey").cast("bigint").alias("sum_key"),
            )
            .first()
        )
        rows.append((label, agg["n_rows"], agg["sum_key"]))
    return spark.createDataFrame(
        rows, "at string, n_rows bigint, sum_key bigint"
    ).orderBy("at")


@register(
    "q_iceberg_import_manage",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           MIN(n_name) AS first_name
    FROM nation
    WHERE n_nationkey NOT IN (1, 2, 3) AND n_regionkey <> 0
    """,
)
def q_iceberg_import_manage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORT a real Iceberg table and keep MANAGING it (round 12) —
    the full switch story for a user arriving with an existing Iceberg
    table: build → MoR-delete keys {1,2,3} → export as spec bytes →
    ``import_iceberg`` adopts the files IN PLACE (no rewrite) with the
    foreign equality-delete file translated into a managed sidecar and
    source sequence numbers carried → then a FURTHER managed MoR
    delete (drop region 0) composes on the adopted table. The oracle
    is the final logical row set, so a delete dropped or re-applied in
    either dialect breaks parity. Complements q_iceberg_mor_roundtrip
    (which gates the read side); this gates adopt-and-write."""
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        import_iceberg,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = scratch("iceimp")
    t = IceTable.create_as(spark, f"{root}/src", nation)
    t.delete_keys_mor(
        spark.createDataFrame([(1,), (2,), (3,)], "n_nationkey int"),
        ["n_nationkey"],
    )
    export_iceberg(t, f"{root}/ice")
    adopted = import_iceberg(spark, f"{root}/ice", f"{root}/adopted")
    # same physical parquet — adopt-in-place, no rewrite
    src_paths = {f["path"] for f in t.meta.current_files()}
    adopted_paths = {f["path"] for f in adopted.meta.current_files()}
    require(
        adopted_paths == src_paths,
        "import must register the source files in place",
    )
    # keep managing: a further MoR delete in the adopted dialect
    region0 = nation.filter(F.col("n_regionkey") == 0).select(
        "n_nationkey"
    )
    adopted.delete_keys_mor(region0, ["n_nationkey"])
    return adopted.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        F.min("n_name").alias("first_name"),
    )


@register(
    "q_iceberg_export_bucket",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_custkey = 42
    ORDER BY o_orderkey
    """,
)
def q_iceberg_export_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket[N] across the byte-format boundary (round 13, VERDICT
    r12 task #2): since the internal bucket transform is Iceberg's
    murmur3_x86_32 over the spec's value encoding (icetbl/bucketing.py
    — pinned to the spec's published hash vectors), a bucket-
    partitioned table exports with a REAL ``bucket[8]`` spec entry
    whose partition ids a foreign engine's bucket-pruned scan can
    trust, instead of the pre-r13 loud refusal.

    Orders → bucket[8](o_custkey) table → export_iceberg → require()
    the emitted spec entry + full-count reopen parity through the
    pure-Python byte reader → import_iceberg adopts it back WITH the
    carried spec → an equality predicate on the raw column prunes the
    adopted scan to ~1/8 of files (scan-report-asserted) and returns
    the same rows as the unpartitioned oracle."""
    from iceberg_workshop_spark.icetbl import Pred, spec_field
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        import_iceberg,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    root = scratch("icebkt")
    src = IceTable.create_as(
        spark, f"{root}/src", orders,
        partition_spec=[
            spec_field("o_custkey", "bucket[8]", "ck_bucket")
        ],
    )
    export_iceberg(src, f"{root}/ice")
    doc = resolve_iceberg_metadata(f"{root}/ice")
    spec = doc["partition-specs"][0]["fields"]
    require(
        [(f["name"], f["transform"]) for f in spec]
        == [("ck_bucket", "bucket[8]")],
        f"export must emit a real bucket spec entry: {spec}",
    )
    require(
        read_iceberg(spark, f"{root}/ice").count() == orders.count(),
        "foreign-style reopen must see every row",
    )
    adopted = import_iceberg(spark, f"{root}/ice", f"{root}/adopted")
    df = adopted.scan([Pred("o_custkey", "=", 42)])
    rep = adopted.last_scan_report
    require(
        rep["files_scanned"] * 4 <= rep["files_total"],
        f"adopted bucket scan must prune to <= 1/4 of files: {rep}",
    )
    return df.select("o_orderkey", "o_custkey", "o_orderstatus").orderBy(
        "o_orderkey"
    )


@register(
    "q_iceberg_export_evolved",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    GROUP BY mon ORDER BY mon
    """,
)
def q_iceberg_export_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-EVOLVED table across the byte-format boundary
    (round 13): the exporter emits Iceberg's native multi-spec shape —
    one manifest per partition spec, every spec listed in metadata,
    each file's partition tuple typed under ITS OWN spec — so an
    evolved table exports WITHOUT the compact-first step the previous
    single-spec exporter demanded (replay of the reference's partition
    evolution story, README.md:138-195, continued across engines).

    Orders' pre-1997 half lands in an UNPARTITIONED founding era; the
    spec evolves to month(o_orderdate) and the rest appends under it.
    Export → require() two specs (default = the evolved one) → reopen
    through the pure-Python byte reader and aggregate per month; the
    oracle is the same aggregate over the whole table, so a row lost
    or double-counted in either era breaks parity. The import leg then
    adopts the evolved table back WITH both specs (icetbl's native
    multi-spec file registry) and a month predicate prunes the
    new-era files while every old-era file soundly survives —
    scan-report-asserted, the same era-aware pruning contract
    q_part_evolution pins for the internal dialect."""
    from iceberg_workshop_spark.icetbl import Pred, spec_field
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        import_iceberg,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    cut = F.lit("1997-01-01").cast("timestamp")
    root = scratch("iceevo")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter(F.col("o_orderdate") < cut)
    )
    t.set_partition_spec(
        [spec_field("o_orderdate", "month", "order_month")]
    )
    t.append(orders.filter(F.col("o_orderdate") >= cut))
    export_iceberg(t, f"{root}/ice")
    doc = resolve_iceberg_metadata(f"{root}/ice")
    specs = {s["spec-id"]: s["fields"] for s in doc["partition-specs"]}
    require(
        specs.get(0) == [] and len(specs.get(1, [])) == 1,
        f"export must list both eras' specs: {specs}",
    )
    require(
        doc["default-spec-id"] == 1,
        "the evolved spec must stay the default",
    )
    adopted = import_iceberg(spark, f"{root}/ice", f"{root}/adopted")
    require(
        len(adopted.meta.specs) == 2
        and adopted.meta.current_spec_id == 1,
        "import must carry BOTH eras' specs",
    )
    import datetime as _dt

    adopted.scan([
        Pred(
            "o_orderdate", "between",
            (_dt.datetime(1997, 6, 1), _dt.datetime(1997, 6, 30)),
        )
    ]).count()
    rep = adopted.last_scan_report
    n_old = sum(
        1
        for f in adopted.meta.current_files()
        if f.get("spec_id", 0) == 0
    )
    require(
        n_old <= rep["files_scanned"] < rep["files_total"],
        f"era-aware pruning must keep old-era files and prune "
        f"new-era months: {rep} (n_old={n_old})",
    )
    return (
        read_iceberg(spark, f"{root}/ice")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("mon")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_key"),
        )
        .orderBy("mon")
    )


@register(
    "q_iceberg_foreign_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey = 77 AND o_orderkey NOT IN (
        SELECT o_orderkey FROM orders WHERE o_custkey = 77
        ORDER BY o_orderkey LIMIT 1
    )
    ORDER BY o_orderkey
    """,
)
def q_iceberg_foreign_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pruned FOREIGN scan (round 13): ``scan_iceberg`` plans
    a real Iceberg table's scan from its exported bytes alone — bucket
    pruning via the murmur3 literal, manifest-bounds file skipping,
    MoR deletes applied to the kept subset, predicate re-applied
    row-level — WITHOUT adopting the table first. The equality
    predicate must prune the bucket[8] layout to ~1/8 of files
    (require()-asserted) and the lowest matching order, deleted
    merge-on-read BEFORE export, must stay deleted through the pruned
    foreign path; the oracle replays both effects relationally."""
    from iceberg_workshop_spark.icetbl import Pred, spec_field
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        scan_iceberg,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = scratch("icefscan")
    t = IceTable.create_as(
        spark, f"{root}/src", orders,
        partition_spec=[
            spec_field("o_custkey", "bucket[8]", "ck_bucket")
        ],
    )
    first = (
        orders.filter(F.col("o_custkey") == 77)
        .orderBy("o_orderkey")
        .limit(1)
        .select("o_orderkey")
    )
    t.delete_keys_mor(first, ["o_orderkey"])
    export_iceberg(t, f"{root}/ice")
    df, rep = scan_iceberg(
        spark, f"{root}/ice", [Pred("o_custkey", "=", 77)]
    )
    require(
        rep["files_scanned"] * 4 <= rep["files_total"],
        f"foreign bucket scan must prune to <= 1/4 of files: {rep}",
    )
    require(
        rep["delete_files_read"] == 1,
        f"the MoR sidecar must be read: {rep}",
    )
    return df.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        "o_orderkey"
    )


@register(
    "q_iceberg_changes",
    oracle="""
    SELECT COUNT(*) AS n_new_rows,
           COUNT(DISTINCT o_orderkey % 3) AS n_chunks,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 3 IN (1, 2)
    """,
)
def q_iceberg_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN incremental append scan (round 13) — q_tt_changes'
    semantics replayed across the byte-format boundary: three commits
    land thirds of orders, the table exports with history=True, and
    ``read_iceberg_changes`` recovers exactly the two later commits'
    rows from the exported bytes alone — entry STATUSES and original
    snapshot ids (the v2 inheritance contract the exporter emits,
    EXISTING files re-listed with their adding snapshot's id) attribute
    every row to one commit, O(delta) metadata work. The money sum is
    the oracle's, so a row double-attributed or dropped anywhere in
    the status plumbing breaks parity."""
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        read_iceberg_changes,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable
    from iceberg_workshop_spark.exprs import money

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icechg")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 3 = 0")
    )
    s1 = t.meta.current_snapshot_id
    t.append(orders.filter("o_orderkey % 3 = 1"))
    t.append(orders.filter("o_orderkey % 3 = 2"))
    export_iceberg(t, f"{root}/ice", history=True)
    delta = read_iceberg_changes(spark, f"{root}/ice", s1)
    return delta.agg(
        F.count(F.lit(1)).alias("n_new_rows"),
        F.countDistinct(F.col("o_orderkey") % 3).alias("n_chunks"),
        F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
    )


@register(
    "q_iceberg_changes_mor",
    oracle="""
    WITH cl AS (
      SELECT 'insert' AS _change_type, o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (1, 2)
      UNION ALL
      SELECT 'delete' AS _change_type, o_totalprice
      FROM orders WHERE o_orderkey % 8 = 0
    )
    SELECT _change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM cl
    GROUP BY _change_type
    ORDER BY _change_type
    """,
)
def q_iceberg_changes_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN row-level changelog over a NON-append range (round 14,
    VERDICT r13 missing #4) — the managed q_cdc_changelog semantics
    replayed across the byte-format boundary: create a third of
    orders, append two more chunks, MoR-delete every 8th key, export
    with history=True, and ``read_iceberg_changelog`` recovers the net
    insert/delete rows from the exported bytes alone — the range the
    append-only ``read_iceberg_changes`` refuses. The deleted rows
    live in files COMMON to both endpoints, so the eq-delete
    key-bounds add-back (not the file-set diff) must find them; a
    delete lost or double-counted anywhere breaks the money-sum
    parity."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        read_iceberg_changelog,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icechgmor")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 4 = 0")
    )
    s1 = t.meta.current_snapshot_id
    t.append(orders.filter("o_orderkey % 4 = 1"))
    t.delete_where_mor("o_orderkey % 8 = 0", keys=["o_orderkey"])
    t.append(orders.filter("o_orderkey % 4 = 2"))
    export_iceberg(t, f"{root}/ice", history=True)
    cl = read_iceberg_changelog(spark, f"{root}/ice", s1)
    return (
        cl.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(money("o_totalprice"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("_change_type")
    )


@register(
    "q_iceberg_metadata_tables",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_orderkey % 3) + 1 AS BIGINT)
             AS n_snapshots,
           CAST(COUNT(DISTINCT o_orderkey % 3) + 1 AS BIGINT)
             AS n_ancestors,
           COUNT(*) AS live_rows,
           CAST(SUM(CASE WHEN o_orderkey % 6 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS eq_delete_rows
    FROM orders
    """,
)
def q_iceberg_metadata_tables(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FOREIGN metadata-table inspection from bytes alone (round 14) —
    the ``SELECT * FROM t.files / t.snapshots / t.history`` surface
    the reference drives constantly (A30/A31, ``README.md:353-362``,
    ``sql/iceberg_partitioning_examples.sql``'s metadata probes) for a
    table this engine has NOT adopted: three append commits plus a MoR
    equality delete export with history, and
    ``iceberg_metadata_tables`` walks hint → metadata.json →
    manifest-list Avro → manifest Avro to reproduce all five views
    (files, snapshots, history, manifests, partitions).
    Every emitted number is tied back to the DATA through the oracle:
    live data-file record counts must sum to the full orders
    rowcount (MoR never rewrites), the equality-delete sidecar's
    record count must equal the matching-key count, and the
    snapshot/ancestry counts must match the commit history. Metadata-
    sized work only — no data file is opened; at 100 TB this is the
    same O(manifests) walk a real engine's metadata tables do, and it
    inherits the distributed manifest decode past 32 manifests."""
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        iceberg_metadata_tables,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icemeta")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 3 = 0")
    )
    t.append(orders.filter("o_orderkey % 3 = 1"))
    t.append(orders.filter("o_orderkey % 3 = 2"))
    t.delete_where_mor("o_orderkey % 6 = 1", keys=["o_orderkey"])
    export_iceberg(t, f"{root}/ice", history=True)
    mt = iceberg_metadata_tables(spark, f"{root}/ice")
    # The five views are metadata-sized; aggregate each lazily and
    # collect them through ONE action (a crossJoin of one-row
    # aggregates) instead of six sequential .first()/.count()
    # jobs — same values, one round of job-scheduling latency
    # (guide §1.2: don't pay per-pass fixed costs for work that
    # composes into one pass).
    files_agg = mt["files"].agg(
        F.sum(
            F.when(F.col("content") == 0, F.col("record_count"))
            .otherwise(F.lit(0))
        ).alias("live_rows"),
        F.sum(
            F.when(F.col("content") == 2, F.col("record_count"))
            .otherwise(F.lit(0))
        ).alias("eq_delete_rows"),
        F.max("sequence_number").alias("max_file_seq"),
        F.min("file_size_in_bytes").alias("min_size"),
        F.count(F.lit(1)).alias("n_file_entries"),
    )
    snaps_agg = mt["snapshots"].agg(
        F.count(F.lit(1)).alias("n_snapshots"),
        F.max("sequence_number").alias("max_snap_seq"),
        F.sum(
            F.when(F.col("parent_id").isNull(), 1).otherwise(0)
        ).alias("n_roots"),
    )
    hist_agg = mt["history"].agg(
        F.sum(
            F.when(F.col("is_current_ancestor"), 1).otherwise(0)
        ).alias("n_ancestors"),
        F.count(F.lit(1)).alias("n_log"),
    )
    man_agg = mt["manifests"].agg(
        F.sum(
            F.col("added_files_count") + F.col("existing_files_count")
        ).alias("n_listed"),
        F.min("length").alias("min_len"),
    )
    part_agg = mt["partitions"].agg(
        F.sum("record_count").alias("rows"),
        F.sum("file_count").alias("nfiles"),
    )
    row = (
        files_agg.crossJoin(snaps_agg)
        .crossJoin(hist_agg)
        .crossJoin(man_agg)
        .crossJoin(part_agg)
        .first()
    )
    files = snaps = hist = man = part = row
    require(
        snaps["n_roots"] == 1,
        "exactly one root snapshot (null parent) in a linear history",
    )
    require(
        hist["n_log"] == hist["n_ancestors"],
        "a linear history has every log entry on the current line",
    )
    require(
        files["max_file_seq"] <= snaps["max_snap_seq"],
        "file data-sequence numbers are bounded by the snapshot seq",
    )
    require(
        files["min_size"] > 0,
        "every listed file carries its real on-disk byte size",
    )
    require(
        man["n_listed"] == files["n_file_entries"],
        "manifest file counts must cover every live entry",
    )
    require(
        man["min_len"] > 0,
        "every manifest carries its real on-disk byte length",
    )
    require(
        part["rows"] == files["live_rows"],
        "partitions view must re-aggregate exactly the data files",
    )
    return spark.createDataFrame(
        [
            (
                int(snaps["n_snapshots"]),
                int(hist["n_ancestors"]),
                int(files["live_rows"]),
                int(files["eq_delete_rows"]),
            )
        ],
        "n_snapshots bigint, n_ancestors bigint, live_rows bigint,"
        " eq_delete_rows bigint",
    )


@register(
    "q_iceberg_export_refs",
    oracle="""
    SELECT 'audit' AS ref_name, 'branch' AS ref_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
    UNION ALL
    SELECT 'main' AS ref_name, 'branch' AS ref_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT 'v1' AS ref_name, 'tag' AS ref_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders WHERE o_orderkey % 4 = 0
    ORDER BY ref_name
    """,
)
def q_iceberg_export_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs ACROSS the byte-format boundary (round 14) — the
    shared-metadata contract (``interoperability.md:85-112``) applied
    to Iceberg's refs map: tag a snapshot, branch off main with a
    divergent append (the WAP shape, ``README.md:313-381``'s lifecycle
    verbs), export, and the OTHER side resolves every ref by NAME from
    bytes alone — ``read_iceberg(ref=...)`` per head plus the
    ``.refs`` metadata view, the exact surface Iceberg's
    `VERSION AS OF 'tagname'` gives a second engine. The exported
    snapshot closure must include the branch-only head (it is
    reachable from no main ancestor), and the snapshot-log must NOT
    list it (AS-OF never resolves a branch state); a ref dropped,
    retyped, or resolved to the wrong head breaks the per-ref
    money-sum parity. Metadata cost is O(refs) on top of the history
    export — at 100 TB refs are a handful of named pins, not a data
    rewrite."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        export_iceberg,
        iceberg_metadata_tables,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icerefs")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 4 = 0")
    )
    t.create_tag("v1")
    t.append(orders.filter("o_orderkey % 4 = 1"))
    t.create_branch("audit")
    t.append(orders.filter("o_orderkey % 4 = 2"), branch="audit")
    export_iceberg(t, f"{root}/ice", history=True)

    doc = resolve_iceberg_metadata(f"{root}/ice")
    refs = iceberg_metadata_tables(spark, f"{root}/ice")["refs"]
    ref_rows = {
        r.ref_name: (r.ref_type, int(r.snapshot_id))
        for r in refs.collect()
    }
    require(
        set(ref_rows) == {"main", "v1", "audit"},
        "every named ref crosses the boundary",
    )
    require(
        ref_rows["v1"][0] == "tag"
        and ref_rows["audit"][0] == "branch",
        "ref types survive export",
    )
    logged = {int(h["snapshot-id"]) for h in doc["snapshot-log"]}
    require(
        ref_rows["audit"][1] not in logged,
        "branch-only heads stay OFF the snapshot-log (AS-OF must "
        "never resolve a branch state)",
    )
    out_rows = []
    for name in sorted(ref_rows):
        agg = (
            read_iceberg(spark, f"{root}/ice", ref=name)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(money("o_totalprice"))
                .cast("double")
                .alias("s"),
            )
            .first()
        )
        out_rows.append(
            (name, ref_rows[name][0], int(agg["n"]), float(agg["s"]))
        )
    return spark.createDataFrame(
        out_rows,
        "ref_name string, ref_type string, n_rows bigint,"
        " sum_price double",
    ).orderBy("ref_name")


@register(
    "q_iceberg_foreign_append",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(3 AS BIGINT) AS n_snapshots,
           CAST(SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_appended,
           COUNT(CASE WHEN o_custkey = 42 THEN 1 END) AS probe_rows
    FROM orders
    """,
)
def q_iceberg_foreign_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of one-table-two-engines (round 14,
    ``interoperability.md:85-112``): a bucket[8]-partitioned orders
    table exports, then ``append_iceberg`` commits two more chunks
    IN PLACE through the byte format alone — new data files dir-
    partitioned by the spec's murmur3 transform, a new manifest, a
    manifest list reusing the previous manifests unchanged, and
    v2/v3 metadata versions landed by exclusive create (the CAS the
    managed dialect proves cross-process). The oracle ties every
    surface to the data: total rows + money sum over all three
    writers' files, snapshot count, the incremental read's exact
    attribution of the appended rows (from the PRE-append head), and
    a murmur3 bucket-pruned equality probe whose matching files
    include foreign-written ones — files_scanned < files_total is
    require()-asserted, so the foreign writer's partition tuples are
    proven prune-sound, not just readable. O(new data + manifests)
    per commit; at 100 TB the reused-manifest list is what keeps a
    second engine's appends from rewriting metadata history."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl import Pred, spec_field
    from iceberg_workshop_spark.icetbl.iceformat import (
        append_iceberg,
        read_iceberg,
        read_iceberg_changes,
        resolve_iceberg_metadata,
        scan_iceberg,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = scratch("iceappend")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 3 = 0"),
        [spec_field("o_custkey", "bucket[8]", "cust_bucket")],
    )
    export_root = f"{root}/ice"
    from iceberg_workshop_spark.icetbl.iceformat import export_iceberg

    export_iceberg(t, export_root, history=True)
    base_sid = int(
        resolve_iceberg_metadata(export_root)["current-snapshot-id"]
    )
    append_iceberg(
        spark, export_root, orders.filter("o_orderkey % 3 = 1")
    )
    append_iceberg(
        spark, export_root, orders.filter("o_orderkey % 3 = 2")
    )
    doc = resolve_iceberg_metadata(export_root)
    n_snapshots = len(doc["snapshots"])
    full = read_iceberg(spark, export_root)
    agg = full.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
    ).first()
    n_appended = read_iceberg_changes(
        spark, export_root, from_snapshot_id=base_sid
    ).count()
    probe, rep = scan_iceberg(
        spark, export_root, [Pred("o_custkey", "=", 42)]
    )
    probe_rows = probe.count()
    require(
        0 < rep["files_scanned"] < rep["files_total"],
        "bucket pruning must skip files across both writers' "
        "commits and still find every probe row",
    )
    return spark.createDataFrame(
        [
            (
                int(agg["n"]),
                float(agg["s"]),
                int(n_snapshots),
                int(n_appended),
                int(probe_rows),
            )
        ],
        "n_rows bigint, sum_price double, n_snapshots bigint,"
        " n_appended bigint, probe_rows bigint",
    )


@register(
    "q_iceberg_foreign_delete",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 6 <> 0)
             AS n_rows,
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE)
            FROM orders WHERE o_orderkey % 6 <> 0) AS sum_price,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 2 = 1 AND o_orderkey % 6 <> 0) AS n_ins,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 2 = 0 AND o_orderkey % 6 = 0) AS n_del
    """,
)
def q_iceberg_foreign_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE half of the foreign write dialect (round 14):
    ``delete_iceberg_keys`` commits a merge-on-read equality delete to
    a real Iceberg table in place — key-sidecar parquet, v2 delete
    manifest with key field-ids AND key min/max entry bounds, reused
    data manifests, v(N+1) metadata by exclusive-create CAS. The
    fixture interleaves writers the way two engines would: managed
    create → export → foreign append → foreign MoR delete; the oracle
    ties the surviving rows + money sum to the v2 sequence rule (the
    delete masks BOTH writers' earlier rows, never later ones) and
    the NET changelog's exact insert/delete attribution across the
    mixed-operation range. O(delete set + manifests); no data file is
    read or rewritten — the 100 TB MoR posture."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        append_iceberg,
        delete_iceberg_keys,
        export_iceberg,
        read_iceberg,
        read_iceberg_changelog,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icefdel")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 2 = 0")
    )
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    base_sid = int(
        resolve_iceberg_metadata(dest)["current-snapshot-id"]
    )
    append_iceberg(spark, dest, orders.filter("o_orderkey % 2 = 1"))
    delete_iceberg_keys(
        spark, dest,
        orders.filter("o_orderkey % 6 = 0").select("o_orderkey"),
        ["o_orderkey"],
    )
    agg = read_iceberg(spark, dest).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
    ).first()
    cl = read_iceberg_changelog(spark, dest, base_sid)
    counts = cl.groupBy("_change_type").count().collect()
    by_type = {r["_change_type"]: int(r["count"]) for r in counts}
    return spark.createDataFrame(
        [
            (
                int(agg["n"]),
                float(agg["s"]),
                by_type.get("insert", 0),
                by_type.get("delete", 0),
            )
        ],
        "n_rows bigint, sum_price double, n_ins bigint, n_del bigint",
    )


@register(
    "q_iceberg_foreign_wap",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
             AS staged_main_rows,
           (SELECT COUNT(*) FROM orders) AS published_rows,
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) FROM orders) AS published_sum
    """,
)
def q_iceberg_foreign_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH against bytes alone (round 14) — the
    reference's staging workflow (``README.md:313-381``'s lifecycle +
    branch verbs) run entirely through the byte format:
    ``append_iceberg(branch='audit')`` stages half of orders on a
    branch head (a staged commit was never current, so main readers
    and the snapshot-log stay untouched — require()-asserted), the
    audit reads the staged state by ref, and ``fast_forward_iceberg``
    publishes METADATA-ONLY (no manifest touched; main must be an
    ancestor of the branch head or the publish refuses). The oracle
    pins the staged-vs-published row counts and the published money
    sum; a staged commit leaking to main, a lost publish, or a
    publish that rewrote data would each break it. O(new data) to
    stage, O(1) metadata to publish — the posture that makes WAP free
    at 100 TB."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        append_iceberg,
        export_iceberg,
        fast_forward_iceberg,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icewap")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 2 = 0")
    )
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    append_iceberg(
        spark, dest, orders.filter("o_orderkey % 2 = 1"),
        branch="audit",
    )
    staged_main = read_iceberg(spark, dest).count()
    doc = resolve_iceberg_metadata(dest)
    require(
        len(doc["snapshot-log"]) == 1,
        "a staged commit must not touch the snapshot-log",
    )
    audit = read_iceberg(spark, dest, ref="audit").count()
    require(
        audit > staged_main,
        "the audit read sees the staged rows by ref",
    )
    fast_forward_iceberg(dest, "audit")
    agg = read_iceberg(spark, dest).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
    ).first()
    require(
        int(agg["n"]) == audit,
        "publish promotes exactly the audited state",
    )
    return spark.createDataFrame(
        [(int(staged_main), int(agg["n"]), float(agg["s"]))],
        "staged_main_rows bigint, published_rows bigint,"
        " published_sum double",
    )


@register(
    "q_iceberg_foreign_evolve",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_notes
    FROM orders
    """,
)
def q_iceberg_foreign_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution ACROSS the byte-format boundary (round 14, the
    reference's A35 surface — ``limitations.md:3-17``'s
    ADD/RENAME/DROP COLUMN — applied to a foreign table):
    ``alter_iceberg_schema`` commits a rename (o_totalprice→price) and
    an add (note string) METADATA-ONLY, then ``append_iceberg`` writes
    the other half of orders under the NEW schema. The read must
    resolve both eras at once — old ID-less files through the
    extended name-mapping (a lost mapping entry silently nulls the
    renamed column, which the money sum catches), pre-evolution rows
    surfacing the added column as typed nulls — and the oracle pins
    row count, the cross-era money sum under the renamed name, and
    the exact count of rows carrying the added column. No data file
    is read or rewritten by the DDL itself: O(1) metadata, the only
    cost posture schema changes can have at 100 TB."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        alter_iceberg_schema,
        append_iceberg,
        export_iceberg,
        read_iceberg,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icevolve")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 2 = 0")
    )
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    alter_iceberg_schema(
        dest,
        add=[("note", "string")],
        rename={"o_totalprice": "price"},
    )
    append_iceberg(
        spark, dest,
        orders.filter("o_orderkey % 2 = 1").selectExpr(
            "o_orderkey", "o_totalprice AS price", "'audit' AS note"
        ),
    )
    r = read_iceberg(spark, dest)
    require(
        r.columns == ["o_orderkey", "price", "note"],
        "the evolved schema is the read schema",
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("price")).cast("double").alias("s"),
        F.sum(F.col("note").isNotNull().cast("long")).alias("k"),
    ).first()
    return spark.createDataFrame(
        [(int(agg["n"]), float(agg["s"]), int(agg["k"]))],
        "n_rows bigint, sum_price double, n_notes bigint",
    )


@register(
    "q_iceberg_foreign_expire",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_snapshots,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 2)
             AS main_rows,
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE)
            FROM orders WHERE o_orderkey % 3 = 2) AS main_sum,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
             AS tag_rows
    """,
)
def q_iceberg_foreign_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPIRE SNAPSHOTS from bytes alone (round 14 — the reference's
    EXECUTE expire_snapshots, ``README.md:313-381``, on a FOREIGN
    table): a four-commit history (create → tag → append → TRUNCATE →
    append) exports, then ``expire_iceberg(keep_last=1)`` drops the
    two unprotected middle snapshots in one CAS commit. The ref-safety
    rule is the point: the tag's pinned snapshot survives expiry and
    still resolves BY NAME to its exact rows, the truncate-retired
    files of the dropped era are REPORTED orphaned (never deleted —
    exported metadata references the source's files in place), a
    pinned read of a dropped snapshot refuses loudly, and the
    snapshot-log shrinks to the retained instants. The oracle pins
    the retained count and both heads' row/money parity. O(history
    metadata); at 100 TB this is the same manifests-walk a real
    engine's expire does, with deletion left to the file owner."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        expire_iceberg,
        export_iceberg,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icexpire")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 3 = 0")
    )
    t.create_tag("v1")
    t.append(orders.filter("o_orderkey % 3 = 1"))
    t.truncate()
    t.append(orders.filter("o_orderkey % 3 = 2"))
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    dropped_sid = int(
        resolve_iceberg_metadata(dest)["snapshots"][1]["snapshot-id"]
    )
    _p, orphaned = expire_iceberg(dest, keep_last=1)
    doc = resolve_iceberg_metadata(dest)
    require(
        any(p.endswith(".parquet") for p in orphaned),
        "the truncate-retired era's files must be reported orphaned",
    )
    try:
        read_iceberg(spark, dest, snapshot_id=dropped_sid)
        require(False, "pinned read of a dropped snapshot must refuse")
    except ValueError:
        pass
    main = read_iceberg(spark, dest).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
    ).first()
    tag_rows = read_iceberg(spark, dest, ref="v1").count()
    return spark.createDataFrame(
        [
            (
                len(doc["snapshots"]),
                int(main["n"]),
                float(main["s"]),
                int(tag_rows),
            )
        ],
        "n_snapshots bigint, main_rows bigint, main_sum double,"
        " tag_rows bigint",
    )


@register(
    "q_iceberg_foreign_compact",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(0 AS BIGINT) AS n_delete_files,
           CAST(0 AS BIGINT) AS net_changes
    FROM orders WHERE o_orderkey % 6 <> 0
    """,
)
def q_iceberg_foreign_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION from bytes alone (round 14 — the reference's CALL
    rewrite_data_files, ``README.md:392-407``, on a FOREIGN table):
    after a managed create, a foreign append and a foreign MoR delete,
    ``rewrite_iceberg_files`` reads the current snapshot once (deletes
    resolved), rewrites it under the default spec, and commits a
    ``replace`` snapshot listing ONLY the new manifest — the delete
    sidecar leaves the current view (MoR→CoW), prior snapshots stay
    time-travelable, and answers are invariant by construction: the
    oracle's row/money parity plus a require()d EMPTY net changelog
    across the compaction pin it. The rewrite is the one O(live data)
    pass compaction must pay; the commit stays metadata-sized — at
    100 TB you compact size-tiered partitions on a schedule with
    exactly this verb."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        append_iceberg,
        delete_iceberg_keys,
        export_iceberg,
        iceberg_manifest_entries,
        read_iceberg,
        read_iceberg_changelog,
        resolve_iceberg_metadata,
        rewrite_iceberg_files,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("icecompact")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 2 = 0")
    )
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    append_iceberg(spark, dest, orders.filter("o_orderkey % 2 = 1"))
    delete_iceberg_keys(
        spark, dest,
        orders.filter("o_orderkey % 6 = 0").select("o_orderkey"),
        ["o_orderkey"],
    )
    base_sid = int(
        resolve_iceberg_metadata(dest)["current-snapshot-id"]
    )
    _p, rep = rewrite_iceberg_files(spark, dest)
    require(
        rep["delete_files_before"] == 1,
        "the MoR sidecar existed before the rewrite",
    )
    doc = resolve_iceberg_metadata(dest)
    _files, dels = iceberg_manifest_entries(doc, spark=spark)
    net = read_iceberg_changelog(spark, dest, base_sid).count()
    agg = read_iceberg(spark, dest).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
    ).first()
    return spark.createDataFrame(
        [(int(agg["n"]), float(agg["s"]), len(dels), int(net))],
        "n_rows bigint, sum_price double, n_delete_files bigint,"
        " net_changes bigint",
    )


@register(
    "q_iceberg_foreign_posdelete",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0
              AND o_orderkey % 11 <> 5) AS n_pos_deleted
    FROM orders
    WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 5
    """,
)
def q_iceberg_foreign_posdelete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL merge-on-read deletes from bytes alone (round 14 —
    the v2 row-level-ops flavor of ``sql/update_iceberg_v2_examples
    .sql:1-18``, foreign-side): the write order matters here — an
    EQUALITY delete first (every 11th-mod-5 key), then
    ``delete_iceberg_where`` records (file_path, row_index) pairs for
    a predicate with no key set, and the two flavors COMPOSE on one
    table: the positional planning scan reads through the live file
    set, the reader applies the equality mask by key+sequence and the
    positional mask by path+ordinal, and the oracle pins the
    intersection's row/money parity plus the exact count of
    positionally-deleted rows. Position comes from Spark's
    ``_metadata.row_index`` — the same parquet ordinal a real engine
    records — so the sidecar is engine-readable, not just
    self-readable. O(one scan + delete set); no data file rewritten."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        delete_iceberg_keys,
        delete_iceberg_where,
        export_iceberg,
        iceberg_manifest_entries,
        read_iceberg,
        resolve_iceberg_metadata,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("iceposdel")
    t = IceTable.create_as(spark, f"{root}/src", orders)
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    delete_iceberg_keys(
        spark, dest,
        orders.filter("o_orderkey % 11 = 5").select("o_orderkey"),
        ["o_orderkey"],
    )
    delete_iceberg_where(spark, dest, "o_orderkey % 7 = 0")
    doc = resolve_iceberg_metadata(dest)
    _files, dels = iceberg_manifest_entries(doc, spark=spark)
    require(
        sorted(d.get("content") for d in dels) == [1, 2],
        "both delete flavors live on the table at once",
    )
    # the positional planning scan read RAW files, so rows already
    # masked by the equality delete may re-record — count the
    # DISTINCT positions the reader actually masks
    n_pos = next(
        int(d.get("record_count") or 0)
        for d in dels
        if d.get("content") == 1
    )
    eq_overlap = orders.filter(
        "o_orderkey % 7 = 0 AND o_orderkey % 11 = 5"
    ).count()
    agg = read_iceberg(spark, dest).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
    ).first()
    return spark.createDataFrame(
        [(int(agg["n"]), float(agg["s"]), int(n_pos - eq_overlap))],
        "n_rows bigint, sum_price double, n_pos_deleted bigint",
    )


@register(
    "q_iceberg_foreign_update",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 4 = 1
                              THEN o_totalprice * 2
                              ELSE o_totalprice END
                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated
    FROM orders WHERE o_orderkey % 10 <> 3
    """,
)
def q_iceberg_foreign_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE from bytes alone (round 14 — Iceberg's v2
    ``write.update.mode=merge-on-read`` recipe, the surface
    ``sql/update_iceberg_v2_examples.sql:14-18`` drives, applied to a
    FOREIGN table): after a managed create, a foreign append and a
    foreign equality delete, ``update_iceberg_where`` doubles every
    4th-mod-1 price in ONE commit — a positional delete masking the
    raw matches plus data files with the updated images. The
    no-resurrection property is the hard part and the oracle pins it:
    rows the earlier equality delete masked also match the update
    predicate, and they must stay gone (images come from the current
    view), while commit cost stays O(matching rows) — never a data
    file rewrite. Cross-era money parity breaks on a lost update, a
    resurrected row, or a double-applied image."""
    from iceberg_workshop_spark.exprs import money
    from iceberg_workshop_spark.icetbl.iceformat import (
        append_iceberg,
        delete_iceberg_keys,
        export_iceberg,
        read_iceberg,
        resolve_iceberg_metadata,
        update_iceberg_where,
    )
    from iceberg_workshop_spark.icetbl.table import IceTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = scratch("iceupd")
    t = IceTable.create_as(
        spark, f"{root}/src", orders.filter("o_orderkey % 2 = 0")
    )
    dest = f"{root}/ice"
    export_iceberg(t, dest, history=True)
    append_iceberg(spark, dest, orders.filter("o_orderkey % 2 = 1"))
    delete_iceberg_keys(
        spark, dest,
        orders.filter("o_orderkey % 10 = 3").select("o_orderkey"),
        ["o_orderkey"],
    )
    update_iceberg_where(
        spark, dest, "o_orderkey % 4 = 1",
        {"o_totalprice": "o_totalprice * 2"},
    )
    doc = resolve_iceberg_metadata(dest)
    require(
        doc["snapshots"][-1]["summary"]["operation"] == "overwrite",
        "the MoR update lands as ONE overwrite snapshot",
    )
    r = read_iceberg(spark, dest)
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("s"),
        F.sum(
            (F.col("o_orderkey") % 4 == 1).cast("long")
        ).alias("k"),
    ).first()
    return spark.createDataFrame(
        [(int(agg["n"]), float(agg["s"]), int(agg["k"]))],
        "n_rows bigint, sum_price double, n_updated bigint",
    )
