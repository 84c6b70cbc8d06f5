"""Custom data sources via the Spark 4 Python Data Source API.

The reference's source surface is CSV/Parquet/Iceberg DDL
(`/root/reference/sql/airlines.sql:36-55`); beyond those built-ins,
Spark 4 lets an engine define new sources in pure Python
(``pyspark.sql.datasource``) — the extension point a training-data
platform uses for feeds with no built-in reader (crawl manifests,
proprietary shard formats, service APIs).

Two sources here:

- ``iws_seq`` (batch): a deterministic partitioned generator — N rows
  of (i, md5(i)) split across P ``InputPartition``s. Each partition
  reads independently on executors (true parallel scan); md5 makes
  the output engine-checkable, so the query over it has an exact
  DuckDB oracle (generate_series + md5).
- ``iws_ticks`` (streaming): a micro-batch source with explicit
  offset bookkeeping (``initialOffset``/``latestOffset``/``read``) —
  the shape of a real feed adapter; drained with availableNow and
  checked exactly (offsets → deterministic rows).

Scale notes: partitions() is the parallelism contract — each executor
task pulls only its slice; nothing is materialized on the driver. For
a remote feed, partitions map to shard/offset ranges the same way.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from iceberg_workshop_spark.registry import register, scratch, set_conf

SEQ_ROWS = 10_000
SEQ_PARTS = 8
TICKS_PER_BATCH = 100
TICK_BATCHES = 3


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class _SeqReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("rows", SEQ_ROWS))
        self.parts = int(options.get("partitions", SEQ_PARTS))

    def partitions(self) -> list[InputPartition]:
        if self.n <= 0:
            return []  # range() rejects a zero step — empty source, empty plan
        step = -(-self.n // self.parts)  # ceil
        return [
            _RangePartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        import hashlib

        for i in range(partition.start, partition.end):
            yield (i, hashlib.md5(str(i).encode()).hexdigest())


class SeqDataSource(DataSource):
    """``spark.read.format("iws_seq").option("rows", N)`` — see module
    docstring."""

    @classmethod
    def name(cls) -> str:
        return "iws_seq"

    def schema(self) -> str:
        return "i bigint, h string"

    def reader(self, schema) -> DataSourceReader:
        return _SeqReader(self.options)


class _TicksStreamReader(DataSourceStreamReader):
    """Bounded micro-batch feed: TICK_BATCHES batches of
    TICKS_PER_BATCH rows, offsets tracked as plain row counts."""

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        # the TERMINAL offset: an availableNow drain polls
        # latestOffset once and consumes everything up to it — an
        # incremental per-poll advance would leave data behind
        # (probed round 11: the drain is one batch by design here;
        # the per-batch offset protocol is exercised by the
        # continuous-trigger path, not this bounded demo feed)
        return {"offset": TICKS_PER_BATCH * TICK_BATCHES}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [_RangePartition(start["offset"], end["offset"])]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i, i % 7, float(i) / 10.0)

    def commit(self, end: dict) -> None:
        pass


class TicksDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iws_ticks"

    def schema(self) -> str:
        return "tick bigint, bucket bigint, v double"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TicksStreamReader()


def register_source(spark: SparkSession, source: type[DataSource]) -> None:
    """Register a Python data source once per session.

    Session setup, like the fixture-reader confs in
    ``sources/tables.py``, not invocation state: Spark 4.1 cannot
    unregister a data source, so no scope could give one back, and
    registering it again on every call only replaces the same class.
    Skipped when the session already knows the name."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(source.name()):
        spark.dataSource.register(source)


def _register_sources(spark: SparkSession) -> None:
    register_source(spark, SeqDataSource)
    register_source(spark, TicksDataSource)


@register(
    "q_source_python",
    oracle=f"""
    SELECT i, md5(CAST(i AS VARCHAR)) AS h
    FROM generate_series(0, {SEQ_ROWS - 1}) AS t(i)
    ORDER BY i
    """,
)
def q_source_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom Python batch source: 8 independent partitions
    generating (i, md5(i)) on executors; md5 parity with DuckDB gives
    the custom-source path an exact oracle."""
    _register_sources(spark)
    return (
        spark.read.format("iws_seq")
        .option("rows", str(SEQ_ROWS))
        .option("partitions", str(SEQ_PARTS))
        .load()
        .orderBy("i")
    )


@register(
    "q_source_python_stream",
    oracle=f"""
    SELECT bucket,
           COUNT(*) AS n_ticks,
           CAST(SUM(tick) AS BIGINT) AS sum_tick
    FROM (
      SELECT i AS tick, i % 7 AS bucket
      FROM generate_series(0, {TICKS_PER_BATCH * TICK_BATCHES - 1}) AS t(i)
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream from the custom Python micro-batch source (explicit
    offset management), aggregate per bucket, drain with availableNow
    — offsets are deterministic, so the final state has an exact
    oracle."""
    from iceberg_workshop_spark.streaming.stateful import _drain

    _register_sources(spark)
    ticks = spark.readStream.format("iws_ticks").load()
    agg = ticks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("tick").alias("sum_tick"),
    )
    sink = _drain(agg, "complete")
    return sink.orderBy("bucket")


# --------------------------------------------------------- ice stream
def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type) pairs from a DDL string without StructType.fromDDL
    — this runs in the streaming source worker process, which has no
    SparkContext. Split on top-level commas (nested commas live inside
    <...> or (...) of struct/decimal types)."""
    fields, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            name, _, typ = "".join(cur).strip().partition(" ")
            fields.append((name, typ.strip()))
            cur = []
            continue
        cur.append(ch)
    if "".join(cur).strip():
        name, _, typ = "".join(cur).strip().partition(" ")
        fields.append((name, typ.strip()))
    return fields


def _ddl_to_arrow(typ: str):
    """Arrow type for a Spark DDL type — used to null-fill columns a
    file predates. Covers the types this repo's tables declare."""
    import pyarrow as pa

    t = typ.strip().lower()
    if t.startswith("array<"):
        return pa.list_(_ddl_to_arrow(t[6:-1]))
    if t.startswith("decimal"):
        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        return pa.decimal128(int(m.group(1)), int(m.group(2))) if m else pa.decimal128(38, 18)
    return {
        "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
        "bigint": pa.int64(), "long": pa.int64(), "float": pa.float32(),
        "double": pa.float64(), "string": pa.string(), "binary": pa.binary(),
        "boolean": pa.bool_(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }[t]


class _FilePartition(InputPartition):
    def __init__(self, path: str, columns: list[tuple[str, str | None, str]]) -> None:
        # (declared_name, physical_name_or_None, ddl_type) per column;
        # physical None => the file predates the column, emit nulls
        self.path = path
        self.columns = columns


class _IceStreamReader(DataSourceStreamReader):
    """Micro-batch streaming read of an IceTable — the native analog
    of Iceberg's Spark streaming source (`spark.readStream.format(
    "iceberg")`): each batch emits the rows of data files added by
    snapshots committed since the last batch, discovered from the
    metadata log (O(delta) listing, no directory scans, no row diff).

    Offsets carry the last-consumed SNAPSHOT ID (0 = none), resolved
    against the current ancestry each batch — so expire_snapshots of
    already-consumed history is harmless, and a rollback/expire that
    removes the offset snapshot itself fails loudly instead of
    silently skipping or re-emitting files. Contract (same as
    Iceberg's): the stream consumes APPEND snapshots; a snapshot that
    removed files (CoW rewrite/delete/compaction) OR changed the
    merge-on-read delete-file set (rows in already-emitted files
    changed visibility) raises by default. With
    ``skip_non_append=true`` those snapshots are skipped entirely
    (Iceberg's streaming-skip-overwrite/delete-snapshots options).
    One InputPartition per added file: executors read files in
    parallel via Arrow, nothing flows through the driver. The stream's
    column set is fixed at start (Spark streaming schemas are static);
    later-renamed columns are resolved to each file's physical name
    via the rename log, and files that predate a column null-fill it
    — the streaming analog of the batch reader's era handling."""

    def __init__(self, options: dict) -> None:
        self.location = options["location"]
        self.skip_non_append = (
            str(options.get("skip_non_append", "false")).lower() == "true"
        )
        from iceberg_workshop_spark.icetbl import meta as M

        start_meta = M.read_current(self.location)
        self._fields = _ddl_fields(start_meta.schema_ddl)
        # sequence number at stream start: forward rename-resolution
        # applies only renames logged AFTER this point (the captured
        # schema already reflects earlier ones)
        self._start_seq = int(
            start_meta.properties.get("last-sequence-number", "0")
        )

    def _meta(self):
        from iceberg_workshop_spark.icetbl import meta as M

        return M.read_current(self.location)

    @staticmethod
    def _ancestry(meta) -> list[dict]:
        by_id = {s["snapshot_id"]: s for s in meta.snapshots}
        chain: list[dict] = []
        cur = meta.current_snapshot_id
        while cur is not None and cur in by_id:
            chain.append(by_id[cur])
            cur = by_id[cur]["parent_id"]
        chain.reverse()
        return chain

    def initialOffset(self) -> dict:
        return {"sid": 0}

    def latestOffset(self) -> dict:
        meta = self._meta()
        return {"sid": meta.current_snapshot_id or 0}

    def _file_columns(
        self, doc: dict, file_seq: int
    ) -> list[tuple[str, str | None, str]]:
        renames = doc.get("column_renames", [])
        created = doc.get("column_created_seq", {})
        out = []
        for declared, typ in self._fields:
            cur = declared  # the column's name in the LATEST schema
            for r in renames:
                # only renames logged AFTER stream start can retarget a
                # captured name — an unconditional walk resurrected old
                # data when a pre-start rename's source name was later
                # RE-ADDED as a new column (the streaming counterpart
                # of the batch era-collision fix; round-11 review)
                if int(r["seq"]) >= self._start_seq and cur == r["old"]:
                    cur = r["new"]
            phys = cur  # its physical name in this file's era
            for r in reversed(renames):
                if file_seq <= int(r["seq"]) and phys == r["new"]:
                    phys = r["old"]
            if cur in created and file_seq <= int(created[cur]):
                phys = None  # file predates the column
            out.append((declared, phys, typ))
        return out

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        meta = self._meta()
        chain = self._ancestry(meta)
        end_sid = end.get("sid", 0)
        if end_sid == 0:
            return []
        idx = {s["snapshot_id"]: i for i, s in enumerate(chain)}
        if end_sid not in idx:
            raise ValueError(
                f"ice stream: end snapshot {end_sid} is not an ancestor "
                "of the current table state (rolled back mid-batch)"
            )
        start_sid = start.get("sid", 0)
        if start_sid == 0:
            lo = 0
            prev_paths: set[str] = set()
            prev_dels: list = []
        else:
            if start_sid not in idx:
                raise ValueError(
                    f"ice stream: start snapshot {start_sid} was expired "
                    "or rolled back away; restart the stream from a "
                    "fresh checkpoint"
                )
            lo = idx[start_sid] + 1
            prev = chain[idx[start_sid]]
            prev_paths = {f["path"] for f in meta.files(prev)}
            prev_dels = meta.delete_entries(prev)
        parts: list[InputPartition] = []
        for snap in chain[lo : idx[end_sid] + 1]:
            paths = {f["path"] for f in meta.files(snap)}
            dels = meta.delete_entries(snap)
            def key(dl):
                return sorted((d["path"], int(d["dseq"])) for d in dl)
            if not prev_paths <= paths or key(dels) != key(prev_dels):
                if self.skip_non_append:
                    prev_paths, prev_dels = paths, dels
                    continue
                raise ValueError(
                    f"ice stream: snapshot {snap['snapshot_id']} removed "
                    "files or changed merge-on-read deletes (non-append); "
                    "set skip_non_append=true to skip rewrite/delete "
                    "snapshots"
                )
            by_path = {f["path"]: f for f in meta.files(snap)}
            for p in sorted(paths - prev_paths):
                seq = int(by_path[p].get("seq", 0))
                parts.append(
                    _FilePartition(p, self._file_columns(meta.doc, seq))
                )
            prev_paths, prev_dels = paths, dels
        return parts

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        want = [c[1] for c in partition.columns if c[1] is not None]
        pf = pq.ParquetFile(partition.path)
        have = set(pf.schema_arrow.names)
        table = pq.read_table(
            partition.path, columns=[c for c in want if c in have]
        )
        n = table.num_rows
        arrays, names = [], []
        for declared, phys, typ in partition.columns:
            if phys is not None and phys in have:
                col = table.column(phys)
                # Spark's Arrow bridge takes microsecond timestamps
                # only; table files may carry nanos (fixture lineage).
                # Declared DDL type is TIMESTAMP under the pinned-UTC
                # session, so naive values are UTC instants.
                if pa.types.is_timestamp(col.type):
                    # safe=False: nanosecond payloads TRUNCATE to the
                    # microsecond grid instead of raising ArrowInvalid
                    # on sub-microsecond values (the default safe cast
                    # killed the stream on exactly the nanos files this
                    # branch exists for)
                    col = col.cast(
                        pa.timestamp("us", tz=col.type.tz or "UTC"),
                        safe=False,
                    )
                arrays.append(col)
            else:
                arrays.append(pa.nulls(n, type=_ddl_to_arrow(typ)))
            names.append(declared)
        yield from pa.table(dict(zip(names, arrays))).to_batches()


class IceStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iws_ice_stream"

    def schema(self) -> str:
        from iceberg_workshop_spark.icetbl import meta as M

        return M.read_current(self.options["location"]).schema_ddl

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _IceStreamReader(self.options)


@register(
    "q_stream_ice_table",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey % 41 IN (0, 1, 2)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_stream_ice_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream an IceTable as a source: three append commits land
    thirds of an orders subset; the stream discovers each commit's
    files from the metadata log and the drained aggregate equals the
    batch answer exactly. The 100 TB sync pattern: downstream
    consumers tail the snapshot log instead of re-scanning the table
    (/root/reference/pyspark-iceberg/interoperability.md:64-90 —
    engines coordinating through table metadata)."""
    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.sources.tables import load
    from iceberg_workshop_spark.streaming.stateful import _drain

    loc = scratch("stream_ice_table")
    orders = load(spark, sf_dir, "orders")
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 41 = 0"))
    t.append(orders.filter("o_orderkey % 41 = 1"))
    t.append(orders.filter("o_orderkey % 41 = 2"))
    register_source(spark, IceStreamDataSource)
    src = (
        spark.readStream.format("iws_ice_stream")
        .option("location", loc)
        .load()
    )
    agg = src.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
    return _drain(agg, "complete").orderBy("o_orderstatus")


# ------------------------------------------------- python writer (sink)


class _JsonlCommit(WriterCommitMessage):
    def __init__(self, path: str, count: int) -> None:
        self.path = path
        self.count = count


class _JsonlWriter(DataSourceWriter):
    """Per-task JSONL files + driver-side manifest commit — the
    two-phase protocol every distributed sink needs: tasks write to
    temp names and report a commit message; only the driver's commit()
    publishes the file list atomically (a reader trusts the manifest,
    never a directory listing, so half-written task output from failed
    or speculative attempts is invisible)."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    def write(self, iterator):
        import json as _json
        import os as _os
        import uuid as _uuid

        _os.makedirs(self.path, exist_ok=True)
        name = f"part-{_uuid.uuid4().hex}.jsonl"
        tmp = _os.path.join(self.path, "." + name + ".tmp")
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        final = _os.path.join(self.path, name)
        _os.rename(tmp, final)
        return _JsonlCommit(final, n)

    def commit(self, messages) -> None:
        import json as _json
        import os as _os

        manifest = {
            "files": sorted(m.path for m in messages if m is not None),
            "rows": sum(m.count for m in messages if m is not None),
        }
        tmp = _os.path.join(self.path, "._MANIFEST.tmp")
        with open(tmp, "w") as fh:
            _json.dump(manifest, fh)
        _os.rename(tmp, _os.path.join(self.path, "_MANIFEST"))

    def abort(self, messages) -> None:
        import os as _os

        for m in messages or []:
            if m is not None and _os.path.exists(m.path):
                _os.remove(m.path)


class JsonlSinkDataSource(DataSource):
    """``df.write.format("iws_jsonl").option("path", dir).save()``."""

    @classmethod
    def name(cls) -> str:
        return "iws_jsonl"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _JsonlWriter(self.options)


@register(
    "q_source_python_write",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_source_python_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through the custom Python SINK (DataSourceWriter):
    documents are written by executor tasks as JSONL with a
    driver-committed manifest, read back from exactly the
    manifest-listed files, and re-aggregated — the write half of the
    Python Data Source API (reader half: q_source_python). The final
    aggregate must equal the source table, proving no row was lost or
    duplicated across task files + commit."""
    import json as _json
    import os as _os

    from iceberg_workshop_spark.sources.tables import load

    register_source(spark, JsonlSinkDataSource)
    out = scratch("pysink")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.format("iws_jsonl").mode("append").option("path", out).save()
    with open(_os.path.join(out, "_MANIFEST")) as fh:
        manifest = _json.load(fh)
    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(
        manifest["files"]
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Filter pushdown (Spark 4.1 DataSourceReader.pushFilters)

PUSH_ROWS = 10_000
PUSH_BUCKETS = 10
PUSH_PARTS = 4


class _BucketPushReader(DataSourceReader):
    """Generator of (i, bucket=i%B, pruned, h=md5(i)) that ACCEPTS an
    ``EqualTo(bucket, k)`` pushdown: generation then walks only the
    k-residue class — 1/B of the work never happens, the custom-source
    analog of partition pruning. ``pruned`` records whether this
    reader object actually received the filter, so the query can
    assert pushdown occurred (a post-scan Spark filter would leave
    ``pruned`` false and the oracle mismatch is loud)."""

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("rows", PUSH_ROWS))
        self.buckets = int(options.get("buckets", PUSH_BUCKETS))
        self.parts = int(options.get("partitions", PUSH_PARTS))
        self.pushed_bucket: int | None = None

    def pushFilters(self, filters):
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) == ("bucket",)
                and isinstance(f.value, int)
                and 0 <= f.value < self.buckets
                and self.pushed_bucket is None
            ):
                # claim only predicates inside the bucket domain: a
                # claimed out-of-range value (bucket = 15 of 10) would
                # generate the residue class 15 mod 10 — rows whose
                # actual bucket is 5 — instead of the correct empty
                # result; unclaimed predicates stay Spark-side and
                # filter to empty correctly
                self.pushed_bucket = int(f.value)  # handled here
            else:
                yield f  # everything else stays Spark-side

    def partitions(self) -> list[InputPartition]:
        if self.pushed_bucket is None:
            idx = range(0, self.n)
        else:
            idx = range(self.pushed_bucket, self.n, self.buckets)
        rows = list(idx)
        if not rows:
            return []
        step = -(-len(rows) // self.parts)
        return [
            _RowsPartition(rows[lo : lo + step])
            for lo in range(0, len(rows), step)
        ]

    def read(self, partition: "_RowsPartition"):
        import hashlib

        pruned = self.pushed_bucket is not None
        for i in partition.rows:
            yield (
                i,
                i % self.buckets,
                pruned,
                hashlib.md5(str(i).encode()).hexdigest(),
            )


class _RowsPartition(InputPartition):
    def __init__(self, rows: list[int]) -> None:
        self.rows = rows


class BucketPushDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iws_bucketed"

    def schema(self) -> str:
        return "i bigint, bucket bigint, pruned boolean, h string"

    def reader(self, schema) -> DataSourceReader:
        return _BucketPushReader(self.options)


@register(
    "q_source_python_pushdown",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           MIN(i) AS min_i,
           MAX(i) AS max_i,
           true AS pushdown_applied,
           MIN(md5(CAST(i AS VARCHAR))) AS min_h
    FROM generate_series(0, {PUSH_ROWS - 1}) AS t(i)
    WHERE i % {PUSH_BUCKETS} = 3
    """,
)
def q_source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown INTO a Python data source (Spark 4.1
    ``pushFilters``): the ``bucket = 3`` predicate is claimed by the
    reader, which then generates only that residue class — the scan
    does 1/10 of the work instead of filtering post-hoc. The
    ``pushdown_applied`` column is bool_and of a reader-side flag, so
    the oracle match PROVES the filter reached the source (scan-side
    pruning, the q_scan_pruned contract, extended to user-defined
    sources). The pushdown conf holds for this invocation only, and
    the optimizer reads it when the plan executes, so the one-row
    result is checkpointed before the conf goes back."""
    set_conf(spark, "spark.sql.python.filterPushdown.enabled", "true")
    register_source(spark, BucketPushDataSource)
    df = (
        spark.read.format("iws_bucketed")
        .option("rows", str(PUSH_ROWS))
        .option("buckets", str(PUSH_BUCKETS))
        .option("partitions", str(PUSH_PARTS))
        .load()
        .filter(F.col("bucket") == 3)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("i").alias("min_i"),
        F.max("i").alias("max_i"),
        F.bool_and("pruned").alias("pushdown_applied"),
        F.min("h").alias("min_h"),
    ).localCheckpoint(eager=True)
