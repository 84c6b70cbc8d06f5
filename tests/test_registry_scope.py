"""The registry's invocation scope: every registered call gives back the
persists, confs, temp views, databases and scratch files it took,
failures included, and query modules leave that bookkeeping to the
registry."""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import tempfile

import pytest

from tests.helpers import assert_frames_match, databases, scratch_entries

_KEY = "spark.sql.shuffle.partitions"


def _cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


@pytest.fixture
def scoped():
    """``register`` under throwaway names, removed after the test."""
    from iceberg_workshop_spark.registry import QUERIES, register

    names: list[str] = []

    def wrap(fn):
        names.append(f"q_test_scope_{len(names)}")
        return register(names[-1])(fn)

    yield wrap
    for n in names:
        QUERIES.pop(n, None)


def test_scope_releases_everything_when_the_query_raises(spark, scoped):
    from iceberg_workshop_spark.registry import persist, set_conf

    spark.catalog.clearCache()
    prior = spark.conf.get(_KEY)

    @scoped
    def boom(spark, sf_dir):
        df = persist(spark.range(10).selectExpr("id * 7 AS x"))
        assert df.count() == 10 and _cached(df)
        set_conf(spark, _KEY, "3")
        assert spark.conf.get(_KEY) == "3"
        df.createOrReplaceTempView("iws_scope_probe")
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        boom(spark, "unused")
    assert _cache_empty(spark)
    assert spark.conf.get(_KEY) == prior
    assert not spark.catalog.tableExists("iws_scope_probe")


def test_nested_call_keeps_outer_frames_until_outer_returns(spark, scoped):
    from iceberg_workshop_spark.registry import persist

    spark.catalog.clearCache()
    seen: dict[str, bool] = {}
    inner_frames = []

    @scoped
    def inner(spark, sf_dir):
        df = persist(spark.range(4).selectExpr("id AS i"))
        inner_frames.append(df)
        return df.select("i")

    @scoped
    def outer(spark, sf_dir):
        base = persist(spark.range(5).selectExpr("id * 3 AS y"))
        base.count()
        assert len(inner(spark, sf_dir).collect()) == 4
        seen["inner_released"] = not _cached(inner_frames[0])
        seen["outer_alive"] = _cached(base)
        return base.selectExpr("sum(y) AS s")

    assert outer(spark, "unused").collect()[0]["s"] == 30
    assert seen == {"inner_released": True, "outer_alive": True}
    assert _cache_empty(spark)


def test_outside_an_invocation_nothing_is_taken(spark):
    from iceberg_workshop_spark.registry import persist, set_conf

    spark.catalog.clearCache()
    df = persist(spark.range(3))
    assert df.count() == 3 and _cache_empty(spark)
    with pytest.raises(RuntimeError, match="outside an invocation"):
        set_conf(spark, _KEY, "3")


def test_scope_raises_the_listing_threshold_in_any_session(spark):
    """A session the package did not build keeps Spark's default file-
    listing threshold (32 paths); every scope raises it and restores the
    unset state on exit."""
    from iceberg_workshop_spark.registry import LISTING_THRESHOLD_KEY, invocation

    prior = spark.conf.get(LISTING_THRESHOLD_KEY, None)
    spark.conf.unset(LISTING_THRESHOLD_KEY)
    try:
        with invocation(spark):
            assert spark.conf.get(LISTING_THRESHOLD_KEY) == "1024"
        assert spark.conf.get(LISTING_THRESHOLD_KEY, None) is None
    finally:
        if prior is not None:
            spark.conf.set(LISTING_THRESHOLD_KEY, prior)


def test_scratch_is_removed_when_the_query_raises(spark, scoped):
    from iceberg_workshop_spark.registry import scratch

    paths: list[str] = []

    @scoped
    def boom(spark, sf_dir):
        paths.append(scratch("probe"))
        spark.range(5).write.parquet(paths[0])
        assert os.listdir(paths[0])
        raise RuntimeError("boom")

    before = scratch_entries(spark)
    with pytest.raises(RuntimeError, match="boom"):
        boom(spark, "unused")
    assert not os.path.exists(paths[0])
    assert scratch_entries(spark) == before


def test_disk_gate_sees_a_directory_made_outside_scratch(spark, scoped):
    """The oracle-parity disk check is not vacuous: a query that picks
    its own temp directory leaves a new entry the check reports."""
    made: list[str] = []

    @scoped
    def leak(spark, sf_dir):
        made.append(tempfile.mkdtemp())
        return spark.range(1)

    before = scratch_entries(spark)
    try:
        leak(spark, "unused")
        assert scratch_entries(spark) - before == {os.path.abspath(made[0])}
    finally:
        shutil.rmtree(made[0], ignore_errors=True)


def test_disk_gate_sees_a_table_saved_to_the_warehouse(spark, scoped):
    """A query that saves a managed table into the ``default`` database
    leaves both a catalog entry and a warehouse directory the check
    reports."""
    from urllib.parse import urlparse

    @scoped
    def leak(spark, sf_dir):
        spark.range(3).write.format("parquet").saveAsTable("iws_gate_probe")
        return spark.range(1)

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    before = scratch_entries(spark)
    try:
        leak(spark, "unused")
        assert scratch_entries(spark) - before == {
            "default.iws_gate_probe",
            os.path.abspath(os.path.join(warehouse, "iws_gate_probe")),
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS iws_gate_probe")


def test_result_over_scratch_files_outlives_the_scope(spark, scoped):
    from iceberg_workshop_spark.registry import scratch

    @scoped
    def staged(spark, sf_dir):
        path = scratch("staged")
        spark.range(6).write.parquet(path)
        return spark.read.parquet(path).selectExpr("sum(id) AS s")

    before = scratch_entries(spark)
    out = staged(spark, "unused")
    assert scratch_entries(spark) == before
    assert out.collect()[0]["s"] == 15


def test_a_scope_that_takes_no_scratch_creates_no_directory(spark, scoped):
    @scoped
    def plain(spark, sf_dir):
        return spark.range(3)

    before = scratch_entries(spark)
    out = plain(spark, "unused")
    assert scratch_entries(spark) == before
    assert "ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()


def test_nested_scopes_each_remove_their_own_scratch(spark):
    from iceberg_workshop_spark.registry import invocation, scratch

    with invocation(spark):
        outer = scratch("outer")
        os.makedirs(outer)
        with invocation(spark):
            inner = scratch("inner")
            os.makedirs(inner)
            assert scratch("inner") != inner
        assert not os.path.exists(inner) and os.path.isdir(outer)
    assert not os.path.exists(outer)


def test_outside_an_invocation_scratch_belongs_to_the_caller():
    from iceberg_workshop_spark.registry import scratch

    path = scratch("mine")
    try:
        assert not os.path.exists(path)
        assert os.path.isdir(os.path.dirname(path))
    finally:
        shutil.rmtree(os.path.dirname(path))


def test_scope_drops_databases_created_inside(spark, scoped):
    @scoped
    def make_db(spark, sf_dir):
        spark.sql("CREATE DATABASE IF NOT EXISTS iws_scope_db")
        return spark.range(1)

    before = databases(spark)
    make_db(spark, "unused")
    assert databases(spark) == before


def test_python_data_sources_register_once_per_session(spark, monkeypatch):
    """Spark cannot unregister a Python data source, so queries register
    theirs once per session: a second call registers nothing."""
    from pyspark.sql.datasource import DataSourceRegistration

    from iceberg_workshop_spark.registry import queries
    from tests.conftest import SMOKE_SF_DIR

    names = ("q_stream_mv_refresh", "q_source_python_write")
    for name in names:
        assert queries()[name](spark, SMOKE_SF_DIR).collect()
    registered: list[str] = []
    real = DataSourceRegistration.register

    def counting(self, source):
        registered.append(source.name())
        return real(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    for name in names:
        assert queries()[name](spark, SMOKE_SF_DIR).collect()
    assert registered == []


def _drop_every_other_row(src: str, dst: str) -> None:
    import pyarrow.parquet as pq

    table = pq.read_table(src)
    pq.write_table(table.take(list(range(0, table.num_rows, 2))), dst)


@pytest.mark.parametrize(
    "name, table",
    [
        ("q_scan_pruned", "lineitem"),
        ("q_join_dpp", "orders"),
        ("q_scan_file_metadata", "documents"),
    ],
)
def test_staged_layout_follows_a_changed_fixture(spark, tmp_path, name, table):
    """A query that stages its own layout writes it in every call: a
    second call under the same sf name, over a changed source table,
    answers for the changed table."""
    import duckdb

    from iceberg_workshop_spark.registry import oracle_sql, queries
    from tests.conftest import SMOKE_SF_DIR

    first = tmp_path / "a" / "sf0.001"
    second = tmp_path / "b" / "sf0.001"
    shutil.copytree(SMOKE_SF_DIR, first)
    shutil.copytree(SMOKE_SF_DIR, second)
    src = os.path.join(SMOKE_SF_DIR, f"{table}.parquet")
    _drop_every_other_row(src, str(second / f"{table}.parquet"))
    queries()[name](spark, str(first)).collect()
    got = queries()[name](spark, str(second)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{second}/{table}.parquet')"
    )
    assert_frames_match(got, con.execute(oracle_sql()[name]).df(), name)


# Modules that would pick a scratch location of their own: only the
# registry reads the scratch variable and makes directories for queries.
_SCRATCH_RAW = ("mkdtemp", "gettempdir", "_fresh(", "_scratch(", "SPARK_GRAFT_SCRATCH")


def test_only_the_registry_picks_scratch_locations():
    import iceberg_workshop_spark

    root = pathlib.Path(iceberg_workshop_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "registry.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if any(raw in line for raw in _SCRATCH_RAW):
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "use registry.scratch:\n" + "\n".join(hits)


# The partition-transform decision (dir keys, the null dir, the time
# formats, the bucket-hash flavor) belongs to icetbl/transforms.py.
_TRANSFORM_RAW = ('"__p_', "__HIVE_DEFAULT_PARTITION__", "date_format(", "write.bucket.hash")


def test_only_transforms_decides_partition_layout():
    import iceberg_workshop_spark

    root = pathlib.Path(iceberg_workshop_spark.__file__).parent / "icetbl"
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "transforms.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if any(raw in line for raw in _TRANSFORM_RAW):
                hits.append(f"{path.name}:{no}: {line.strip()}")
    assert not hits, "use icetbl/transforms.py:\n" + "\n".join(hits)


def test_one_snapshot_commit_and_one_bucket_hash():
    """``IceTable._commit_snapshot_delta`` is the only code under icetbl/
    that appends a snapshot, and no bucket is computed with Spark's
    ``hash`` (every bucket column is Iceberg's murmur3)."""
    import ast

    import iceberg_workshop_spark

    root = pathlib.Path(iceberg_workshop_spark.__file__).parent / "icetbl"
    appends, hashes = [], []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        for no, line in enumerate(text.splitlines(), 1):
            if "snapshots.append(" in line:
                appends.append((path.name, no))
            if "F.hash(" in line:
                hashes.append(f"{path.name}:{no}: {line.strip()}")
    assert not hashes, "bucket with transforms.column (murmur3):\n" + "\n".join(hashes)
    assert len(appends) == 1, appends
    name, no = appends[0]
    tree = ast.parse((root / name).read_text())
    owner = [
        f.name
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.lineno <= no <= f.end_lineno
    ]
    assert (name, owner) == ("table.py", ["_commit_snapshot_delta"]), appends


# Raw session-state calls that belong to the registry's scope. Exempt:
# registry.py (it is the scope); sources/tables.py (fixture-reader
# confs are session-wide on purpose — memoized scan plans read them at
# execution time, after the invocation that built them returned);
# icetbl/ (its DML persists run under IceSqlSession outside any
# registry call and release in their own try/finally).
_RAW = re.compile(
    r"(?<!\bregistry)\.(?:persist|cache|unpersist)\(|\breleases\b"
    r"|conf\.(?:set|unset)\("
)
_EXEMPT = {"registry.py", "sources/tables.py"}


def test_query_modules_leave_session_state_to_the_registry():
    import iceberg_workshop_spark

    root = pathlib.Path(iceberg_workshop_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in _EXEMPT or rel.startswith("icetbl/"):
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if _RAW.search(line):
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "use registry.persist / registry.set_conf:\n" + "\n".join(hits)


def test_udtf_words_registers_no_function(spark):
    """q_udtf_words calls its Python UDTF through ``lateralJoin``: no
    session function is registered (re-registering it on every call
    logged "replaced a previously registered function")."""
    from iceberg_workshop_spark.registry import queries
    from tests.conftest import SMOKE_SF_DIR

    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS iws_word_splitter")
    rows = queries()["q_udtf_words"](spark, SMOKE_SF_DIR).collect()
    assert rows
    assert not spark.catalog.functionExists("iws_word_splitter")
