"""The registry's invocation scope: every registered call gives back the
persists, confs and temp views it took, failures included, and query
modules leave that bookkeeping to the registry."""

from __future__ import annotations

import pathlib
import re

import pytest

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
