"""Every registered query vs its DuckDB oracle at sf0.01 — the local
mirror of the driver's t2 gate — and the registry-wide session gate:
each invocation must leave no cached frame, no temp view, no
registered function, no changed conf, no database and no file under
the temp or scratch dir behind."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.helpers import (
    assert_driver_sortable,
    assert_frames_match,
    databases,
    scratch_entries,
)


def _all_query_names():
    from iceberg_workshop_spark.registry import queries

    return sorted(queries())


def _temp_views(spark) -> set[str]:
    seq = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
    return {seq.apply(i).table() for i in range(seq.size())}


def _user_functions(spark) -> set[str]:
    return {r.function for r in spark.sql("SHOW USER FUNCTIONS").collect()}


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, oracle, name):
    from iceberg_workshop_spark.registry import oracle_sql, queries

    # Start from an empty CacheManager so the leak check below cannot
    # pass vacuously after an earlier test left something cached.
    spark.catalog.clearCache()
    views, confs = _temp_views(spark), dict(spark.conf.getAll)
    funcs = _user_functions(spark)
    entries, dbs = scratch_entries(), databases(spark)
    df = queries()[name](spark, SF_DIR)
    # Driver-canonicalizer contract: no raw ARRAY/MAP result columns —
    # the driver's pandas lexsort cannot hash them (round-8
    # q_fn_array2 failure). Serialize via array_join/to_json instead.
    from pyspark.sql.types import ArrayType, MapType

    complex_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not complex_cols, (
        f"{name}: ArrayType/MapType result columns {complex_cols} violate "
        f"the driver's hashability contract; serialize them to strings"
    )
    spark_pdf = df.toPandas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left DataFrames persisted"
    )
    leaked = _temp_views(spark) - views
    assert not leaked, f"{name} left temp views {sorted(leaked)}"
    after = dict(spark.conf.getAll)
    changed = {
        k: (confs.get(k), after.get(k))
        for k in confs.keys() | after.keys()
        if confs.get(k) != after.get(k)
    }
    assert not changed, f"{name} left confs changed: {changed}"
    added = _user_functions(spark) - funcs
    assert not added, f"{name} left functions registered: {sorted(added)}"
    left = scratch_entries() - entries
    assert not left, f"{name} left files behind: {sorted(left)}"
    left = databases(spark) - dbs
    assert not left, f"{name} left databases: {sorted(left)}"
    sql = oracle_sql().get(name)
    if sql is None:
        # rows-only check (driver's weak path) — pin non-empty output
        # and the exact schema so a silently-empty or drifted result
        # fails here even without a value oracle. Only the two
        # engine-specific-hash (xxhash64) fast paths remain rows-only;
        # their behavioral equivalence to the exact md5 variants is
        # pinned in test_llm.py.
        cert = [
            "recall_vs_exact", "precision_vs_exact", "recall_ok",
            "precision_ok",
        ]
        expected_cols = {
            "q_llm_dedup_minhash": [
                "doc_a", "doc_b", "n_common", "n_union", "jaccard",
            ] + cert,
            "q_llm_dedup_simhash": ["doc_a", "doc_b", "hamming"] + cert,
        }
        assert len(spark_pdf) > 0, f"{name}: rows-only query returned empty"
        assert list(spark_pdf.columns) == expected_cols[name], (
            f"{name}: schema drifted: {list(spark_pdf.columns)}"
        )
        assert_driver_sortable(spark_pdf, name)
        return
    oracle_pdf = oracle.execute(sql).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_function_gate_sees_a_function_registered_in_scope(spark):
    """The registered-function check above is not vacuous: the
    invocation scope does not drop functions, so one registered inside
    a scope shows up as new afterwards."""
    from iceberg_workshop_spark.registry import invocation

    before = _user_functions(spark)
    try:
        with invocation(spark):
            spark.udf.register("iws_gate_probe", lambda x: x, "bigint")
        assert _user_functions(spark) - before == {"iws_gate_probe"}
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS iws_gate_probe")
    assert _user_functions(spark) == before
