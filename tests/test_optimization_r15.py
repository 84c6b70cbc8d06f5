"""Release checks for the triangle, dedup and graph queries.

1. The triangle queries must not leave session-lifetime ``iws_gr_*``
   temp views over checkpointed RDDs behind — such a view would pin the
   full edge set in executor storage for every query that runs after
   them. They must leave the temp-view catalog and the CacheManager
   exactly as they found them.
2. Every dedup/graph query that persists intermediates must have them
   released when the call returns (persists are invocation-scoped — the
   bench re-invokes queries, and a leaked persist makes later
   invocations silently reuse the first run's materialized cache).

Each test clears the cache first so the empty-CacheManager check
cannot pass vacuously.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _iws_gr_views(spark) -> list[str]:
    return [
        v.name
        for v in spark.catalog.listTables()
        if v.name.startswith("iws_gr_") and v.name != "iws_gr_lineitem"
    ]


def test_triangles_leave_no_temp_view_pins(spark):
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    before_views = set(_iws_gr_views(spark))
    row = qs["q_graph_triangles"](spark, SF_DIR).collect()[0]
    assert row["n_triangles"] >= 0 and row["n_edges"] > 0
    row = qs["q_graph_triangles_approx"](spark, SF_DIR).collect()[0]
    assert row["est_triangles"] >= 0
    assert set(_iws_gr_views(spark)) == before_views, (
        "triangle queries must not register staged temp views"
    )
    assert cm.isEmpty(), "triangle queries left DataFrames persisted"


@pytest.mark.parametrize(
    "name",
    [
        "q_graph_pagerank",
        "q_llm_dedup_ngram",
        "q_llm_dedup_prefix",
        "q_llm_dedup_near",
        "q_llm_dedup_minhash",
        "q_llm_dedup_clusters",
    ],
)
def test_query_releases_every_persist(spark, name):
    # Same pin as test_prefix_filter_persists_released, extended to
    # every query that persists frames into a lazily returned plan or
    # through the banding helpers. CacheManager-level persists must net
    # to zero per invocation.
    from iceberg_workshop_spark.registry import queries

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    queries()[name](spark, SF_DIR)
    assert cm.isEmpty(), f"{name} left DataFrames persisted"
