"""Focused tests for the round-14 optimization changes.

Each optimization that changed an operator's internals gets a pin:

1. The triangle count switched from the wedge-join form to the
   compact-forward adjacency-intersection form — equality of the two
   counts is pinned on random graphs, not just the fixture.
2. ``_band_pairs`` now materializes its band table — the candidate
   pair set must be unchanged.
3. ``sources.tables.load`` memoizes fixture scan plans per
   (session, sf_dir, table) — the cache must be plan-only (fresh
   executions), keyed correctly, and type-normalization must survive
   caching.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _edges_df(spark, edges):
    return spark.createDataFrame(sorted(set(edges)), "u long, v long")


def _tri_counts(spark, edges):
    """(wedge-join count, adjacency-intersection count) for one
    undirected edge set given as (u < v) pairs."""
    _edges_df(spark, edges).createOrReplaceTempView("t_pairs")
    spark.sql(
        """
        SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM t_pairs
          UNION ALL SELECT v AS node FROM t_pairs
        ) GROUP BY node
        """
    ).createOrReplaceTempView("t_deg")
    spark.sql(
        """
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN p.u ELSE p.v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN p.v ELSE p.u END AS t
        FROM t_pairs p
        JOIN t_deg du ON du.node = p.u
        JOIN t_deg dv ON dv.node = p.v
        """
    ).createOrReplaceTempView("t_oriented")
    wedge = spark.sql(
        """
        SELECT COUNT(*) AS n_tri FROM (
          SELECT e1.t AS x, e2.t AS y
          FROM t_oriented e1 JOIN t_oriented e2
            ON e1.s = e2.s AND e1.t < e2.t) w
        JOIN t_pairs p ON p.u = w.x AND p.v = w.y
        """
    ).first()["n_tri"]
    spark.sql(
        "SELECT node, collect_list(t) AS nbrs FROM"
        " (SELECT s AS node, t FROM t_oriented) GROUP BY node"
    ).createOrReplaceTempView("t_adj")
    fwd = spark.sql(
        """
        SELECT CAST(COALESCE(SUM(cardinality(
          array_intersect(a1.nbrs, a2.nbrs))), 0) AS BIGINT) AS n_tri
        FROM t_oriented e
        JOIN t_adj a1 ON a1.node = e.s
        JOIN t_adj a2 ON a2.node = e.t
        """
    ).first()["n_tri"]
    return wedge, fwd


def test_adjacency_triangle_count_equals_wedge_count(spark):
    rng = random.Random(20260818)
    for trial in range(4):
        n = rng.choice([6, 12, 25])
        p = rng.choice([0.15, 0.35, 0.6])
        edges = [
            (u, v)
            for u in range(n)
            for v in range(u + 1, n)
            if rng.random() < p
        ]
        if not edges:
            edges = [(0, 1)]
        wedge, fwd = _tri_counts(spark, edges)
        assert wedge == fwd, f"trial {trial}: wedge={wedge} fwd={fwd}"


def test_adjacency_triangle_count_empty_graph(spark):
    # COUNT(*) over no wedges is 0; the SUM form must COALESCE to 0,
    # not NULL (a 2-node graph has no triangle).
    wedge, fwd = _tri_counts(spark, [(0, 1)])
    assert wedge == fwd == 0


def test_band_pairs_materialization_keeps_pairs(spark):
    from iceberg_workshop_spark.llm.dedup import _band_pairs

    rows = [
        (1, 0, "a|b"), (2, 0, "a|b"), (3, 0, "x|y"),
        (1, 1, "c|d"), (4, 1, "c|d"), (2, 1, "z|z"),
    ]
    buckets = spark.createDataFrame(
        rows, "doc_id long, band_id int, sig string"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"]) for r in _band_pairs(buckets).collect()
    )
    assert got == [(1, 2), (1, 4)]


def test_load_memoization_plan_only_and_keyed(spark):
    from iceberg_workshop_spark.sources.tables import load

    a1 = load(spark, SF_DIR, "nation")
    a2 = load(spark, SF_DIR, "nation")
    assert a1 is a2, "same session+sf_dir+table must hit the plan cache"
    other = load(spark, SF_DIR, "region")
    assert other is not a1
    # the cached object is a lazy plan: two executions both really run
    assert a1.count() == a2.count() > 0
    # events type normalization survives caching (ts must be timestamp)
    ev = load(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert load(spark, SF_DIR, "events") is ev
    # a different sf_dir must not collide (ADVICE r14: guard on the
    # fixture dir actually existing, and assert non-identity + a real
    # execution — the old disjunction was vacuously true).
    import os

    sf_small = SF_DIR.replace("0.01", "0.001")
    if sf_small != SF_DIR and os.path.isdir(sf_small):
        b = load(spark, sf_small, "nation")
        assert b is not a1
        assert b.count() > 0


def test_prefix_filter_persists_released(spark):
    # containment_prefix persists shingles/ranked/cand frames; the
    # invocation scope must release every one when the call returns —
    # a leak would grow executor storage monotonically across
    # invocations in a long-lived session. CacheManager-level persists
    # must net to zero (localCheckpoint blocks are RDD-level, not
    # CacheManager). The cache is cleared first so the check cannot
    # pass vacuously.
    from iceberg_workshop_spark.registry import queries

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    queries()["q_llm_dedup_containment_prefix"](spark, SF_DIR)
    assert cm.isEmpty(), (
        "q_llm_dedup_containment_prefix left DataFrames persisted"
    )
