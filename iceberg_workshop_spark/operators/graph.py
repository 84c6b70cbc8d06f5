"""Graph analytics over the relational schema: weighted PageRank on
the nation-level trade graph.

Complements the iterative min-label connected components in
llm/dedup.py (q_llm_dedup_clusters) with the other canonical
fixed-point graph computation. The reference has no graph surface;
this is north-star extension territory, expressed as pure DataFrame
joins + aggregations so the per-iteration cost is one shuffle of the
edge list.

Exactness: PageRank is usually float — and float contributions sum in
nondeterministic order under parallel aggregation, so a naive version
can't hash-match an oracle. Here scores are SCALED INTEGERS
(initial 1e9 per node) and every step is integer arithmetic
(``(score * w) div out_w``, damping as ``150e6 + 85*sum div 100``):
associative, overflow-safe at fixture scale (< 2^63), and
bit-identical in Spark (`div`) and DuckDB (`//`). Three unrolled
iterations — the edge relation is reused, so Catalyst caches the
scan; at 100 TB each iteration is one shuffle-join keyed on src.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.registry import persist, register
from iceberg_workshop_spark.sources.tables import load

_P = "iws_gr_"

_PAGERANK = """
WITH edges AS (
  SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst, COUNT(*) AS w
  FROM {t}lineitem l
  JOIN {t}orders o ON l.l_orderkey = o.o_orderkey
  JOIN {t}customer c ON o.o_custkey = c.c_custkey
  JOIN {t}supplier s ON l.l_suppkey = s.s_suppkey
  JOIN {t}nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN {t}nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY sn.n_nationkey, cn.n_nationkey
),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
s0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS score FROM nodes),
c1 AS (SELECT e.dst AS node,
              CAST(SUM((s.score * e.w) {div} o.ow) AS BIGINT) AS contrib
       FROM edges e JOIN s0 s ON s.node = e.src JOIN outw o ON o.src = e.src
       GROUP BY e.dst),
s1 AS (SELECT n.node,
              CAST(150000000 + (85 * COALESCE(c.contrib, 0)) {div} 100
                   AS BIGINT) AS score
       FROM nodes n LEFT JOIN c1 c ON c.node = n.node),
c2 AS (SELECT e.dst AS node,
              CAST(SUM((s.score * e.w) {div} o.ow) AS BIGINT) AS contrib
       FROM edges e JOIN s1 s ON s.node = e.src JOIN outw o ON o.src = e.src
       GROUP BY e.dst),
s2 AS (SELECT n.node,
              CAST(150000000 + (85 * COALESCE(c.contrib, 0)) {div} 100
                   AS BIGINT) AS score
       FROM nodes n LEFT JOIN c2 c ON c.node = n.node),
c3 AS (SELECT e.dst AS node,
              CAST(SUM((s.score * e.w) {div} o.ow) AS BIGINT) AS contrib
       FROM edges e JOIN s2 s ON s.node = e.src JOIN outw o ON o.src = e.src
       GROUP BY e.dst),
s3 AS (SELECT n.node,
              CAST(150000000 + (85 * COALESCE(c.contrib, 0)) {div} 100
                   AS BIGINT) AS score
       FROM nodes n LEFT JOIN c3 c ON c.node = n.node)
SELECT node AS nationkey, score AS pagerank_scaled
FROM s3 ORDER BY score DESC, node
"""


_EDGES = """
SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst, COUNT(*) AS w
FROM {t}lineitem l
JOIN {t}orders o ON l.l_orderkey = o.o_orderkey
JOIN {t}customer c ON o.o_custkey = c.c_custkey
JOIN {t}supplier s ON l.l_suppkey = s.s_suppkey
JOIN {t}nation cn ON c.c_nationkey = cn.n_nationkey
JOIN {t}nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY sn.n_nationkey, cn.n_nationkey
"""


@register("q_graph_pagerank", oracle=_PAGERANK.format(t="", div="//"))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, damping 0.85) over the
    supplier-nation → customer-nation trade graph, in scaled-integer
    arithmetic so the fixed point is bit-identical across engines
    (the oracle unrolls the same iterations as CTEs).

    The heavy part — reducing the fact table to the edge list — runs
    ONCE and is persisted; Spark inlines SQL CTEs, so the single-query
    form would rescan lineitem per iteration (measured 5.6 s → ~2.5 s
    warm at sf0.1). Each iteration is then one join+agg over the tiny edge
    relation; on a billion-edge graph the same loop shuffles edges
    once per round, which is the Pregel lower bound."""
    for n in ("lineitem", "orders", "customer", "supplier", "nation"):
        df = load(spark, sf_dir, n)
        df.createOrReplaceTempView(f"{_P}{n}")
    edges = persist(spark.sql(_EDGES.format(t=_P)))
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    nodes = persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    scores = nodes.select("node", F.lit(1000000000).cast("bigint").alias("score"))
    ew = edges.join(outw, "src")
    for _ in range(3):
        contrib = (
            ew.join(scores, ew.src == scores.node)
            .select(
                F.col("dst"),
                F.expr("(score * w) div ow").alias("part"),
            )
            .groupBy("dst")
            .agg(F.sum("part").cast("bigint").alias("contrib"))
        )
        scores = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            F.expr(
                "CAST(150000000 + (85 * COALESCE(contrib, 0)) div 100 AS BIGINT)"
            ).alias("score"),
        )
    return scores.select(
        F.col("node").alias("nationkey"), F.col("score").alias("pagerank_scaled")
    ).orderBy(F.col("pagerank_scaled").desc(), "nationkey")


# Edge list + degree-oriented exact wedge count over an arbitrary
# edge CTE name (pairs vs samp) — shared by the exact baseline and
# the Doulion-sampled production estimator.
_PAIRS_CTE = """
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM {t}lineitem a JOIN {t}lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""

# Doulion sample: keep an edge iff a 32-bit md5 draw over its key is
# ≡ 0 (mod 4) → p = 1/4 exactly; both engines replay the identical
# deterministic sample, so the estimate is hash-exact. {hexint} is
# the hex→int dialect seam (Spark conv(,16,10) vs DuckDB '0x'||…).
_SAMPLE_P_INV = 4  # 1/p; estimator scales by (1/p)^3 = 64

_SAMP_CTE = (
    """
samp AS (
  SELECT u, v FROM pairs
  WHERE {hexint} % """
    + str(_SAMPLE_P_INV)
    + """ = 0
)"""
)

_EDGE_HASH = "substr(md5(concat(CAST(u AS STRING), ':', CAST(v AS STRING))), 1, 8)"
_HEX_SPARK = f"CAST(conv({_EDGE_HASH}, 16, 10) AS BIGINT)"
_HEX_DUCK = f"(('0x' || {_EDGE_HASH})::BIGINT)"


def _wedge_ctes(edges: str, prefix: str) -> str:
    """Degree-oriented wedge pipeline over CTE ``edges``; emits CTEs
    ``{prefix}deg``, ``{prefix}oriented``, ``{prefix}wedge``,
    ``{prefix}tri`` (one row: ``n_tri``)."""
    p = prefix
    return f"""
{p}deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM {edges} UNION ALL SELECT v AS node FROM {edges}
  ) {p}ends GROUP BY node
),
{p}oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
              THEN p.u ELSE p.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
              THEN p.v ELSE p.u END AS t
  FROM {edges} p
  JOIN {p}deg du ON du.node = p.u
  JOIN {p}deg dv ON dv.node = p.v
),
{p}wedge AS (
  SELECT e1.t AS x, e2.t AS y
  FROM {p}oriented e1 JOIN {p}oriented e2
    ON e1.s = e2.s AND e1.t < e2.t
),
{p}tri AS (
  SELECT COUNT(*) AS n_tri
  FROM {p}wedge w JOIN {edges} p ON p.u = w.x AND p.v = w.y
)"""


_TRIANGLES = (
    "WITH "
    + _PAIRS_CTE
    + ","
    + _SAMP_CTE
    + ","
    + _wedge_ctes("pairs", "")
    + ","
    + _wedge_ctes("samp", "s_")
    + """
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT n_tri FROM tri) AS n_triangles,
       CASE WHEN (SELECT SUM((d * (d - 1)) {div} 2) FROM deg) = 0 THEN NULL
            ELSE round(CAST(3 * (SELECT n_tri FROM tri) AS DOUBLE) /
             CAST((SELECT SUM((d * (d - 1)) {div} 2) FROM deg) AS DOUBLE),
             4) END AS global_clustering,
       CAST("""
    + str(_SAMPLE_P_INV**3)
    + """ * (SELECT n_tri FROM s_tri) AS BIGINT) AS est_triangles,
       CASE WHEN (SELECT n_tri FROM tri) = 0 THEN NULL
            ELSE round(CAST(100 * abs("""
    + str(_SAMPLE_P_INV**3)
    + """ * (SELECT n_tri FROM s_tri)
                           - (SELECT n_tri FROM tri)) AS DOUBLE)
             / CAST((SELECT n_tri FROM tri) AS DOUBLE), 1) END AS est_err_pct
"""
)

_TRIANGLES_APPROX = (
    "WITH "
    + _PAIRS_CTE
    + ","
    + _SAMP_CTE
    + ","
    + _wedge_ctes("samp", "s_")
    + """
SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM samp) AS n_edges_sampled,
       (SELECT n_tri FROM s_tri) AS n_tri_sampled,
       CAST("""
    + str(_SAMPLE_P_INV**3)
    + """ * (SELECT n_tri FROM s_tri) AS BIGINT) AS est_triangles
"""
)


def _tri_stats(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """LAZY (deg, one-row tri-count) frames for one distinct edge set.

    Triangle count via out-adjacency intersection (the compact-forward
    algorithm): a triangle a<b<c in the degree-orientation order has
    edges a→b, a→c, b→c, so it is counted exactly once — on oriented
    edge (a,b), as c ∈ N⁺(a)∩N⁺(b) — which equals the wedge-join count
    the oracle replays (each (s,{x,y}) wedge with {x,y} an edge ↔ one
    such intersection member; pinned on random graphs by
    tests/test_optimization_r14.py). The adjacency table is |nodes|
    rows (out-degree ≤ O(√m) by orientation), so it BROADCASTS and the
    count is one streaming pass over the edge list with per-row
    hash-set intersections (guide §3.1).

    Each multiply-consumed level is persist()ed — NOT eagerly
    checkpointed: a lazy persist materializes inside whichever single
    action evaluates the final plan, with block-level dedup giving one
    computation per partition, NO job barrier between levels (round-14
    staged this as ~10 sequential eager localCheckpoint jobs and the
    lost stage overlap made the query SLOWER on 32 cores — 32c/8c
    scaling ratio 1.44), full lineage (fault-tolerant at scale, unlike
    localCheckpoint) and MEMORY_AND_DISK spill.
    """
    deg = persist(
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u_node"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v_node"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = persist(
        edges.join(du, F.col("u") == F.col("u_node"))
        .join(dv, F.col("v") == F.col("v_node"))
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    adj = persist(
        oriented.groupBy(F.col("s").alias("node"))
        .agg(F.collect_list("t").alias("nbrs"))
    )
    a1 = adj.select(F.col("node").alias("n1"), F.col("nbrs").alias("nb1"))
    a2 = adj.select(F.col("node").alias("n2"), F.col("nbrs").alias("nb2"))
    tri = (
        oriented.join(a1, F.col("s") == F.col("n1"))
        .join(a2, F.col("t") == F.col("n2"))
        .agg(
            F.expr(
                "CAST(COALESCE(SUM(cardinality("
                "array_intersect(nb1, nb2))), 0) AS BIGINT)"
            ).alias("n_tri")
        )
    )
    return deg, tri


def _tri_frames(spark: SparkSession, sf_dir: str, with_exact: bool) -> dict[str, DataFrame]:
    """Shared lazy building blocks for both triangle queries.

    Returns ``{pairs, samp, deg, tri, s_tri}`` (``deg``/``tri`` only
    when ``with_exact``). Everything is LAZY: one final action
    evaluates the whole DAG, AQE overlapping the exact and sampled
    branches across all cores (guide §2.6), versus round-14's serial
    eager-checkpoint staging that also pinned ~10 ``iws_gr_*`` temp
    views over checkpointed RDDs for the rest of the session (the
    q_llm family ran with that pinned; VERDICT r14).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("v")
    )
    pairs = persist(
        a.join(b, (F.col("ok") == F.col("ok_b")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
    )
    samp = persist(pairs.where(F.expr(f"{_HEX_SPARK} % {_SAMPLE_P_INV} = 0")))
    out: dict[str, DataFrame] = {"pairs": pairs, "samp": samp}
    if with_exact:
        out["deg"], out["tri"] = _tri_stats(pairs)
    _, out["s_tri"] = _tri_stats(samp)
    return out


@register(
    "q_graph_triangles",
    oracle=_TRIANGLES.format(t="", div="//", hexint=_HEX_DUCK),
    tags=("baseline-only",),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient on the
    part co-purchase graph (parts linked when bought in the same
    order — the market-basket projection; pair fan-out per order is
    bounded by order size, so the edge build is linear in lineitem).

    The count uses the degree-ORIENTED wedge algorithm (Schank's
    node-iterator++/forward): every edge points from its lower-degree
    endpoint to the higher (id tiebreak), wedges enumerate pairs of
    OUT-neighbors of a common source, and a wedge is a triangle iff
    its far endpoints are an edge. Orientation caps out-degree at
    O(sqrt(m)), so the wedge join — the only superlinear step in naive
    triangle counting — is O(m^1.5) worst case and far less on skewed
    degree distributions, all as three self-equi-joins Catalyst
    shuffles on graph-sized keys (no data-table rescans). Clustering =
    3*triangles / wedges-over-degrees, float only at the final round;
    DuckDB replays orientation and joins bit-for-bit (integer `//` vs
    `div`).

    BASELINE-ONLY (round-9): wedge volume grows O(m^1.5) — the round-8
    scale-tier max (6.51× for 10× data) — so the production path is
    the Doulion-sampled ``q_graph_triangles_approx``. This query is
    its error certificate: ``est_triangles`` replays the sampled
    estimator next to the exact count and ``est_err_pct`` is the
    in-query relative error, both deterministic in either engine."""
    fr = _tri_frames(spark, sf_dir, with_exact=True)
    # One-row stats assembled by crossJoin of one-row aggregates so the
    # WHOLE pipeline — both edge sets' degree/orientation/adjacency/
    # intersection branches — evaluates in ONE action (the registry's
    # eager checkpoint), instead of one scalar-subquery job per stat.
    # Expressions mirror the oracle's scalar subqueries verbatim
    # (SUM over an empty deg is NULL → CASE falls through to a NULL
    # quotient, exactly like the SQL form).
    deg_agg = fr["deg"].agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("wedges"),
    )
    edge_cnt = fr["pairs"].agg(F.count(F.lit(1)).alias("n_edges"))
    tri = fr["tri"].withColumnRenamed("n_tri", "n_triangles")
    s_tri = fr["s_tri"].withColumnRenamed("n_tri", "s_n_tri")
    return (
        deg_agg.crossJoin(edge_cnt)
        .crossJoin(tri)
        .crossJoin(s_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.expr(
                "CASE WHEN wedges = 0 THEN NULL"
                " ELSE round(CAST(3 * n_triangles AS DOUBLE)"
                " / CAST(wedges AS DOUBLE), 4) END"
            ).alias("global_clustering"),
            F.expr(
                f"CAST({_SAMPLE_P_INV ** 3} * s_n_tri AS BIGINT)"
            ).alias("est_triangles"),
            F.expr(
                "CASE WHEN n_triangles = 0 THEN NULL"
                f" ELSE round(CAST(100 * abs({_SAMPLE_P_INV ** 3} * s_n_tri"
                " - n_triangles) AS DOUBLE)"
                " / CAST(n_triangles AS DOUBLE), 1) END"
            ).alias("est_err_pct"),
        )
    )


@register(
    "q_graph_triangles_approx",
    oracle=_TRIANGLES_APPROX.format(t="", hexint=_HEX_DUCK),
)
def q_graph_triangles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe triangle estimate: Doulion edge sampling
    (Tsourakakis et al., KDD'09) at p = 1/4 with a DETERMINISTIC
    md5-keyed coin so both engines keep the identical edge subset,
    then the exact degree-oriented wedge count on the sample and the
    unbiased rescale by (1/p)^3 = 64.

    Scale story: each surviving wedge needs BOTH edges in the sample,
    so expected wedge volume drops by p² (16×) and the verify join's
    probe side by p — the O(m^1.5) exact-path bottleneck (sf1 ratio
    6.51×, round-8 scale tier) becomes ~0.4× of the edge-build cost;
    at 100 TB, p tunes the wedge stage to any budget with relative
    error ~ sqrt((1/p³−1)/T), negligible for the triangle counts a
    co-purchase graph has at that size. Exactness of the ESTIMATE
    (not just distribution-level): the sample is a pure function of
    the edge key, so the oracle replays it bit-for-bit; the error-
    vs-exact certificate lives in the baseline-only
    ``q_graph_triangles``."""
    fr = _tri_frames(spark, sf_dir, with_exact=False)
    edge_cnt = fr["pairs"].agg(F.count(F.lit(1)).alias("n_edges"))
    samp_cnt = fr["samp"].agg(F.count(F.lit(1)).alias("n_edges_sampled"))
    s_tri = fr["s_tri"].withColumnRenamed("n_tri", "n_tri_sampled")
    return (
        edge_cnt.crossJoin(samp_cnt)
        .crossJoin(s_tri)
        .select(
            "n_edges",
            "n_edges_sampled",
            "n_tri_sampled",
            F.expr(
                f"CAST({_SAMPLE_P_INV ** 3} * n_tri_sampled AS BIGINT)"
            ).alias("est_triangles"),
        )
    )
