"""Similarity search over the ``embeddings`` fixture (array<float>, 64-d).

Two operators:

- brute-force cosine top-k — the correctness baseline: broadcast the
  probe, one narrow scan computing dot products JVM-side (zip_with +
  aggregate higher-order functions, no Python in the loop), TakeOrdered
  for the top-k (O(k) driver memory).
- IVF (inverted-file) top-k — the 100 TB path: vectors are bucketed to
  their nearest centroid once (a write-time partitioning in a real
  deployment — partitionBy(cluster) makes probe queries prune to
  nprobe/k of the data); a probe ranks centroids, scans only the
  nprobe best clusters, then exact-scores that slice. Centroids here
  are per-label means (the fixture's labels are its clusters), standing
  in for a k-means fit; the search-side plan is the real thing.

North-star extension (BASELINE.json); the reference has no vector ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_workshop_spark.registry import persist, register
from iceberg_workshop_spark.sources.tables import load

PROBE_VEC_ID = 0
TOP_K = 10
N_PROBE = 3  # IVF clusters scanned


def _as_double(col: str) -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def _dot(a: str, b: str) -> Column:
    """Left-to-right float64 dot product — same accumulation order as
    DuckDB's list_dot_product, so oracles match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _with_norm(df: DataFrame, vcol: str, out: str) -> DataFrame:
    return df.withColumn(
        out,
        F.sqrt(
            F.aggregate(
                F.zip_with(vcol, vcol, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )


# default fan-out of the two-level exact per-group top-k
# (_topk_per_group); right-sized for the bench/test scale here (groups
# of 10^4-10^6 rows). Callers at larger expected group sizes pass
# ``buckets`` explicitly — see the docstring's 100 TB guidance.
TOPK_BUCKETS = 32
# declared per-task row bound the fan-out guidance targets: a level-1
# window partition of ~5M (score, id) rows sorts comfortably in one
# executor task (sub-GB) without spilling
TOPK_MAX_TASK_ROWS = 5_000_000


def _topk_per_group(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    k: int,
    bucket_on: str,
    rank_col: str,
    buckets: int | None = None,
) -> DataFrame:
    """Exact per-group top-k that never sorts a whole group in one
    task (round-10 fix: ``Window.partitionBy(group)`` alone puts a
    probe/query group's ENTIRE corpus-sized score stream into a
    single window partition — the 100 TB bottleneck of every
    broadcast-probe ranking here). Level 1 takes top-k within
    (group, hash-bucket-of-``bucket_on``), so each window partition
    holds ~1/buckets of the group; level 2 ranks only the surviving
    buckets·k rows per group. Exact: every true top-k member survives
    its own bucket's cut by definition, and both levels share one
    deterministic total order.

    Fan-out sizing: each level-1 task holds ~|group|/buckets rows, so
    choose ``buckets ≈ ceil(expected_group_rows / TOPK_MAX_TASK_ROWS)``
    — at a 10^9-row group (full-corpus scoring at 100 TB) that is
    ~200 buckets, bounding every task at the declared
    TOPK_MAX_TASK_ROWS. The default TOPK_BUCKETS fits the ≤10^6-row
    groups of the bench scales; level 2's input is buckets·k rows per
    group either way, driver-trivial at any realistic k.

    CONTRACT (enforced by construction): ``bucket_on`` must be a
    unique-per-row id column; the helper itself APPENDS
    ``F.col(bucket_on).asc()`` as the final tiebreak of BOTH levels,
    so the two cuts always share one deterministic total order and a
    tied row cut at level 1 can never have ranked ≤ k at level 2.
    Callers pass only the semantic ordering in ``order`` — never the
    tiebreak. (Round-12: the previous API took the tiebreak inside
    ``order`` and reverse-engineered it from ``str(Column)`` reprs,
    which is not a stable surface and rejected legitimate qualified
    names; appending structurally removes the parse entirely.)"""
    full_order = [*order, F.col(bucket_on).asc()]
    n_buckets = buckets or TOPK_BUCKETS
    w1 = Window.partitionBy(*keys, "__tkb").orderBy(*full_order)
    w2 = Window.partitionBy(*keys).orderBy(*full_order)
    return (
        df.withColumn(
            "__tkb", F.pmod(F.xxhash64(bucket_on), F.lit(n_buckets))
        )
        .withColumn("__tkr1", F.row_number().over(w1))
        .filter(F.col("__tkr1") <= k)
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("__tkb", "__tkr1")
    )


@register(
    "q_llm_simsearch",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probe AS (
      SELECT v AS pv, nrm AS pnrm FROM n WHERE vec_id = {PROBE_VEC_ID}
    )
    SELECT n.vec_id,
           ROUND(list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm), 4)
             AS cosine
    FROM n, probe
    WHERE n.vec_id <> {PROBE_VEC_ID}
    ORDER BY list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm) DESC,
             n.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def q_llm_simsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors of one probe vector.

    The probe side is a 1-row broadcast (BroadcastNestedLoopJoin on a
    single row — effectively a free map-side constant); the scan side
    never shuffles: top-k plans as TakeOrderedAndProject.
    """
    emb = _with_norm(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("v")
        ),
        "v",
        "nrm",
    )
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("v").alias("pv"), F.col("nrm").alias("pnrm")
        )
    )
    return (
        emb.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe)
        .withColumn("cosine_raw", _dot("v", "pv") / (F.col("nrm") * F.col("pnrm")))
        .orderBy(F.col("cosine_raw").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id", F.round("cosine_raw", 4).alias("cosine"))
    )


@register(
    "q_llm_simsearch_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), flat AS (
      SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e
    ), cdim AS (
      SELECT label, pos, AVG(x) AS cx FROM flat GROUP BY label, pos
    ), cent AS (
      SELECT label, list(cx ORDER BY pos) AS c FROM cdim GROUP BY label
    ), cn AS (
      SELECT label, c, sqrt(list_dot_product(c, c)) AS cnrm FROM cent
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probe AS (
      SELECT v AS pv, nrm AS pnrm FROM n WHERE vec_id = {PROBE_VEC_ID}
    ), best_clusters AS (
      SELECT cn.label
      FROM cn, probe
      ORDER BY list_dot_product(cn.c, probe.pv) / (cn.cnrm * probe.pnrm) DESC,
               cn.label ASC
      LIMIT {N_PROBE}
    ), assigned AS (
      SELECT vec_id, label FROM (
        SELECT n.vec_id, cn.label,
               ROW_NUMBER() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.v, cn.c) / (n.nrm * cn.cnrm) DESC,
                          cn.label ASC
               ) AS rn
        FROM n, cn
      ) WHERE rn = 1
    )
    SELECT n.vec_id,
           ROUND(list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm), 4)
             AS cosine
    FROM n
    JOIN assigned USING (vec_id)
    JOIN best_clusters USING (label), probe
    WHERE n.vec_id <> {PROBE_VEC_ID}
    ORDER BY list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm) DESC,
             n.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def q_llm_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: rank centroids, scan only the N_PROBE best clusters.

    Every per-vector step is a broadcast join against the (tiny)
    centroid table — the big side never shuffles. In production the
    assignment happens at write time (partitionBy(cluster)), so the
    probe-time scan prunes to nprobe/k of the files; here the
    assignment join stands in for that pruning and the driver checks
    the search semantics end-to-end against SQL.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    n = _with_norm(emb, "v", "nrm")

    # Centroids: per-label dimension means, reassembled in index order.
    cdim = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
    )
    cent = cdim.groupBy("label").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)").alias(
            "c"
        )
    )
    cn = F.broadcast(_with_norm(cent, "c", "cnrm"))

    probe = F.broadcast(
        n.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("v").alias("pv"), F.col("nrm").alias("pnrm")
        )
    )

    best_clusters = F.broadcast(
        cn.crossJoin(probe)
        .withColumn("pc", _dot("c", "pv") / (F.col("cnrm") * F.col("pnrm")))
        .orderBy(F.col("pc").desc(), F.col("label").asc())
        .limit(N_PROBE)
        .select("label")
    )

    rn = Window.partitionBy("vec_id").orderBy(
        (_dot("v", "c") / (F.col("nrm") * F.col("cnrm"))).desc(),
        F.col("label").asc(),
    )
    assigned = (
        n.select("vec_id", "v", "nrm")
        .crossJoin(cn.select(F.col("label"), "c", "cnrm"))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label")
    )

    return (
        n.select("vec_id", "v", "nrm")
        .join(assigned, "vec_id")
        .join(best_clusters, "label")
        .filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe)
        .withColumn("cosine_raw", _dot("v", "pv") / (F.col("nrm") * F.col("pnrm")))
        .orderBy(F.col("cosine_raw").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id", F.round("cosine_raw", 4).alias("cosine"))
    )


@register(
    "q_llm_simsearch_ivf_partitioned",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), flat AS (
      SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e
    ), cdim AS (
      SELECT label, pos, AVG(x) AS cx FROM flat GROUP BY label, pos
    ), cent AS (
      SELECT label, list(cx ORDER BY pos) AS c FROM cdim GROUP BY label
    ), cn AS (
      SELECT label, c, sqrt(list_dot_product(c, c)) AS cnrm FROM cent
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probe AS (
      SELECT v AS pv, nrm AS pnrm FROM n WHERE vec_id = {PROBE_VEC_ID}
    ), best_clusters AS (
      SELECT cn.label
      FROM cn, probe
      ORDER BY list_dot_product(cn.c, probe.pv) / (cn.cnrm * probe.pnrm) DESC,
               cn.label ASC
      LIMIT {N_PROBE}
    ), assigned AS (
      SELECT vec_id, label FROM (
        SELECT n.vec_id, cn.label,
               ROW_NUMBER() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.v, cn.c) / (n.nrm * cn.cnrm) DESC,
                          cn.label ASC
               ) AS rn
        FROM n, cn
      ) WHERE rn = 1
    )
    SELECT n.vec_id,
           ROUND(list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm), 4)
             AS cosine
    FROM n
    JOIN assigned USING (vec_id)
    JOIN best_clusters USING (label), probe
    WHERE n.vec_id <> {PROBE_VEC_ID}
    ORDER BY list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm) DESC,
             n.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def q_llm_simsearch_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with REAL write-time cluster partitioning: the index build
    writes vectors ``partitionBy(ivf_cluster)`` (one directory per
    cluster), and the probe filters on the partition column with the
    n-probe cluster ids — the file scan plans ``PartitionFilters`` and
    physically reads only nprobe/k of the index (plan-asserted in
    tests/test_plans.py). This is the pruning that
    ``q_llm_simsearch_ivf`` stands in for with an assignment join.

    The n-probe cluster ids are collected to the driver — that is
    N_PROBE integers (a query parameter, not data), exactly what a
    vector-DB query router holds. At 100 TB the index build is a
    one-time write (maintained incrementally per q_llm_simsearch_incr);
    probes stay nprobe/k-of-files scans regardless of corpus size.
    """
    from iceberg_workshop_spark.plans.lifecycle import _fresh

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    n = _with_norm(emb, "v", "nrm")

    cdim = (
        emb.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
    )
    cent = cdim.groupBy("label").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)").alias(
            "c"
        )
    )
    cn = F.broadcast(_with_norm(cent, "c", "cnrm"))

    # Index build: assign each vector to its nearest centroid, write
    # partitioned by the assignment.
    rn = Window.partitionBy("vec_id").orderBy(
        (_dot("v", "c") / (F.col("nrm") * F.col("cnrm"))).desc(),
        F.col("label").asc(),
    )
    loc = _fresh(sf_dir, "ivf_index")
    (
        n.select("vec_id", "v", "nrm")
        .crossJoin(cn.select("label", "c", "cnrm"))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", F.col("label").alias("ivf_cluster"))
        .write.partitionBy("ivf_cluster")
        .parquet(loc)
    )

    probe = F.broadcast(
        n.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("v").alias("pv"), F.col("nrm").alias("pnrm")
        )
    )
    best = [
        r["label"]
        for r in cn.crossJoin(probe)
        .withColumn("pc", _dot("c", "pv") / (F.col("cnrm") * F.col("pnrm")))
        .orderBy(F.col("pc").desc(), F.col("label").asc())
        .limit(N_PROBE)
        .select("label")
        .collect()
    ]

    index = spark.read.parquet(loc).filter(F.col("ivf_cluster").isin(best))
    return (
        index.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe)
        .withColumn("cosine_raw", _dot("v", "pv") / (F.col("nrm") * F.col("pnrm")))
        .orderBy(F.col("cosine_raw").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id", F.round("cosine_raw", 4).alias("cosine"))
    )


N_PROBES_BATCH = 5


@register(
    "q_llm_simsearch_batch",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probes AS (
      SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm
      FROM n WHERE vec_id < {N_PROBES_BATCH}
    ), scored AS (
      SELECT probes.probe_id, n.vec_id,
             list_dot_product(n.v, probes.pv) / (n.nrm * probes.pnrm) AS c
      FROM n, probes
      WHERE n.vec_id <> probes.probe_id
    ), ranked AS (
      SELECT probe_id, vec_id, c,
             ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY c DESC, vec_id ASC
             ) AS rn
      FROM scored
    )
    SELECT probe_id, vec_id, ROUND(c, 4) AS cosine, rn AS rank
    FROM ranked WHERE rn <= {TOP_K}
    ORDER BY probe_id, rn
    """,
)
def q_llm_simsearch_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-probe top-k: N probes answered in ONE corpus scan
    (probe set broadcast; per-row scoring against every probe,
    two-level exact top-k per probe — see ``_topk_per_group``). The
    amortization that makes interactive ANN serving viable — k probes
    cost one pass, not k passes."""
    emb = _with_norm(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("v")
        ),
        "v",
        "nrm",
    )
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < N_PROBES_BATCH).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    scored = (
        emb.crossJoin(probes)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("c", _dot("v", "pv") / (F.col("nrm") * F.col("pnrm")))
    )
    return (
        _topk_per_group(
            scored,
            ["probe_id"],
            [F.col("c").desc()],
            TOP_K,
            "vec_id",
            "rank",
        )
        .select("probe_id", "vec_id", F.round("c", 4).alias("cosine"), "rank")
        .orderBy("probe_id", "rank")
    )


N_INGEST_BATCHES = 4


@register(
    "q_llm_simsearch_incr",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probe AS (
      SELECT v AS pv, nrm AS pnrm FROM n WHERE vec_id = {PROBE_VEC_ID}
    )
    SELECT n.vec_id,
           ROUND(list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm), 4)
             AS cosine
    FROM n, probe
    WHERE n.vec_id <> {PROBE_VEC_ID}
    ORDER BY list_dot_product(n.v, probe.pv) / (n.nrm * probe.pnrm) DESC,
             n.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def q_llm_simsearch_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance over arriving ingest batches
    (PAPERS.md: EDBT'20 incremental top-k similarity framework).

    The corpus is replayed as {N_INGEST_BATCHES} ingest batches
    (vec_id % {N_INGEST_BATCHES}); after each batch the running top-k
    state is merged with the batch's local top-k and re-truncated to
    k rows. Top-k is a monotone merge, so the final state provably
    equals the brute-force answer over the full corpus — the oracle
    is exactly q_llm_simsearch's.

    100 TB: each arrival scores ONLY the new batch (O(batch) work,
    TakeOrdered → k rows) and merges with O(k) retained state —
    never a re-scan of the historical corpus. Each step is
    materialized (persist+count) to model the ingest boundary and
    keep lineage flat.
    """
    emb = _with_norm(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("v")
        ),
        "v",
        "nrm",
    )
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("v").alias("pv"), F.col("nrm").alias("pnrm")
        )
    )
    state = None
    for batch in range(N_INGEST_BATCHES):
        arriving = emb.filter(
            (F.col("vec_id") % N_INGEST_BATCHES == batch)
            & (F.col("vec_id") != PROBE_VEC_ID)
        )
        local = (
            arriving.crossJoin(probe)
            .withColumn(
                "cosine_raw", _dot("v", "pv") / (F.col("nrm") * F.col("pnrm"))
            )
            .select("vec_id", "cosine_raw")
            .orderBy(F.col("cosine_raw").desc(), F.col("vec_id").asc())
            .limit(TOP_K)
        )
        merged = local if state is None else state.unionAll(local)
        state = persist(
            merged.orderBy(F.col("cosine_raw").desc(), F.col("vec_id").asc())
            .limit(TOP_K)
        )
        state.count()  # materialize: the ingest-batch boundary
    return state.select("vec_id", F.round("cosine_raw", 4).alias("cosine"))


_KMEANS_DUCK = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, e AS c FROM q WHERE vec_id < 4),
dists AS (
  SELECT q.vec_id, cents.cid,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (q.e[i] - cents.c[i]) * (q.e[i] - cents.c[i])))
              AS BIGINT) AS d2
  FROM q CROSS JOIN cents
),
assign AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM dists
)
SELECT cid, COUNT(*) AS n_assigned,
       CAST(MIN(d2) AS BIGINT) AS min_d2,
       CAST(MAX(d2) AS BIGINT) AS max_d2,
       CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM assign WHERE rn = 1
GROUP BY cid ORDER BY cid
"""


@register("q_llm_kmeans_assign", oracle=_KMEANS_DUCK)
def q_llm_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step over quantized embeddings: vectors and
    the 4 seed centroids (vec_id < 4) are floor-quantized to integer
    milli-units, so squared L2 distances are exact BIGINTs and the
    argmin (tie-broken by centroid id) is bit-identical across engines
    — the trick that makes an iterative-clustering step oracle-
    checkable, same recipe as the scaled-integer PageRank.

    Plan shape: centroids broadcast (4 rows), distances map-side via
    zip_with+aggregate (JVM codegen), one window per vec_id (argmin),
    one tiny grouped rollup. At 100 TB this is the per-iteration
    pattern of distributed k-means: broadcast centroids, never shuffle
    the corpus."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("e"),
    )
    cents = (
        emb.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).alias("d2")
    dists = emb.crossJoin(F.broadcast(cents)).select("vec_id", "cid", d2)
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.min("d2").alias("min_d2"),
            F.max("d2").alias("max_d2"),
            F.sum("d2").alias("sum_d2"),
        )
        .orderBy("cid")
    )


@register(
    "q_llm_hard_negatives",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), anchors AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, v AS av, nrm AS anrm
      FROM n WHERE vec_id < 5
    ), scored AS (
      SELECT anchors.anchor_id, n.vec_id,
             list_dot_product(n.v, anchors.av) / (n.nrm * anchors.anrm) AS c
      FROM n, anchors
      WHERE n.label <> anchors.anchor_label
    ), ranked AS (
      SELECT anchor_id, vec_id, c,
             ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY c DESC, vec_id ASC
             ) AS rn
      FROM scored
    )
    SELECT anchor_id, vec_id AS negative_id, ROUND(c, 4) AS cosine, rn AS rank
    FROM ranked WHERE rn <= 3
    ORDER BY anchor_id, rn
    """,
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    most-similar vectors carrying a DIFFERENT label — the examples a
    retrieval model must learn to push apart. Same one-scan broadcast-
    anchor plan as batched top-k (two-level exact top-k per anchor —
    ``_topk_per_group``), with the label inequality applied before
    scoring so same-class rows never enter the ranking. Cosines use
    the left-to-right float fold that matches DuckDB's
    list_dot_product bit-for-bit."""
    emb = _with_norm(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _as_double("embedding").alias("v")
        ),
        "v",
        "nrm",
    )
    anchors = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("v").alias("av"),
            F.col("nrm").alias("anrm"),
        )
    )
    scored = (
        emb.crossJoin(anchors)
        .filter(F.col("label") != F.col("anchor_label"))
        .withColumn("c", _dot("v", "av") / (F.col("nrm") * F.col("anrm")))
    )
    return (
        _topk_per_group(
            scored,
            ["anchor_id"],
            [F.col("c").desc()],
            3,
            "vec_id",
            "rn",
        )
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.round("c", 4).alias("cosine"),
            F.col("rn").alias("rank"),
        )
        .orderBy("anchor_id", "rn")
    )


@register(
    "q_llm_simsearch_sq",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS maxabs
      FROM e
    ), q AS (
      SELECT vec_id,
             list_transform(v, x -> floor(x * 127.0 / maxabs + 0.5)) AS qv
      FROM m
    ), n AS (
      SELECT vec_id, qv, list_dot_product(qv, qv) AS qn2 FROM q
    ), probe AS (
      SELECT qv AS pqv, qn2 AS pqn2 FROM n WHERE vec_id = {PROBE_VEC_ID}
    )
    SELECT n.vec_id,
           ROUND(list_dot_product(n.qv, probe.pqv)
                 / sqrt(n.qn2 * probe.pqn2), 4) AS cosine_sq
    FROM n, probe
    WHERE n.vec_id <> {PROBE_VEC_ID}
    ORDER BY list_dot_product(n.qv, probe.pqv) / sqrt(n.qn2 * probe.pqn2)
               DESC,
             n.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def q_llm_simsearch_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8-style) top-k search — the compressed-index
    path: each vector is quantized to per-vector-scaled integers in
    [-127, 127] (scale = 127/max|x|), and candidates rank by the
    integer dot product normalized by integer norms.

    Why it matters at 100 TB: the quantized index is ~4× smaller than
    float32 (scan I/O and cache footprint shrink by the same factor)
    and integer dot products SIMD-vectorize; the float corpus is only
    touched to re-rank survivors (here the fixture is small enough
    that the quantized score IS the result, pinned exactly — every
    arithmetic step is integer-valued-in-double, so DuckDB reproduces
    it bit-for-bit). Plan shape matches q_llm_simsearch: 1-row
    broadcast probe, no shuffle, TakeOrderedAndProject top-k."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    quant = emb.select(
        "vec_id",
        F.expr(
            "transform(v, x -> floor(x * 127.0D /"
            " aggregate(v, 0.0D, (a, y) -> greatest(a, abs(y))) + 0.5D))"
        ).alias("qv"),
    ).withColumn("qn2", _dot("qv", "qv"))
    probe = F.broadcast(
        quant.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("qv").alias("pqv"), F.col("qn2").alias("pqn2")
        )
    )
    return (
        quant.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe)
        .withColumn(
            "c", _dot("qv", "pqv") / F.sqrt(F.col("qn2") * F.col("pqn2"))
        )
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id", F.round("c", 4).alias("cosine_sq"))
    )


EVAL_PROBES = 20
EVAL_K = 10


@register(
    "q_llm_retrieval_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probes AS (
      SELECT vec_id AS p_id, label AS p_label, v AS pv, nrm AS pnrm
      FROM n WHERE vec_id < {EVAL_PROBES}
    ), scored AS (
      SELECT p.p_id, p.p_label, n.vec_id, n.label,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_id
               ORDER BY list_dot_product(n.v, p.pv) / (n.nrm * p.pnrm) DESC,
                        n.vec_id ASC
             ) AS rnk
      FROM n JOIN probes p ON n.vec_id <> p.p_id
    ), topk AS (
      SELECT * FROM scored WHERE rnk <= {EVAL_K}
    ), per_probe AS (
      SELECT p_id,
             SUM(CASE WHEN label = p_label THEN 1 ELSE 0 END) AS n_rel,
             MIN(CASE WHEN label = p_label THEN rnk END) AS first_rel
      FROM topk GROUP BY p_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           ROUND(SUM(n_rel) * 1.0 / (COUNT(*) * {EVAL_K}), 4) AS precision_at_k,
           ROUND(SUM(CASE WHEN first_rel IS NULL THEN 0.0
                          ELSE 1.0 / first_rel END) / COUNT(*), 4) AS mrr
    FROM per_probe
    """,
)
def q_llm_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness: for {EVAL_PROBES} probe
    vectors, rank the corpus by exact cosine, take top-{EVAL_K}, and
    score label-match precision@k and MRR — the eval loop every
    embedding/retrieval pipeline runs after re-indexing or re-training.

    Plan: probes broadcast (tiny), one scored pass over the corpus, a
    per-probe window for ranks — the corpus never self-joins. At
    100 TB the same harness runs against the ANN index instead of the
    exact scan and the metric becomes recall-vs-exact; here the exact
    ranking itself is the system under test, pinned cross-engine."""
    emb = _with_norm(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _as_double("embedding").alias("v")
        ),
        "v",
        "nrm",
    )
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < EVAL_PROBES).select(
            F.col("vec_id").alias("p_id"),
            F.col("label").alias("p_label"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    scored = (
        emb.crossJoin(probes)
        .filter(F.col("vec_id") != F.col("p_id"))
        .withColumn("c", _dot("v", "pv") / (F.col("nrm") * F.col("pnrm")))
    )
    topk = _topk_per_group(
        scored,
        ["p_id"],
        [F.col("c").desc()],
        EVAL_K,
        "vec_id",
        "rnk",
    )
    per_probe = topk.groupBy("p_id").agg(
        F.sum(
            F.when(F.col("label") == F.col("p_label"), 1).otherwise(0)
        ).alias("n_rel"),
        F.min(
            F.when(F.col("label") == F.col("p_label"), F.col("rnk"))
        ).alias("first_rel"),
    )
    return per_probe.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.round(
            F.sum("n_rel") / (F.count(F.lit(1)) * EVAL_K), 4
        ).alias("precision_at_k"),
        F.round(
            F.sum(
                F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                    1.0 / F.col("first_rel")
                )
            )
            / F.count(F.lit(1)),
            4,
        ).alias("mrr"),
    )


@register(
    "q_llm_negative_sampling",
    oracle="""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, label AS anchor_label
      FROM embeddings WHERE vec_id < 5
    ), ranked AS (
      SELECT a.anchor_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.anchor_id
               ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || ':'
                            || CAST(e.vec_id AS VARCHAR)), e.vec_id
             ) AS rn
      FROM embeddings e JOIN anchors a
        ON e.label <> a.anchor_label
    )
    SELECT anchor_id, vec_id AS negative_id, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5
    ORDER BY anchor_id, rank
    """,
)
def q_llm_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform (non-hard) negative sampling for contrastive training:
    per anchor, 5 different-label vectors chosen by a KEYED
    cryptographic hash over (anchor, candidate) — a reproducible
    pseudo-random draw with no seeded RNG, so resamples are stable
    across engines, runs and partitionings (the md5 trick
    q_llm_global_shuffle uses, applied per anchor). Complements
    q_llm_hard_negatives: production batches mix mostly-uniform
    negatives with a few hard ones. Plan: anchors broadcast, one
    corpus pass, per-anchor rank window — no corpus self-join."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    anchors = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
        )
    )
    ranked = (
        emb.crossJoin(anchors)
        .filter(F.col("label") != F.col("anchor_label"))
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("vec_id").cast("string"),
                )
            ),
        )
    )
    return (
        _topk_per_group(
            ranked,
            ["anchor_id"],
            [F.col("h")],
            5,
            "vec_id",
            "rank",
        )
        .select("anchor_id", F.col("vec_id").alias("negative_id"), "rank")
        .orderBy("anchor_id", "rank")
    )


# ------------------------------------------------- product quantization

PQ_M = 8        # subspaces (64 dims → 8 × 8)
PQ_SUBDIM = 8
PQ_CODES = 16   # centroids per subspace (codebook = first 16 vectors)


@register(
    "q_llm_simsearch_pq",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
      FROM embeddings
    ), subs AS (
      SELECT vec_id, CAST(u.m AS INT) AS m,
             e[CAST(u.m * {PQ_SUBDIM} + 1 AS INT) : CAST(u.m * {PQ_SUBDIM} + {PQ_SUBDIM} AS INT)] AS sub
      FROM q, UNNEST(range(0, {PQ_M})) AS u(m)
    ), cents AS (
      SELECT vec_id AS c, m, sub AS cent FROM subs WHERE vec_id < {PQ_CODES}
    ), asg AS (
      SELECT s.vec_id, s.m, c.c,
             CAST(list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
                  i -> (s.sub[i] - c.cent[i]) * (s.sub[i] - c.cent[i])))
                  AS BIGINT) AS d2
      FROM subs s JOIN cents c ON s.m = c.m
    ), codes AS (
      SELECT vec_id, m, c AS code FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        FROM asg) WHERE rn = 1
    ), lut AS (
      SELECT m, c, d2 AS pd2 FROM asg WHERE vec_id = {PROBE_VEC_ID}
    )
    SELECT codes.vec_id, CAST(SUM(lut.pd2) AS BIGINT) AS adc_d2
    FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.c
    WHERE codes.vec_id <> {PROBE_VEC_ID}
    GROUP BY codes.vec_id
    ORDER BY adc_d2, codes.vec_id
    LIMIT {TOP_K}
    """,
)
def q_llm_simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized (PQ) top-k search — the third compression
    tier beside IVF (q_llm_simsearch_ivf) and int8 SQ
    (q_llm_simsearch_sq), the Jégou et al. 2011 recipe every
    billion-vector ANN system (FAISS IVFPQ) runs: split each vector
    into {PQ_M} subvectors, encode each against a {PQ_CODES}-entry
    per-subspace codebook (nearest centroid), and rank by ADC
    (asymmetric distance): the probe precomputes a {PQ_M}×{PQ_CODES}
    lookup table of subspace distances, and a vector's approximate
    distance is the sum of {PQ_M} table entries — no float math per
    corpus vector at query time.

    Exactness: vectors quantized to integer milli-units, codebooks =
    the subvectors of the first {PQ_CODES} corpus vectors (the
    kmeans_assign convention), so encode argmin and ADC sums are
    int64 — DuckDB replays them bit-for-bit.

    Plan shape at 100 TB: the codebook (128 rows) and the probe LUT
    ({PQ_M}×{PQ_CODES} rows) broadcast; encoding is one broadcast
    join + a (vec_id, m) min-struct aggregate (in production the
    codes are precomputed at write time: 8 bytes/vector, a 32×
    index-size reduction over float32); query-time ADC is a broadcast
    join + sum — the corpus never shuffles."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("e"),
    )
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}),"
                f" m -> slice(e, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}))"
            )
        ).alias("m", "sub"),
    )
    cents = subs.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("c"), "m", F.col("sub").alias("cent")
    )
    d2 = F.aggregate(
        F.zip_with("sub", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).alias("d2")
    asg = subs.join(F.broadcast(cents), "m").select("vec_id", "m", "c", d2)
    codes = asg.groupBy("vec_id", "m").agg(
        F.min(F.struct("d2", "c")).getField("c").alias("code")
    )
    lut = F.broadcast(
        asg.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            "m", F.col("c").alias("code"), F.col("d2").alias("pd2")
        )
    )
    return (
        codes.filter(F.col("vec_id") != PROBE_VEC_ID)
        .join(lut, ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("pd2").cast("long").alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(TOP_K)
    )


# --------------------------------------------- Matryoshka truncation

MRL_DIMS = (8, 16, 32)  # truncated prefixes evaluated against full 64


@register(
    "q_llm_mrl_truncation",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dims AS (
      SELECT CAST(u.d AS INT) AS dim
      FROM UNNEST([{", ".join(str(d) for d in (*MRL_DIMS, 64))}]) AS u(d)
    ), sliced AS (
      SELECT vec_id, dim, v[1:dim] AS sv FROM e CROSS JOIN dims
    ), n AS (
      SELECT vec_id, dim, sv, sqrt(list_dot_product(sv, sv)) AS nrm
      FROM sliced
    ), probes AS (
      SELECT vec_id AS p_id, dim, sv AS pv, nrm AS pnrm
      FROM n WHERE vec_id < {EVAL_PROBES}
    ), ranked AS (
      SELECT p.p_id, p.dim, n.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_id, p.dim
               ORDER BY list_dot_product(n.sv, p.pv) / (n.nrm * p.pnrm) DESC,
                        n.vec_id ASC
             ) AS rnk
      FROM n JOIN p__alias p
        ON n.dim = p.dim AND n.vec_id <> p.p_id
    ), topk AS (
      SELECT p_id, dim, vec_id FROM ranked WHERE rnk <= {EVAL_K}
    ), full_k AS (
      SELECT p_id, vec_id FROM topk WHERE dim = 64
    ), overlap AS (
      SELECT t.p_id, t.dim, COUNT(f.vec_id) AS n_common
      FROM topk t LEFT JOIN full_k f
        ON f.p_id = t.p_id AND f.vec_id = t.vec_id
      WHERE t.dim <> 64
      GROUP BY t.p_id, t.dim
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           ROUND(SUM(n_common) * 1.0 / (COUNT(*) * {EVAL_K}), 4)
             AS avg_overlap_at_k
    FROM overlap
    GROUP BY dim
    ORDER BY dim
    """.replace("p__alias", "probes"),
)
def q_llm_mrl_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncation sweep: how
    much of the full-dimension top-k survives when the index stores
    only a prefix of each embedding (8/16/32 of 64 dims) — the
    dimension-vs-recall dial every MRL-trained embedding deployment
    tunes before shrinking its index 2-8×. For {EVAL_PROBES} probes,
    rank the corpus by prefix cosine at each width and report mean
    top-{EVAL_K} overlap with the full-width ranking.

    Plan: the corpus is sliced once per width (explode over a 4-row
    literal), probes broadcast, one scored pass per (probe, dim) with
    a partitioned rank window — the corpus never self-joins, and at
    100 TB each width's scan reads dim/64 of the vector bytes (with a
    columnar layout storing prefix segments separately, the narrower
    widths are strictly cheaper scans)."""
    dims_df = spark.createDataFrame(
        [(d,) for d in (*MRL_DIMS, 64)], "dim int"
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    sliced = emb.crossJoin(F.broadcast(dims_df)).select(
        "vec_id", "dim", F.expr("slice(v, 1, dim)").alias("sv")
    )
    n = _with_norm(sliced, "sv", "nrm")
    probes = F.broadcast(
        n.filter(F.col("vec_id") < EVAL_PROBES).select(
            F.col("vec_id").alias("p_id"),
            F.col("dim").alias("p_dim"),
            F.col("sv").alias("pv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    scored = (
        n.join(
            probes,
            (F.col("dim") == F.col("p_dim"))
            & (F.col("vec_id") != F.col("p_id")),
        )
        .withColumn("c", _dot("sv", "pv") / (F.col("nrm") * F.col("pnrm")))
    )
    topk = _topk_per_group(
        scored,
        ["p_id", "dim"],
        [F.col("c").desc()],
        EVAL_K,
        "vec_id",
        "rnk",
    ).select("p_id", "dim", "vec_id")
    full_k = topk.filter(F.col("dim") == 64).select(
        F.col("p_id").alias("f_pid"), F.col("vec_id").alias("f_vid")
    )
    overlap = (
        topk.filter(F.col("dim") != 64)
        .join(
            full_k,
            (F.col("p_id") == F.col("f_pid"))
            & (F.col("vec_id") == F.col("f_vid")),
            "left",
        )
        .groupBy("p_id", "dim")
        .agg(F.count("f_vid").alias("n_common"))
    )
    return (
        overlap.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.round(
                F.sum("n_common") / (F.count(F.lit(1)) * EVAL_K), 4
            ).alias("avg_overlap_at_k"),
        )
        .orderBy("dim")
    )


# ------------------------------------------------------------- BM25 top-k
#
# Lexical retrieval complement to the vector paths above: Okapi BM25
# (Robertson/Spärck Jones; Lucene's +1 idf smoothing) over the
# documents table for a fixed query set, top-K per query.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
# (qid, term) pairs — fixture terms chosen from the synthetic corpus
# vocabulary; multi-term queries exercise the per-query score sum.
BM25_QUERIES = [
    ("q_kv", "key"), ("q_kv", "value"),
    ("q_rt", "row"), ("q_rt", "table"),
    ("q_dk", "data"), ("q_dk", "the"), ("q_dk", "key"),
]

def _bm25_sql_ctes(queries: list[tuple[str, str]]) -> str:
    """DuckDB CTE chain ``q → … → doc_score(qid, doc_id, score)`` for
    a (qid, term) list — shared by the BM25 and hybrid-RRF oracles."""
    values = ", ".join(f"('{q}', '{t}')" for q, t in queries)
    return f"""q(qid, tok) AS (VALUES {values}),
toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl
),
qv AS (SELECT DISTINCT tok FROM q),
tf AS (
  SELECT t.doc_id, t.tok, COUNT(*) AS tf
  FROM toks t JOIN qv USING (tok) GROUP BY t.doc_id, t.tok
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
term_score AS (
  SELECT tf.doc_id, tf.tok,
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
           * (tf.tf * {BM25_K1 + 1})
           / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                                   + {BM25_B} * dl.dl / stats.avgdl))
           AS s
  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), stats
),
doc_score AS (
  SELECT q.qid, ts.doc_id,
         ROUND(list_reduce(list(ts.s ORDER BY ts.tok), (a, b) -> a + b),
               4) AS score
  FROM q JOIN term_score ts USING (tok)
  GROUP BY q.qid, ts.doc_id
)"""


_BM25_ORACLE = f"""
WITH {_bm25_sql_ctes(BM25_QUERIES)},
ranked AS (
  SELECT qid, doc_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY score DESC, doc_id
         ) AS rank
  FROM doc_score
)
SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, score
FROM ranked WHERE rank <= {BM25_TOPK}
ORDER BY qid, rank
"""


def _bm25_doc_scores(
    spark: SparkSession, sf_dir: str, queries: list[tuple[str, str]]
) -> DataFrame:
    """Spark mirror of :func:`_bm25_sql_ctes`: per-(qid, doc) BM25
    scores, rounded to 4 decimals with the per-doc term sum computed
    over a SORTED term array so float addition order is pinned."""
    docs = load(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(queries, "qid string, tok string")
    qvocab = qterms.select("tok").distinct()
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.join(F.broadcast(qvocab), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    term_score = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1
                )
                * (F.col("tf") * F.lit(BM25_K1 + 1))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        1
                        - F.lit(BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("s"),
        )
    )
    return (
        qterms.join(term_score, "tok")
        .groupBy("qid", "doc_id")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("tok", "s"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["s"],
                ),
                4,
            ).alias("score")
        )
    )


@register("q_llm_bm25_topk", oracle=_BM25_ORACLE)
def q_llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{K} lexical retrieval over the documents table
    for a fixed multi-query set — the sparse-retrieval half of a
    hybrid search stack (the dense half is q_llm_simsearch*).

    Plan shape: one explode+groupBy pass builds per-doc TF (restricted
    to the query vocabulary by a broadcast semi-join FIRST, so the
    big aggregation keys only on terms that matter), DF and corpus
    stats are broadcast-sized dimensions, and the final per-query sum
    runs over a sorted per-doc term array so float addition order is
    pinned in both engines (the unigram_logprob ordered-reduce
    discipline). Scores are ranked on their ROUNDED value with doc_id
    tiebreak, so ranking is deterministic cross-engine. At 100 TB the
    only corpus-sized shuffle is the token TF aggregation: the
    per-query top-K is TWO-LEVEL (round-10 fix — a window partitioned
    by qid alone would sort the whole corpus in |queries| tasks): see
    ``_topk_per_group``."""
    doc_score = _bm25_doc_scores(spark, sf_dir, BM25_QUERIES)
    return (
        _topk_per_group(
            doc_score,
            ["qid"],
            [F.col("score").desc()],
            BM25_TOPK,
            "doc_id",
            "rank",
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .select("qid", "rank", "doc_id", "score")
        .orderBy("qid", "rank")
    )


# ----------------------------------------------------------- hybrid RRF

RRF_K = 60  # standard reciprocal-rank-fusion damping constant
RRF_DEPTH = 20  # per-system candidate depth
RRF_TOPK = 10
RRF_QUERY = [("h", "key"), ("h", "value")]

_RRF_ORACLE = f"""
WITH {_bm25_sql_ctes(RRF_QUERY)},
sparse AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS srank
  FROM doc_score QUALIFY srank <= {RRF_DEPTH}
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), probe AS (
  SELECT v AS pv, nrm AS pnrm FROM n WHERE vec_id = {PROBE_VEC_ID}
),
dense AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(list_dot_product(n.v, probe.pv)
                          / (n.nrm * probe.pnrm), 4) DESC, n.vec_id
         ) AS drank
  FROM n, probe
  WHERE n.vec_id <> {PROBE_VEC_ID}
  QUALIFY drank <= {RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         s.srank AS sparse_rank,
         d.drank AS dense_rank,
         COALESCE(1000000 // ({RRF_K} + s.srank), 0)
           + COALESCE(1000000 // ({RRF_K} + d.drank), 0) AS rrf_ppm
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT)
         AS rank,
       doc_id,
       CAST(sparse_rank AS BIGINT) AS sparse_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm
FROM fused
QUALIFY rank <= {RRF_TOPK}
ORDER BY rank
"""


@register("q_llm_hybrid_rrf", oracle=_RRF_ORACLE)
def q_llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 sparse
    ranking (one query, top-{RRF_DEPTH}) and the dense cosine ranking
    (probe vector {PROBE_VEC_ID}, top-{RRF_DEPTH}) merge on doc_id ==
    vec_id with the RRF score Σ 1/(k + rank), k = {RRF_K} — the
    standard hybrid-search re-ranker (Cormack et al., SIGIR'09).

    Exactness: each system ranks on ROUNDED scores with id tiebreaks
    (deterministic), and the fusion score is the scaled-INTEGER
    ``1000000 div (k + rank)`` — so the merged ranking is pure integer
    arithmetic, bit-identical in both engines. Scale: each ranking is
    a top-K (TakeOrderedAndProject, no full sort); the fusion joins
    two K-row frames — driver-free and broadcast-sized regardless of
    corpus size."""
    # top-DEPTH via orderBy().limit() = TakeOrderedAndProject (a
    # per-partition heap + K-row merge, NO single-task global sort —
    # round-10 fix: ranking the full score stream through an
    # unpartitioned window was the 100 TB bottleneck); the row_number
    # that assigns ranks then runs over DEPTH rows only. Same
    # (score DESC, doc_id) total order in both steps keeps the set
    # and the ranks identical to the one-window form.
    sparse = (
        _bm25_doc_scores(spark, sf_dir, RRF_QUERY)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RRF_DEPTH)
        .withColumn(
            "srank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), "doc_id")
            ),
        )
        .select("doc_id", "srank")
    )
    emb = _with_norm(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("v")
        ),
        "v",
        "nrm",
    )
    probe = F.broadcast(
        emb.filter(F.col("vec_id") == PROBE_VEC_ID).select(
            F.col("v").alias("pv"), F.col("nrm").alias("pnrm")
        )
    )
    dense = (
        emb.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe)
        .withColumn(
            "cos_r",
            F.round(_dot("v", "pv") / (F.col("nrm") * F.col("pnrm")), 4),
        )
        .orderBy(F.col("cos_r").desc(), F.col("vec_id").asc())
        .limit(RRF_DEPTH)
        .withColumn(
            "drank",
            F.row_number().over(
                Window.orderBy(F.col("cos_r").desc(), F.col("vec_id").asc())
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "drank")
    )
    fused = (
        sparse.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("srank").cast("long").alias("sparse_rank"),
            F.col("drank").cast("long").alias("dense_rank"),
            (
                F.coalesce(
                    F.expr(f"1000000 div ({RRF_K} + srank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({RRF_K} + drank)"), F.lit(0)
                )
            ).cast("long").alias("rrf_ppm"),
        )
    )
    return (
        fused.withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf_ppm").desc(), "doc_id"))
            .cast("long"),
        )
        .filter(F.col("rank") <= RRF_TOPK)
        .select("rank", "doc_id", "sparse_rank", "dense_rank", "rrf_ppm")
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Persisted ANN index lifecycle (round-10): the operator a real 100 TB
# embedding store needs — build the IVF index ONCE as a catalog table,
# keep its codebook in table properties, refresh it incrementally from
# the base table's changelog, and serve probes from a fresh handle.

ANN_N_CENTS = 4  # codebook size (seeded like q_llm_kmeans_assign)
ANN_REFRESH_MOD = 5  # vec_id % 5 == 4 arrives AFTER the index build


@register(
    "q_llm_ann_index_lifecycle",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                                      AS BIGINT)) AS e
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, e AS c FROM q
              WHERE vec_id < {ANN_N_CENTS}),
    dists AS (
      SELECT q.vec_id, cents.cid,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (q.e[i] - cents.c[i]) * (q.e[i] - cents.c[i])))
                  AS BIGINT) AS d2
      FROM q CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid)
                 AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    best AS (
      SELECT cid FROM dists WHERE vec_id = {PROBE_VEC_ID}
      ORDER BY d2, cid LIMIT {N_PROBE}
    ),
    pd AS (
      SELECT q.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (q.e[i] - p.e[i]) * (q.e[i] - p.e[i])))
                  AS BIGINT) AS d2
      FROM q, (SELECT e FROM q WHERE vec_id = {PROBE_VEC_ID}) p
      WHERE q.vec_id <> {PROBE_VEC_ID}
    )
    SELECT pd.vec_id, a.cid AS ivf_cluster, pd.d2,
           CAST(pd.vec_id % {ANN_REFRESH_MOD} = {ANN_REFRESH_MOD - 1}
                AS INT) AS from_refresh
    FROM pd JOIN assign a USING (vec_id)
    WHERE a.cid IN (SELECT cid FROM best)
    ORDER BY pd.d2, pd.vec_id
    LIMIT {TOP_K}
    """,
)
def q_llm_ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index LIFECYCLE: build → property-pinned codebook
    → changelog-driven incremental refresh → partition-pruned probe
    from a fresh handle. Composes three proven families
    (q_llm_simsearch_ivf_partitioned's cluster-partitioned layout,
    icetbl table properties, q_tt_changes/changelog maintenance) into
    the operator a production embedding store runs.

    Lifecycle, in order:
    1. BUILD — vectors present at build time (vec_id % 5 != 4) are
       SQ-quantized (floor(x*1000), the q_llm_kmeans_assign integer
       recipe — every distance below is integer-exact cross-engine),
       assigned to their nearest of {ANN_N_CENTS} codebook centroids,
       and written as an icetbl table PARTITIONED BY ivf_cluster; the
       codebook itself is stored in TABLE PROPERTIES (JSON of ints —
       the index is self-describing, no side file).
    2. REFRESH — a late ingest batch appends to the BASE table; the
       index is maintained from base.changelog(build_snap → head):
       only the inserted rows are assigned (codebook READ BACK from
       the index's own properties) and appended into their cluster
       partitions. O(new batch), never an index rebuild.
    3. PROBE "across sessions" — a FRESH IceTable.load handle parses
       the codebook from properties, ranks centroids driver-side
       (k integers — query-router state, not data), and scans ONLY the
       {N_PROBE}-of-{ANN_N_CENTS} best clusters via partition-pruned
       DNF predicates; require() asserts files_scanned < files_total.

    100 TB: the build is one write (the partitioned layout IS the
    index); refresh cost tracks ingest, not corpus; probes read
    nprobe/k of the files forever. ``from_refresh`` in the output
    proves refreshed rows are probe-visible. The oracle replays the
    same assignment/probe rule over the full corpus — parity is exact
    because top-k is restricted to the same best clusters."""
    import json as _json

    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.icetbl.pruning import Pred
    from iceberg_workshop_spark.icetbl.table import spec_field
    from iceberg_workshop_spark.plans.lifecycle import _fresh
    from iceberg_workshop_spark.registry import require

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("e"),
    )
    initial = emb.filter(
        F.col("vec_id") % ANN_REFRESH_MOD != ANN_REFRESH_MOD - 1
    )
    arriving = emb.filter(
        F.col("vec_id") % ANN_REFRESH_MOD == ANN_REFRESH_MOD - 1
    )

    _D2 = (
        "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, z) -> acc + z)"
    )

    def assign(df: DataFrame, codebook: dict[int, list[int]]) -> DataFrame:
        cdf = F.broadcast(
            spark.createDataFrame(
                sorted(codebook.items()), "cid int, c array<bigint>"
            )
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            df.crossJoin(cdf)
            .withColumn("d2", F.expr(_D2))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "e", F.col("cid").alias("ivf_cluster"))
        )

    # 1. BUILD: base table, codebook (k rows -> driver), cluster-
    #    partitioned index table with the codebook as properties.
    base = IceTable.create_as(spark, _fresh(sf_dir, "ann_base"), initial)
    build_snap = base.meta.current_snapshot_id
    codebook = {
        int(r["cid"]): [int(x) for x in r["c"]]
        for r in initial.filter(F.col("vec_id") < ANN_N_CENTS)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
        .collect()
    }
    require(
        len(codebook) == ANN_N_CENTS,
        f"ann_index_lifecycle: codebook needs {ANN_N_CENTS} centroids",
    )
    idx = IceTable.create_as(
        spark,
        _fresh(sf_dir, "ann_index"),
        assign(initial, codebook),
        partition_spec=[spec_field("ivf_cluster")],
    )
    idx.set_properties(
        {
            "ann.codebook": _json.dumps(codebook, sort_keys=True),
            "ann.metric": "l2_sq1000",
            "ann.nprobe": str(N_PROBE),
            "ann.k": str(TOP_K),
        }
    )

    # 2. REFRESH: late batch lands in the base table; the index is
    #    maintained from the changelog with the PROPERTY codebook.
    base.append(arriving)
    chg = base.changelog(
        from_snapshot_id=build_snap,
        to_snapshot_id=base.meta.current_snapshot_id,
    )
    cb_from_props = {
        int(k): v
        for k, v in _json.loads(idx.meta.properties["ann.codebook"]).items()
    }
    idx.append(
        assign(
            chg.filter(F.col("_change_type") == "insert").select(
                "vec_id", "e"
            ),
            cb_from_props,
        )
    )

    # 3. PROBE from a fresh handle: codebook out of properties, best
    #    clusters ranked driver-side (pure integer math), candidates
    #    read via partition-pruned DNF scan.
    idx2 = IceTable.load(spark, idx.meta.location)
    cb = {
        int(k): v
        for k, v in _json.loads(idx2.meta.properties["ann.codebook"]).items()
    }
    probe_vec = [
        int(x)
        for x in emb.filter(F.col("vec_id") == PROBE_VEC_ID)
        .collect()[0]["e"]
    ]
    ranked = sorted(
        (sum((x - y) * (x - y) for x, y in zip(probe_vec, c)), cid)
        for cid, c in cb.items()
    )
    best = [cid for _, cid in ranked[:N_PROBE]]
    cand = idx2.scan([[Pred("ivf_cluster", "=", c)] for c in best])
    rep = idx2.last_scan_report
    require(
        rep["files_scanned"] < rep["files_total"],
        f"ann_index_lifecycle: probe must partition-prune, got {rep}",
    )

    probe_b = F.broadcast(
        spark.createDataFrame([(probe_vec,)], "c array<bigint>")
    )
    return (
        cand.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe_b)
        .withColumn("d2", F.expr(_D2))
        .orderBy("d2", "vec_id")
        .limit(TOP_K)
        .select(
            "vec_id",
            F.col("ivf_cluster").cast("int").alias("ivf_cluster"),
            F.col("d2").cast("long").alias("d2"),
            F.expr(
                f"CAST(vec_id % {ANN_REFRESH_MOD} = {ANN_REFRESH_MOD - 1}"
                " AS INT)"
            ).alias("from_refresh"),
        )
    )


ANN_DELETE_MOD = 7  # vec_id % 7 == 3 is GDPR-deleted after the build


@register(
    "q_llm_ann_index_delete",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                                      AS BIGINT)) AS e
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, e AS c FROM q
              WHERE vec_id < {ANN_N_CENTS}),
    live AS (SELECT * FROM q WHERE vec_id % {ANN_DELETE_MOD} <> 3),
    dists AS (
      SELECT live.vec_id, cents.cid,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (live.e[i] - cents.c[i]) * (live.e[i] - cents.c[i])))
                  AS BIGINT) AS d2
      FROM live CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid)
                 AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    best AS (
      SELECT cid FROM dists WHERE vec_id = {PROBE_VEC_ID}
      ORDER BY d2, cid LIMIT {N_PROBE}
    ),
    pd AS (
      SELECT live.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (live.e[i] - p.e[i]) * (live.e[i] - p.e[i])))
                  AS BIGINT) AS d2
      FROM live, (SELECT e FROM q WHERE vec_id = {PROBE_VEC_ID}) p
      WHERE live.vec_id <> {PROBE_VEC_ID}
    )
    SELECT pd.vec_id, a.cid AS ivf_cluster, pd.d2
    FROM pd JOIN assign a USING (vec_id)
    WHERE a.cid IN (SELECT cid FROM best)
    ORDER BY pd.d2, pd.vec_id
    LIMIT {TOP_K}
    """,
)
def q_llm_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index maintenance under DELETES — the GDPR/tombstone side
    of ``q_llm_ann_index_lifecycle``: a delete lands on the BASE
    table (merge-on-read), the index consumes the changelog's delete
    rows as an EXPLICIT key set via ``delete_keys_mor`` (O(|deleted|)
    commit, no index scan, no rebuild), and the probe — a fresh
    handle, partition-pruned — must never surface a deleted vector.

    The probe exercises the round-10 ``scan()`` fix end-to-end: the
    pruned read path applies the index's outstanding equality deletes
    (it used to resurrect them), and the oracle's ``live`` restriction
    breaks parity if any tombstoned vector leaks. The codebook
    OUTLIVES its seed vectors (centroid 3's seed is itself deleted:
    an IVF codebook is statistics, not data — deletes never force a
    re-train). Same integer-exact SQ distances as the lifecycle
    query."""
    import json as _json

    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.plans.lifecycle import _fresh
    from iceberg_workshop_spark.registry import require

    # same quantize + assignment shapes as q_llm_ann_index_lifecycle
    from iceberg_workshop_spark.icetbl.pruning import Pred
    from iceberg_workshop_spark.icetbl.table import spec_field

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("e"),
    )
    _D2 = (
        "aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, z) -> acc + z)"
    )

    def assign(df: DataFrame, codebook: dict[int, list[int]]) -> DataFrame:
        cdf = F.broadcast(
            spark.createDataFrame(
                sorted(codebook.items()), "cid int, c array<bigint>"
            )
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            df.crossJoin(cdf)
            .withColumn("d2", F.expr(_D2))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "e", F.col("cid").alias("ivf_cluster"))
        )

    # BUILD over the full corpus
    base = IceTable.create_as(spark, _fresh(sf_dir, "annd_base"), emb)
    build_snap = base.meta.current_snapshot_id
    codebook = {
        int(r["cid"]): [int(x) for x in r["c"]]
        for r in emb.filter(F.col("vec_id") < ANN_N_CENTS)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
        .collect()
    }
    idx = IceTable.create_as(
        spark,
        _fresh(sf_dir, "annd_index"),
        assign(emb, codebook),
        partition_spec=[spec_field("ivf_cluster")],
    )
    idx.set_properties({"ann.codebook": _json.dumps(codebook, sort_keys=True)})

    # DELETE on the base; index consumes the changelog's delete keys
    base.delete_where_mor(
        f"vec_id % {ANN_DELETE_MOD} = 3", keys=["vec_id"]
    )
    del_keys = base.changelog(
        from_snapshot_id=build_snap,
        to_snapshot_id=base.meta.current_snapshot_id,
    ).filter(F.col("_change_type") == "delete").select("vec_id")
    rep_del = idx.delete_keys_mor(del_keys, keys=["vec_id"])
    require(
        rep_del["keys_deleted"] > 0,
        "ann_index_delete: the changelog must surface deleted keys",
    )

    # PROBE from a fresh handle; pruned scan must apply the deletes
    idx2 = IceTable.load(spark, idx.meta.location)
    cb = {
        int(k): v
        for k, v in _json.loads(idx2.meta.properties["ann.codebook"]).items()
    }
    probe_vec = [
        int(x)
        for x in emb.filter(F.col("vec_id") == PROBE_VEC_ID)
        .collect()[0]["e"]
    ]
    ranked = sorted(
        (sum((x - y) * (x - y) for x, y in zip(probe_vec, c)), cid)
        for cid, c in cb.items()
    )
    best = [cid for _, cid in ranked[:N_PROBE]]
    cand = idx2.scan([[Pred("ivf_cluster", "=", c)] for c in best])
    rep = idx2.last_scan_report
    require(
        rep["files_scanned"] < rep["files_total"],
        f"ann_index_delete: probe must partition-prune, got {rep}",
    )
    probe_b = F.broadcast(
        spark.createDataFrame([(probe_vec,)], "c array<bigint>")
    )
    return (
        cand.filter(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(probe_b)
        .withColumn("d2", F.expr(_D2))
        .orderBy("d2", "vec_id")
        .limit(TOP_K)
        .select(
            "vec_id",
            F.col("ivf_cluster").cast("int").alias("ivf_cluster"),
            F.col("d2").cast("long").alias("d2"),
        )
    )
