"""Query + oracle registry — the driver contract's backbone.

Every operator from SURVEY.md §2B registers itself here with
``@register("q_name", oracle="SELECT ...")``. ``__spark_entry__.py``
exposes the dicts to the driver; tests iterate them to assert DuckDB
hash-parity locally before the driver does.

Hash-stability conventions (SURVEY.md §5.3):
- money aggregates: ``CAST(x AS DECIMAL(18,2))`` before SUM, result
  cast back to DOUBLE so both engines materialize bit-identical
  float64;
- AVG expressed as ``round(sum/count, 4)``;
- every computed column aliased identically in Spark and SQL;
- ORDER BY / window orderBy always ends in a unique key;
- timestamps truncated to seconds at comparison points.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import importlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Advisory metadata per query. Known tags:
#   "baseline-only" — an intentionally-unscalable exact baseline that
#   exists to certify a scale path's recall (e.g. q_llm_dedup_embed's
#   O(n²) all-pairs vs q_llm_dedup_embed_lsh); never a production
#   path, and excluded from bench regression-ratio triage.
TAGS: dict[str, frozenset[str]] = {}

# Modules that define queries; imported lazily by load_all() so that
# `import iceberg_workshop_spark` stays cheap.
_QUERY_MODULES = [
    "iceberg_workshop_spark.operators.scans",
    "iceberg_workshop_spark.operators.filters",
    "iceberg_workshop_spark.operators.joins",
    "iceberg_workshop_spark.operators.aggregates",
    "iceberg_workshop_spark.operators.windows",
    "iceberg_workshop_spark.operators.setops",
    "iceberg_workshop_spark.operators.skew",
    "iceberg_workshop_spark.operators.catalog",
    "iceberg_workshop_spark.operators.bucketing",
    "iceberg_workshop_spark.sources.pysource",
    "iceberg_workshop_spark.operators.analytics",
    "iceberg_workshop_spark.operators.subqueries",
    "iceberg_workshop_spark.operators.tpch_shapes",
    "iceberg_workshop_spark.operators.sequences",
    "iceberg_workshop_spark.operators.graph",
    "iceberg_workshop_spark.operators.sketches",
    "iceberg_workshop_spark.operators.stats_ext",
    "iceberg_workshop_spark.operators.physical",
    "iceberg_workshop_spark.functions.scalar",
    "iceberg_workshop_spark.functions.scalar_ext",
    "iceberg_workshop_spark.functions.udfs",
    "iceberg_workshop_spark.plans.lifecycle",
    "iceberg_workshop_spark.plans.lifecycle_ext",
    "iceberg_workshop_spark.plans.sqlfront",
    "iceberg_workshop_spark.streaming.windows",
    "iceberg_workshop_spark.streaming.stateful",
    "iceberg_workshop_spark.llm.dedup",
    "iceberg_workshop_spark.llm.simsearch",
    "iceberg_workshop_spark.llm.textstats",
    "iceberg_workshop_spark.llm.multimodal",
    "iceberg_workshop_spark.llm.curation",
    "iceberg_workshop_spark.llm.corpus",
]


class QueryInvariantError(AssertionError):
    """A registered query's self-check failed."""


def require(cond: object, msg: str) -> None:
    """Invariant check inside a registered query function.

    Unlike a bare ``assert`` this survives ``python -O``, so the
    query keeps validating its own behavioral claim (e.g. "the
    rewrite split files") wherever the driver runs it.
    """
    if not cond:
        raise QueryInvariantError(msg)


def guard_axis(axis: DataFrame, query: str, max_grid: int) -> DataFrame:
    """Enforce a dense-grid query's bounded-cardinality precondition.

    Grid-shaped statistics (KS, Mann–Whitney) cross-join a group dim
    with a distinct-VALUE dim and are only scale-safe while the value
    axis stays bounded. This wraps the single-column ``axis`` frame
    with an IN-PLAN ``assert_true`` against a broadcast 1-row count,
    so a genuinely continuous column (100 TB of distinct values)
    fails the job LOUDLY with a message telling the caller to bucket
    via the query's ``grain`` parameter — instead of OOMing on a
    |groups| × |distinct| grid. Cost note: the guard's 1-row count
    aggregates the distinct-axis SUBTREE, which duplicates the
    upstream scan+distinct in the plan unless Spark's exchange reuse
    kicks in — cheap (the axis is bounded by construction when the
    guard passes) but not free; callers for whom the duplicated
    subtree ever matters should persist the axis first.
    """
    from pyspark.sql import functions as F

    col = axis.columns[0]
    n = axis.agg(F.count(F.lit(1)).alias("__iws_axis_n__"))
    msg = (
        f"{query}: dense-grid value axis exceeds max_grid={max_grid} "
        "distinct points; bucket the axis with a coarser grain= "
        "(PSI-style `value div grain`) instead of materializing the "
        "groups x values grid"
    )
    return (
        axis.crossJoin(F.broadcast(n))
        .where(
            F.assert_true(
                F.col("__iws_axis_n__") <= F.lit(int(max_grid)), F.lit(msg)
            ).isNull()
        )
        .select(col)
    )


@dataclass
class _Scope:
    frames: list[DataFrame] = field(default_factory=list)
    confs: dict[str, str | None] = field(default_factory=dict)
    root: str | None = None


_SCOPE: contextvars.ContextVar[_Scope | None] = contextvars.ContextVar(
    "iws_invocation", default=None
)


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the current invocation returns.

    Persists are invocation-scoped: Spark's CacheManager keys on the
    canonicalized plan, so a frame left cached would make later
    invocations of the same query silently read this run's blocks.
    Outside an invocation the frame comes back unpersisted, so a helper
    called directly (from a test) cannot leak a cache either.
    """
    scope = _SCOPE.get()
    if scope is None:
        return df
    scope.frames.append(df.persist())
    return df


def set_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf until the current invocation returns, when
    its prior value (or unset state) comes back, failures included."""
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError(
            f"set_conf({key!r}) outside an invocation would leave the "
            "conf changed; call it from a registered query or inside "
            "registry.invocation()"
        )
    scope.confs.setdefault(key, spark.conf.get(key, None))
    spark.conf.set(key, value)


def scratch(name: str) -> str:
    """A path named ``name`` that does not exist yet, for files the
    current invocation writes; the scope removes it on exit.

    Scratch lives under ``$SPARK_GRAFT_SCRATCH`` (default: the system
    temp dir), in one root per invocation, created on the first call.
    Outside an invocation the path lies in a fresh directory the
    caller owns."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH") or tempfile.gettempdir()
    os.makedirs(base, exist_ok=True)
    scope = _SCOPE.get()
    if scope is None:
        return os.path.join(tempfile.mkdtemp(prefix="iws_", dir=base), name)
    if scope.root is None:
        scope.root = tempfile.mkdtemp(prefix="iws_call_", dir=base)
    return os.path.join(tempfile.mkdtemp(dir=scope.root), name)


# Above this many paths Spark lists a read's explicit file paths with a
# distributed job, one task per path (the default is 32). icetbl reads
# name their data files from the manifests and the driver stats a local
# file in microseconds, so every scope raises it, whatever session the
# caller built.
LISTING_THRESHOLD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextlib.contextmanager
def invocation(spark: SparkSession) -> Iterator[_Scope]:
    """One invocation scope: it raises the file-listing threshold
    (``LISTING_THRESHOLD_KEY``), and on exit, normal or not, unpersists
    every ``persist`` frame, removes the ``scratch`` root, restores
    every ``set_conf`` key and drops every local temp view and database
    created inside. Frames built over a dropped view stay valid (their
    plans are analyzed). Scopes nest; each releases only what was
    taken inside it. Assumes one thread per session: views another
    thread creates meanwhile would be dropped too."""
    catalog = spark._jsparkSession.sessionState().catalog()
    views = catalog.listLocalTempViews("*")
    databases = catalog.listDatabases()
    scope = _Scope()
    token = _SCOPE.set(scope)
    try:
        set_conf(spark, LISTING_THRESHOLD_KEY, "1024")
        yield scope
    finally:
        _SCOPE.reset(token)
        for df in scope.frames:
            df.unpersist()
        if scope.root is not None:
            shutil.rmtree(scope.root, ignore_errors=True)
        for key, prior in scope.confs.items():
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        new = catalog.listLocalTempViews("*").diff(views)
        for i in range(new.size()):
            catalog.dropTempView(new.apply(i).table())
        new = catalog.listDatabases().diff(databases)
        for i in range(new.size()):
            spark.sql(f"DROP DATABASE IF EXISTS `{new.apply(i)}` CASCADE")


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` means rows-only driver check.
    ``tags`` attaches advisory metadata (see ``TAGS``).

    Every call runs in its own ``invocation`` scope. A query that
    persisted anything or took ``scratch`` gets its result
    checkpointed (one eager job) before the scope releases the frames
    and files the result was built from."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def scoped(spark: SparkSession, *args, **kwargs) -> DataFrame:
            with invocation(spark) as scope:
                out = fn(spark, *args, **kwargs)
                if scope.frames or scope.root:
                    out = out.localCheckpoint(eager=True)
                return out

        QUERIES[name] = scoped
        if oracle is not None:
            ORACLES[name] = oracle
        if tags:
            TAGS[name] = frozenset(tags)
        return scoped

    return deco


# Driver-verification rotation. The driver's correctness gate samples
# the FIRST 50 registry rows each round; rounds 1-3 all landed on the
# same §2B head, leaving 193 of 269 queries with only builder-side
# verification. Each round we rotate a window of never-driver-verified
# names to the front so the external gate eventually covers the whole
# registry. Ledger of which names each round's gate covered lives in
# NOTES.md ("Driver-gate coverage ledger").
#
# Round-6 window: the LLM extension surface — the north-star
# training-data-pipeline families (dedup, simsearch, textstats,
# multimodal, curation) that pass the full local DuckDB-parity suite
# but have never had an external driver CORRECTNESS row.
_DRIVER_WINDOW = [
    # round-14 rotation (VERDICT r13 task #1): the round-14 NEW queries
    # lead (foreign MoR changelog + foreign metadata tables), then
    # three re-samples whose plans
    # or output schemas changed this round (q_sql_write_ordered gained
    # the cross-boundary order_roundtrip column; the two bucket writes
    # go through the exact-temp-column murmur3 chain), then the FULL
    # 26-name r6-vintage staleness tail (the LLM extension heads whose
    # modules round 13 touched), then r7-vintage pads (LEDGER r7
    # membership order) to 50. After this window lands green, the
    # oldest external vintage becomes r7.
    "q_iceberg_changes_mor", "q_iceberg_metadata_tables",
    "q_iceberg_export_refs", "q_iceberg_foreign_append",
    "q_iceberg_foreign_delete", "q_iceberg_foreign_wap",
    "q_iceberg_foreign_evolve", "q_iceberg_foreign_expire",
    "q_iceberg_foreign_compact", "q_iceberg_foreign_posdelete",
    "q_iceberg_foreign_update",
    "q_sql_write_ordered", "q_part_bucket", "q_part_evolution_bucket",
    # r6-vintage tail (26 names, computed mechanically as
    # {name: latest CORRECTNESS round == r6} at r14 start):
    "q_llm_simsearch_incr", "q_llm_kmeans_assign", "q_llm_lang_id",
    "q_llm_quality", "q_llm_token_count", "q_llm_fingerprint",
    "q_llm_tfidf_top_term", "q_llm_unigram_logprob", "q_llm_bigram_lm",
    "q_llm_chunking", "q_llm_chunk_pack_pipeline",
    "q_llm_perplexity_filter", "q_llm_vocab_coverage",
    "q_llm_gopher_rules", "q_llm_binaryfile", "q_llm_multimodal_audio",
    "q_llm_pii_redact", "q_llm_contamination", "q_llm_seq_pack",
    "q_llm_domain_mix", "q_llm_repetition", "q_llm_pipeline_e2e",
    "q_llm_safety_filter", "q_llm_dataset_card", "q_llm_curriculum",
    "q_llm_global_shuffle",
    # r7-vintage pads (first 10, LEDGER r7 membership order; one pad
    # fell out per round-14 query joining — q_agg_histogram,
    # q_retention_cohort, q_funnel_conversion, q_stream_ice_table,
    # q_source_python_write, q_source_python_stream, q_source_python,
    # q_join_bucketed, q_catalog_ops, q_agg_skew_salted):
    "q_scan_bloom", "q_join_asof_tolerance", "q_win_distribution",
    "q_win_running_distinct", "q_win_period_over_period",
    "q_sort_nulls", "q_set_union_by_name", "q_limit_offset",
    "q_set_intersect_all", "q_join_skew_salted",
]

# SURVEY.md §2B contract rows, in contract order; emitted after the
# rotation window, then extension queries in module order.
_CONTRACT_ORDER = [
    "q_scan_parquet", "q_scan_csv", "q_ctas_roundtrip", "q_scan_pruned",
    "q_select_star", "q_project_rename", "q_filter_eq_str", "q_filter_eq_int",
    "q_filter_between_ts", "q_filter_conj_disj", "q_filter_in_like_null",
    "q_join_inner", "q_join_broadcast", "q_join_multiway", "q_join_left",
    "q_join_semi_anti", "q_join_theta_range", "q_join_asof",
    "q_agg_scalar_count", "q_agg_groupby", "q_agg_distinct",
    "q_agg_rollup_cube_gsets", "q_agg_having", "q_agg_approx_cd",
    "q_win_rank", "q_win_analytic", "q_win_frame", "q_win_topk_per_group",
    "q_sort_multi", "q_limit_topk", "q_set_union_all", "q_set_intersect_except",
    "q_fn_string", "q_fn_date", "q_fn_math", "q_fn_conditional",
    "q_fn_array", "q_fn_map_json",
    "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
    "q_stream_dedup_watermark", "q_stream_agg_watermark",
    "q_dml_insert_values", "q_dml_insert_select", "q_dml_merge",
    "q_dml_delete", "q_dml_delete_positional", "q_dml_truncate", "q_tt_as_of", "q_tt_rollback",
    "q_meta_history", "q_maint_expire", "q_maint_compact",
    "q_part_evolution", "q_part_transform", "q_schema_evolution",
    "q_udf_python", "q_udf_pandas", "q_udaf_grouped", "q_udtf_apply",
    "q_udtf_words",
    "q_llm_dedup_exact", "q_llm_dedup_near", "q_llm_simsearch",
    "q_llm_text_stats", "q_llm_multimodal",
    "q_sql_merge_stmt", "q_sql_delete_stmt",
    "q_sql_insert_time_travel_stmt", "q_sql_rollback_stmt",
]


def _contract_first(d: dict) -> dict:
    front = {k: d[k] for k in _DRIVER_WINDOW if k in d}
    front |= {k: d[k] for k in _CONTRACT_ORDER if k in d and k not in front}
    return front | {k: v for k, v in d.items() if k not in front}


def load_all() -> None:
    """Import every query module (idempotent)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def queries() -> dict[str, QueryFn]:
    load_all()
    return _contract_first(QUERIES)


def oracle_sql() -> dict[str, str]:
    load_all()
    return _contract_first(ORACLES)
