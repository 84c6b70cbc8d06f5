"""Fixture-table loaders.

The driver materializes TPC-H-ish parquet at
``/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`` (TESTDATA.md).
Parquet scan maps the reference's ``FROM staging.*_parquet``
(``/root/reference/README.md:78,86``) — Spark's vectorized reader with
predicate pushdown + column pruning handles the rest declaratively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_utc_session(spark: SparkSession) -> None:
    """Require a UTC session TZ for value-preserving NTZ→LTZ casts.

    Every session this repo builds pins UTC at creation
    (session.py); repointing the TZ mid-session would silently change
    the behavior of already-built DataFrames, so a non-UTC session is
    corrected loudly (warning) instead of silently — the cast below
    would be wrong under any other zone, and correctness for a
    driver-supplied session has to win over TZ preservation."""
    key = "spark.sql.session.timeZone"
    current = spark.conf.get(key, None)
    if current in ("UTC", "Etc/UTC", "+00:00"):
        return
    import warnings

    warnings.warn(
        f"session timeZone was {current!r}; pinning to UTC for "
        "timestamp_ntz normalization (pin UTC at session creation to "
        "avoid this)",
        stacklevel=3,
    )
    spark.conf.set(key, "UTC")


def read_nanos_as_long(spark: SparkSession) -> None:
    """Surface parquet TIMESTAMP(NANOS) columns (``events.ts``) as raw
    longs. The driver may hand us a session built without this conf;
    it is runtime-settable, so it is pinned here rather than only in
    our own session factory. Session-wide on purpose, never
    invocation-scoped: memoized plans re-read the file at execution
    time, after the invocation that built them has returned."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# Memoized fixture scan PLANS (never results): building the reader —
# footer schema inference + file-index listing — costs ~110 ms per
# call on the bench host, and nearly every one of the ~370 registry
# queries calls load() 1-3 times, so re-resolving the identical
# immutable fixture file burned ~10% of total bench wall clock. The
# cached object is a lazy DataFrame (a logical plan); every execution
# still scans the parquet from disk, so no data or result is reused
# across invocations. Keyed by session (the driver hands us its own)
# and sf_dir; fixture files are read-only for a process's lifetime.
# Values are (plan, needs_utc): needs_utc marks a plan with an NTZ→LTZ
# cast that is only value-preserving under a UTC session.
import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], tuple[DataFrame, bool]]]" = (
    weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (columnar parquet, pushdown-capable).

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet footer; Spark has
    no nanosecond timestamp type, so the session reads it as a raw
    long (``spark.sql.legacy.parquet.nanosAsLong``) and we convert to
    a microsecond TimestampType here with exact integer division
    (``div`` — a float division would lose precision above 2^53 ns).
    SURVEY.md §5.3 truncates comparisons to second precision anyway.
    """
    per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    cached = per_session.get(key)
    if cached is not None:
        df, needs_utc = cached
        if needs_utc:
            # The cached plan embeds an NTZ→timestamp cast that is only
            # value-preserving under UTC; a driver that repoints the
            # session TZ mid-session would silently change its result,
            # so re-pin on every hit (a conf get/compare — ADVICE r14).
            ensure_utc_session(spark)
        return df
    if name == "events":
        read_nanos_as_long(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture generators have shipped timestamps both as UTC-adjusted
    # (→ TimestampType) and as naive timestamp[us] (→ TIMESTAMP_NTZ).
    # Downstream operators and the DuckDB oracle both assume plain
    # TIMESTAMP semantics; with the session TZ pinned to UTC the
    # NTZ→LTZ cast is value-preserving, so normalize here once.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        ensure_utc_session(spark)
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    per_session[key] = (df, bool(ntz_cols))
    return df


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Restore scan parallelism for under-split inputs.

    The fixture tables arrive as ONE parquet row group, so Spark plans
    a 1-task scan no matter the split config, and any CPU-heavy
    projection/aggregation downstream of it serializes on one core. A
    production table ships thousands of row groups and needs no help —
    but the same situation recurs at scale with single giant
    unsplittable files (gzip CSV, mis-written parquet), and the remedy
    is the same: one round-robin repartition to the cluster's
    parallelism, paid once, before the expensive compute. Only applied
    when the source actually has fewer partitions than cores; used
    only in queries where per-row compute, not I/O, dominates."""
    if parts is None:
        parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parts:
        return df
    return df.repartition(parts)


def load_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name, df in load_all_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
