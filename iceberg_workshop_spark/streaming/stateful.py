"""True Structured Streaming replays of the window operators.

File-source streams over the ``events`` fixture with watermarks and
stateful operators, drained with ``Trigger.AvailableNow`` into a memory
sink, then returned as a batch DataFrame over the sink. The driver's
check still sees an ordinary DataFrame; the streaming machinery
(micro-batch planner, state store, watermark tracking) runs for real
inside the call.

Scale notes: at 100 TB these run against a real source (Kafka/files)
with the state store on executors — the operator shapes below (dedup
keyed on event_id, windowed agg keyed on window) hold unchanged; the
watermark bounds state size by evicting keys older than the horizon.
``maxFilesPerTrigger`` / ``availableNow`` give bounded micro-batches on
backfill.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_workshop_spark.exprs import dsum
from iceberg_workshop_spark.registry import register, set_conf
from iceberg_workshop_spark.sources.tables import read_nanos_as_long

_sink_ids = itertools.count()

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A streaming file source needs an explicit schema; take it from a
    # batch probe of the same file so the stream adapts to whatever
    # physical timestamp encoding the fixture generator used
    # (TIMESTAMP(NANOS)-as-long under nanosAsLong, or plain
    # timestamp[us] → TIMESTAMP_NTZ).
    read_nanos_as_long(spark)
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # The file-stream source requires a directory; select just the
    # events table out of the fixture dir with a glob filter.
    raw = (
        spark.readStream.schema(probe.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Naive timestamp[us] parquet reads as TIMESTAMP_NTZ, which
        # withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
        # The NTZ→LTZ cast is value-preserving only under UTC — check
        # loudly instead of silently repointing (same helper as batch).
        from iceberg_workshop_spark.sources.tables import ensure_utc_session

        ensure_utc_session(spark)
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _drain(
    stream_df: DataFrame, output_mode: str, checkpoint: str | None = None
) -> DataFrame:
    """Run the streaming query to completion; return the sink table.

    Stateful streaming allocates one state-store instance per shuffle
    partition, and every micro-batch pays per-instance open/commit/
    checkpoint I/O — with the batch default of 32 partitions that
    fixed cost dominates a drain (measured 17 s → 3 s on the
    stream-stream join at 8). Streaming partition count should track
    state volume, not core count, so the drain pins a smaller value
    for the rest of the invocation (env-tunable for a real cluster,
    where a checkpoint's partitioning is sticky anyway)."""
    sess = stream_df.sparkSession
    name = f"iws_stream_sink_{next(_sink_ids)}"
    set_conf(
        sess,
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"),
    )
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="iws_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return sess.table(name)


@register(
    "q_stream_stateful_running",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum) maintained in explicit group state across
    micro-batches, emitted in update mode.

    Money is accumulated in integer cents inside the state so the
    final value is order-independent and bit-identical to the oracle's
    decimal arithmetic (a float running sum would drift with batch
    boundaries). The backfill drains in one availableNow pass, so the
    last update per user equals the batch aggregate — checked exactly.

    100 TB: state lives in the executor state store keyed by user_id;
    memory is O(distinct users), not O(events), and a watermark-based
    TTL (timeoutConf) evicts idle users in a production stream.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int(np.rint(pdf["value"].to_numpy() * 100).sum())
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "sum_value": [cents / 100.0]}
        )

    updates = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            running,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="cnt bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = _drain(updates, "update")
    return sink.orderBy("user_id")


@register(
    "q_stream_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup under a 1-hour watermark.

    Each event is duplicated in-stream (explode ×2), then
    ``dropDuplicates(["event_id"])`` must restore exactly the original
    multiplicity — so the per-type counts equal the plain batch counts,
    which gives this stateful op an *exact* oracle despite the survey's
    weaker rows-only floor. State per key is evicted once the watermark
    passes event_ts + 1h.
    """
    dup = (
        _events_stream(spark, sf_dir)
        .withColumn("copy", F.explode(F.array(F.lit(0), F.lit(1))))
        .drop("copy")
    )
    deduped = dup.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    sink = _drain(deduped, "append")
    return (
        sink.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "q_stream_agg_watermark",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q_stream_agg_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling agg with a 1-hour watermark whose final state
    must equal the batch ``q_stream_tumbling`` — checked exactly.

    Complete output mode exposes the full final state through the
    memory sink (append mode would hold back windows the watermark has
    not closed, and a drained backfill never closes the last one).
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
    )
    sink = _drain(agg, "complete")
    return sink.select(
        F.col("w.start").alias("window_start"), "n_events", "sum_value"
    ).orderBy("window_start")


@register(
    "q_stream_session_window",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN gap_us IS NULL OR gap_us >= {30 * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS new_session
      FROM seq
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming session windows: ``F.session_window``
    with a 30-minute gap under a 1-hour watermark, drained in complete
    mode (update is unsupported for session-window aggregations, and
    append would hold back the sessions the watermark never closes at
    the tail of a backfill — complete exposes the full final state).

    Spark merges an event into a session while it starts *strictly
    inside* predecessor_ts + gap, so the batch oracle breaks sessions
    on gap ≥ 30 min (note: the batch-exact q_stream_session uses a
    strict > break — both are valid session definitions; this one
    mirrors session_window's). window.end is last event + gap.

    100 TB: session state is per (user, open session) on executors;
    the watermark both closes sessions and bounds state.
    """
    sessions = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = _drain(sessions, "complete")
    return sink.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT v.user_id,
           COUNT(*) AS n_pairs,
           MIN(epoch_ms(p.ts) - epoch_ms(v.ts)) AS min_gap_ms
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: view→purchase attribution pairs of
    the same user within a 30-minute event-time window, both sides
    watermarked 1 hour.

    The event-time range condition is what bounds the join state:
    each side buffers only rows younger than watermark+window, so
    state is O(rate × window), not O(stream) — the requirement for an
    unbounded 100 TB/day run. The full-history availableNow drain
    makes the appended pairs equal the batch range join, so the
    post-drain rollup carries an exact oracle.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    pairs = views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    sink = _drain(pairs.select("v_user", "v_ts", "p_ts"), "append")
    return (
        sink.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.unix_millis("p_ts") - F.unix_millis("v_ts")).alias(
                "min_gap_ms"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_sink_icetbl",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_sink_icetbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the versioned table layer: the event
    stream lands in an IceTable via ``foreachBatch`` — each
    micro-batch is one atomic snapshot commit keyed by ``batchId``
    (re-delivered batches would overwrite, not duplicate: the
    exactly-once recipe for idempotent sinks). The final table state
    must equal the batch aggregate of the source.

    100 TB: this is the bridge from Structured Streaming to the
    lakehouse — commits are metadata-only appends, readers time-travel
    across micro-batch history, and compaction (q_maint_compact)
    absorbs the small-file stream afterwards."""
    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.plans.lifecycle import _fresh

    loc = _fresh(sf_dir, "stream_sink")
    t = IceTable.create(
        spark,
        loc,
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    seen_batches: set[int] = set()

    def land(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen_batches:  # idempotent re-delivery guard
            return
        seen_batches.add(batch_id)
        t.append(batch_df.select("event_id", "user_id", "event_type", "value"))

    query = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="iws_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stream_static_join",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the purchase stream enriched against batch
    dimension tables (customer→nation) before a streaming aggregate —
    the canonical fact-stream star-schema pattern. The static side
    needs no watermark or state: Spark re-plans it per micro-batch as
    a broadcast hash join, so stream rows never shuffle for the
    enrichment; only the final per-nation aggregate keeps (tiny)
    state. Drained complete, the result carries an exact batch
    oracle."""
    from iceberg_workshop_spark.sources.tables import load

    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_purchases"), dsum("value", "sum_value")
    )
    sink = _drain(agg, "complete")
    return sink.orderBy("nation")


@register(
    "q_stream_cdc_upsert",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           value AS last_value
    FROM r WHERE rn = 1
    ORDER BY user_id
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style streaming upsert: each micro-batch reduces to one
    latest row per user (argmax on event time) and MERGEs into the
    versioned table via ``foreachBatch`` — the standard
    change-data-capture apply loop onto a lakehouse table. Matched
    users update to the newer row, new users insert; the final table
    state equals the batch per-user argmax, checked exactly. At
    100 TB the per-batch merge is file-granular CoW: only files
    holding updated users rewrite."""
    from pyspark.sql.window import Window as W

    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.plans.lifecycle import _fresh

    loc = _fresh(sf_dir, "cdc_upsert")
    t = IceTable.create(
        spark, loc, "user_id bigint, last_event_id bigint, last_value double"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"),
            )
        )
        t.merge_into(latest, on=["user_id"])

    query = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="iws_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return t.read().orderBy("user_id")


@register(
    "q_stream_dedup_within",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_stream_dedup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+): unlike plain
    dropDuplicates — whose per-key state lives forever unless the
    event-time column is part of the key — this variant dedups keys
    whose arrivals fall within the watermark delay and GUARANTEES
    state eviction afterwards, the right operator when duplicates
    cluster near each other in time (at-least-once sources). In-stream
    ×2 duplication must collapse back to the original counts."""
    dup = (
        _events_stream(spark, sf_dir)
        .withColumn("copy", F.explode(F.array(F.lit(0), F.lit(1))))
        .drop("copy")
    )
    deduped = dup.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = _drain(deduped, "append")
    return (
        sink.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "q_stream_stream_left_join",
    oracle="""
    WITH cutoff AS (
      SELECT MAX(ts) - INTERVAL 151 MINUTE AS c FROM events
    )
    SELECT v.user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
    FROM events v
    LEFT JOIN events p
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
      AND v.ts <= (SELECT c FROM cutoff)
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks: views left-joined
    to same-user purchases within 30 minutes; a view with no purchase
    emits a null-extended row once the watermark passes its join
    window (state eviction = result emission for outer joins).

    The outer-specific semantics under test: Spark only emits the
    null-extended row when the watermark PROVES no match can still
    arrive, so rows younger than (watermark horizon + join window)
    at end-of-stream are still buffered, not emitted. The post-drain
    comparison therefore restricts both engines to views older than
    max(ts) − (1 h watermark + 30 min window) — everything the stream
    was obligated to decide — and on that set the appended output
    equals the batch left join exactly, matched AND unmatched.

    100 TB: outer-join state is the same O(rate × window) buffer as
    the inner join plus the emit-on-eviction bookkeeping; the cutoff
    logic is exactly the 'completeness horizon' a production consumer
    tracks when reading an outer-join stream."""
    from iceberg_workshop_spark.sources.tables import load

    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    sink = _drain(joined.select("v_user", "v_ts", "p_ts"), "append")
    # Completeness horizon: one tiny metadata-scale agg on the batch side.
    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    return (
        sink.filter(F.col("v_ts") <= F.lit(max_ts) - F.expr("INTERVAL 151 MINUTES"))
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("p_ts").isNull(), 1).otherwise(0)
            ).alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_stream_full_join",
    oracle="""
    WITH cutoff AS (
      SELECT MAX(ts) - INTERVAL 151 MINUTE AS c FROM events
    ), j AS (
      SELECT v.user_id AS v_user, v.ts AS v_ts,
             p.user_id AS p_user, p.ts AS p_ts
      FROM (SELECT * FROM events WHERE event_type = 'view') v
      FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = v.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    )
    SELECT COALESCE(v_user, p_user) AS user_id,
           CAST(SUM(CASE WHEN v_ts IS NOT NULL AND p_ts IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view_only,
           CAST(SUM(CASE WHEN v_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchase_only
    FROM j, cutoff
    WHERE (v_ts IS NULL OR v_ts <= c) AND (p_ts IS NULL OR p_ts <= c)
    GROUP BY COALESCE(v_user, p_user)
    ORDER BY user_id
    """,
)
def q_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join with watermarks — completes the
    streaming join-type matrix (inner / left / full): views and
    purchases join within a 30-minute window; EACH side emits its
    null-extended row once the watermark proves the other side cannot
    still match. Comparison restricts both engines to rows older than
    the completeness horizon max(ts) − (watermark + window + own-side
    watermark) on BOTH sides (same measured 151-minute bound as the
    left join: the view side's decision point dominates — a purchase's
    match window only reaches backward, so its horizon is strictly
    earlier).

    100 TB: state is O(rate × window) per side; full outer adds
    emit-on-eviction for both buffers — the same completeness-horizon
    contract a downstream consumer of either outer side must track."""
    from iceberg_workshop_spark.sources.tables import load

    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    )
    sink = _drain(joined.select("v_user", "v_ts", "p_user", "p_ts"), "append")
    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    horizon = F.lit(max_ts) - F.expr("INTERVAL 151 MINUTES")
    return (
        sink.filter(
            (F.col("v_ts").isNull() | (F.col("v_ts") <= horizon))
            & (F.col("p_ts").isNull() | (F.col("p_ts") <= horizon))
        )
        .groupBy(F.coalesce("v_user", "p_user").alias("user_id"))
        .agg(
            F.sum(
                F.when(
                    F.col("v_ts").isNotNull() & F.col("p_ts").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_matched"),
            F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0)).alias(
                "n_view_only"
            ),
            F.sum(F.when(F.col("v_ts").isNull(), 1).otherwise(0)).alias(
                "n_purchase_only"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q_stream_agg_rocksdb",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q_stream_agg_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same watermarked windowed aggregation running on the
    RocksDB state-store provider with changelog checkpointing — the
    large-state configuration for 100 TB streams, where the default
    in-memory/HDFS provider stops fitting: state lives off-heap in
    per-partition RocksDB instances, snapshots upload incrementally,
    and the changelog makes commits O(delta), not O(state). Results
    must be indistinguishable from the default provider (pinned by the
    same batch oracle), because the provider is purely a state-backend
    swap. Both confs hold for this invocation only — provider choice
    is sticky per checkpoint in production, so a real cluster sets it
    once at job start. The complete-mode memory sink is materialized
    rows, so the returned plan does not depend on either conf."""
    set_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    set_conf(
        spark,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.collect_set("user_id").alias("users"),
        )
    )
    sink = _drain(agg, "complete")
    return sink.select(
        F.col("w.start").alias("window_start"),
        "n_events",
        F.size("users").cast("bigint").alias("n_users"),
    ).orderBy("window_start")


@register(
    "q_stream_state_reader",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 state data source: after draining a per-user
    streaming count, read the checkpoint's STATE STORE itself
    (``spark.read.format("statestore")``) and verify the internal
    aggregation state equals the batch ground truth — the
    debugging/ops surface for inspecting, auditing, or repairing
    stateful-query checkpoints without replaying the stream. At
    100 TB this is how you answer "what does the state actually hold"
    after a watermark bug or a skewed-key incident: a parallel scan of
    the per-partition state files, no stream restart."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    ckpt = tempfile.mkdtemp(prefix="iws_ckpt_statereader_")
    _drain(agg, "complete", checkpoint=ckpt)  # same drain protocol
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
    ).orderBy("user_id")


@register(
    "q_stream_mv_refresh",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained materialized view: the source IceTable's
    COMMIT STREAM (iws_ice_stream tails the snapshot log) drives MV
    maintenance — each micro-batch is one append-only delta,
    pre-aggregated and merged into the MV table as an atomic
    truncate+append pair, idempotent per batchId. The streaming
    counterpart of REFRESH MATERIALIZED VIEW (which replays the
    changelog on demand): downstream rollups stay fresh commit-by-
    commit without re-aggregating the table, and without the consumer
    ever re-scanning old snapshots. Final MV state must equal a
    from-scratch aggregation of everything committed — exact oracle.

    100 TB: deltas are per-commit file sets (the stream source reads
    only NEW files per snapshot), the merge is keyed on the MV's
    group columns, and the MV table's own snapshot history doubles as
    the rollup's audit log."""
    from iceberg_workshop_spark.icetbl import IceTable
    from iceberg_workshop_spark.plans.lifecycle import _fresh
    from iceberg_workshop_spark.sources.pysource import IceStreamDataSource
    from iceberg_workshop_spark.sources.tables import load

    loc = _fresh(sf_dir, "stream_mv_src")
    mv_loc = _fresh(sf_dir, "stream_mv_tgt")  # _fresh already cleans
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    t = IceTable.create_as(spark, loc, orders.filter("o_orderkey % 3 = 0"))
    t.append(orders.filter("o_orderkey % 3 = 1"))
    t.append(orders.filter("o_orderkey % 3 = 2"))

    mv = IceTable.create(
        spark,
        mv_loc,
        "o_orderpriority string, n_orders bigint, sum_price decimal(28,2)",
    )
    seen: set[int] = set()

    def apply_delta(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen:  # idempotent re-delivery guard
            return
        seen.add(batch_id)
        delta = batch_df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("d_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("d_s"),
        )
        base = mv.read()
        zero = F.lit(0).cast("decimal(28,2)")
        merged = base.join(delta, "o_orderpriority", "full_outer").select(
            "o_orderpriority",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce("sum_price", zero) + F.coalesce("d_s", zero))
            .cast("decimal(28,2)")
            .alias("sum_price"),
        )
        # one atomic overwrite per micro-batch — no empty-MV window
        mv.insert_overwrite(merged)

    spark.dataSource.register(IceStreamDataSource)
    query = (
        spark.readStream.format("iws_ice_stream")
        .option("location", loc)
        .load()
        .writeStream.foreachBatch(apply_delta)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="iws_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return mv.read().select(
        "o_orderpriority",
        "n_orders",
        F.col("sum_price").cast("double").alias("sum_price"),
    ).orderBy("o_orderpriority")
