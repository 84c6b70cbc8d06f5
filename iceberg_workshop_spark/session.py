"""SparkSession factory.

Reference entry point: ``/root/reference/pyspark-iceberg/
interoperability.md:44-62`` starts PySpark with catalog confs; we do
the same with a local-mode builder tuned for correctness-stable oracle
comparison (UTC session TZ) and scale-ready defaults (AQE, Arrow,
shuffle partitions sized to cores — on a real cluster these come from
spark-submit, so every knob here is also overridable via env).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "iceberg_workshop_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default ``*``). On a
    real cluster the same code runs unchanged — master/memory come from
    the submitter, and the session-level confs below are the ones that
    matter for plan quality at 100 TB:

    - AQE (+ coalesce + skew join): runtime re-planning so a static
      ``shuffle.partitions`` misestimate doesn't sink a 1000-executor
      job.
    - Arrow: every Pandas-UDF / toPandas boundary is batched, not
      per-row pickled.
    - UTC session TZ: deterministic timestamp semantics across engines
      (SURVEY.md §5.3 hash-stability rule 4).
    - Listing threshold 1024: icetbl reads explicit file paths its
      manifests already know, so listing them stays on the driver.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark's reader rejects
        # it unless nanos are surfaced as raw longs (converted to
        # microsecond timestamps in sources.tables.load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Above this many paths Spark lists them with a distributed job,
        # one task per path: 350-380 ms for the 54-60 live files of a
        # 4-core perfbench lakehouse table. icetbl passes explicit data
        # file paths from its manifests, and the driver stats a local
        # file in microseconds, so 1024 keeps every read of a table that
        # size off the cluster (the default is 32).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
