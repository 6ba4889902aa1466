"""SparkSession factory.

The reference builds its session at
spark_processor/stream_processor.py:59-81 (AQE on, coalesce partitions,
shuffle.partitions=10, Kafka package).  We keep the knobs that matter at
scale and drop the ones that don't (the legacy DStream
``spark.streaming.concurrentJobs`` knob has no effect on Structured
Streaming).

Design for a 1000-executor cluster even though tests run local[32]:
- AQE enabled: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned repartition() calls.
- UTC session timezone so windowed/event-time results are stable across
  environments (and match the DuckDB oracle, which is timezone-naive).
- Arrow enabled for the (rare) pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "clickstream-engine", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = cpus or DEFAULT_CPUS
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        # the testdata stores tz-less parquet timestamps; Spark 4.x would
        # otherwise infer TIMESTAMP_NTZ, which withWatermark() rejects —
        # read them as session-tz (UTC) timestamps like Spark 3.x did
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # columns carry NO parquet min/max statistics, which silently
        # disables row-group/file skipping on event time — the single
        # most valuable pruning axis for an events table (found in r9:
        # 0 of 16 written files had ts stats)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        # 8 MB thread stacks: on JDK 17.0.20 the processing-time
        # streaming app's stop() path reproducibly dies with a
        # StackOverflowError thousands of java.util.regex frames deep
        # (Pattern$Loop recursion grows with input length; same JDK
        # family as the r8 winnowing JIT regression — SCALING.md).
        # 3/3 unpatched runs overflow at shutdown, 3/3 runs with
        # -Xss8m are clean; only effective at JVM launch (getOrCreate
        # reuse of a live JVM ignores it, which is fine — the overflow
        # is specific to this factory's streaming-app lifecycle).
        .config("spark.driver.extraJavaOptions", "-Xss8m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
        .getOrCreate()
    )


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally created session.

    The correctness driver passes its own SparkSession into ``queries()``
    callables; event-time queries need a deterministic timezone no matter
    who built the session.  Only runtime-mutable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # tz-less parquet timestamps must load as TIMESTAMP (UTC session tz),
    # not TIMESTAMP_NTZ: event-time ops (withWatermark, window) reject NTZ
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # performance-only knobs (all runtime-mutable): externally created
    # sessions often carry the 200-partition default, which at test SFs
    # is pure scheduling overhead; AQE coalescing makes the width safe
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", DEFAULT_CPUS)
    # Arrow for driver<->JVM transfers (r18): sources.formats.
    # local_rows_df and the kmeans/PQ codebook frames rely on the Arrow
    # createDataFrame path (~0.04 s vs ~0.5 s via pickled RDDs); without
    # this conf an externally created session silently falls back to the
    # slow path.  Results are unaffected either way.  r19 (r18
    # advisory): respect an EXPLICIT launch-time opt-out — a session
    # built with the conf set (e.g. --conf ...arrow.pyspark.enabled=
    # false to dodge an Arrow/pandas incompatibility) keeps its value;
    # only unset sessions get the fast default.
    if not spark.sparkContext._conf.contains(
        "spark.sql.execution.arrow.pyspark.enabled"
    ):
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
