"""SparkSession construction for the engine.

The reference mutates the Hadoop configuration on every read/write call
(reference src/etl/utils/bucket.py:15-21) and builds ad-hoc sessions per
script (src/etl/bronze_to_silver.py:6-13). Here the session is built once,
declaratively, with every knob that matters at 100 TB scale:

- AQE on (runtime shuffle coalescing, skew-join splitting, join-strategy
  switching) — the single biggest lever for large shuffles.
- Arrow on for the pandas boundary (ingest edge + Pandas UDF extensions).
- UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB oracle reads the same parquet with naive timestamps).
- shuffle partitions sized for the test harness; on a real cluster this is
  overridden by AQE's coalescing + `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
- a driver-JVM JIT policy that keeps the C2 compiler off the planner
  (`DRIVER_JIT_OPTIONS`, see docs/SCALE.md "Driver JIT policy");
- a class-data-sharing archive that maps Spark's classes into the driver JVM
  instead of loading them (`driver_cds`, see docs/SCALE.md "Driver
  class-data sharing").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import driver_cds

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Driver JIT policy. The driver JVM lives for one run (one Airflow task, one
# pipeline day), and at a day's data size most of its CPU goes to JIT-
# compiling Spark's analyzer, planner, writer and scheduler code, not to the
# tasks: C2 compiler threads were the largest single consumer of a daily run.
# That code is megamorphic and runs thousands (not millions) of times per
# run, so C1 code is good enough for it. Raising the four tier-4 (C2)
# thresholds 10x over the JDK 17 defaults keeps it in C1, while generated
# loops over hundreds of thousands of rows still cross the back-edge
# threshold and get C2. A sweep (x3 to x100, and C1 only) chose x10: higher
# factors, and C1 only, made warm large-scale queries slower in wall time.
_JDK17_TIER4_THRESHOLDS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
C2_THRESHOLD_SCALE = 10
DRIVER_JIT_OPTIONS = " ".join(
    f"-XX:{flag}={default * C2_THRESHOLD_SCALE}"
    for flag, default in _JDK17_TIER4_THRESHOLDS.items()
)


def build_session(
    app_name: str = "weather_bigquery_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
    s3a: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``s3a`` optionally carries object-store settings (endpoint, access key,
    secret key, path-style flag) — the Spark-idiomatic home for what the
    reference pokes into the live Hadoop conf per call
    (reference src/etl/utils/bucket.py:15-21).

    The driver JVM gets ``DRIVER_JIT_OPTIONS`` as
    ``spark.driver.extraJavaOptions``; an ``extra_conf`` value for that key
    replaces it. It only takes effect when this call starts the JVM, and so
    does the class-data-sharing archive (``driver_cds.start``), whose state
    the session records as ``spark.graft.driverCds``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Dynamic partition overwrite: an overwrite with partitionBy replaces
        # ONLY the partitions present in the incoming frame. Without this a
        # day-2 bronze/silver run would delete day-1's partitions — the
        # static mode drops every existing partition of the target table.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # The fixture tables store event timestamps as parquet
        # TIMESTAMP(NANOS), which Spark only reads as raw INT64 — the
        # loader converts to timestamp_ntz (see io/readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if s3a:
        # Builder-time s3a config (endpoint/keys/path-style), replacing the
        # reference's per-call `spark._jsc.hadoopConfiguration().set(...)`.
        mapping = {
            "endpoint": "spark.hadoop.fs.s3a.endpoint",
            "access_key": "spark.hadoop.fs.s3a.access.key",
            "secret_key": "spark.hadoop.fs.s3a.secret.key",
            "path_style": "spark.hadoop.fs.s3a.path.style.access",
            "ssl": "spark.hadoop.fs.s3a.connection.ssl.enabled",
        }
        for key, value in s3a.items():
            builder = builder.config(mapping.get(key, key), value)
    extra_conf = extra_conf or {}
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    java_options = extra_conf.get(driver_cds.JAVA_OPTIONS_KEY, DRIVER_JIT_OPTIONS)
    spark = driver_cds.start(builder, java_options, extra_conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_jvm_args(spark: SparkSession) -> list[str]:
    """The ``-X``/``-XX`` arguments the running driver JVM was started with,
    as it reports them (``RuntimeMXBean.getInputArguments``)."""
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = runtime.getRuntimeMXBean().getInputArguments()
    return [str(a) for a in args if str(a).startswith("-X")]

