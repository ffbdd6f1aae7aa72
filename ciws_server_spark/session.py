"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
configuration below is written so the same code is correct on a large
cluster: AQE owns runtime re-planning (partition coalescing, skew-join
splitting), shuffle partitions default to core count locally but are
just a starting point AQE adjusts, and the session timezone is pinned
to UTC so timestamp semantics are stable across engines and deployments
(reference assumed naive-UTC throughout; SURVEY.md §7.4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf that is safe (and important) to apply to an already-running
#: session, e.g. the one the correctness driver hands us.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is parquet timestamp[us] with isAdjustedToUTC=false;
    # infer it as the session-zoned TIMESTAMP (identity under the UTC
    # session) instead of TIMESTAMP_NTZ. This keeps ts a bare scan
    # attribute — no cast wrapper — so ts-range predicates push down
    # to parquet row-group stats. tables.table() keeps a cast branch
    # as a safety net for sessions where this conf cannot apply.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark still DEFAULTS to legacy INT96 parquet timestamps, and
    # INT96 columns carry NO row-group min/max statistics — a
    # time-range scan over tables this engine wrote could never skip
    # a row group (discovered via the sorted-compaction stats test:
    # time stats were None). INT64 micros restores stats (making
    # sort_by=["time"] compaction actually prune), matches the
    # testdata fixtures' timestamp[us], and is what every modern
    # reader (DuckDB, pyarrow) expects.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Let Python Data Sources (sources/datasource.py) receive pushed
    # filters — filename predicates prune whole remote files at
    # planning time instead of scanning-then-filtering.
    "spark.sql.python.filterPushdown.enabled": "true",
}
# Note: earlier testdata generations stored events.ts as parquet
# TIMESTAMP(NANOS), which required spark.sql.legacy.parquet.nanosAsLong
# plus an int64→timestamp conversion. Current testdata is timestamp[us]
# at every scale factor (verified 2026-08), so the conf is gone;
# tables.table() still normalizes either arrival shape.


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable conf on a session we did not build.

    The driver owns its SparkSession; timezone/AQE/Arrow are runtime
    settable, so every query entry point routes through this to get
    deterministic UTC timestamps regardless of who built the session.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; defaults still correct
    return spark


def get_spark(
    app_name: str = "ciws-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Broadcast threshold sized for dimension tables (region/nation/
        # supplier/part stay broadcastable far beyond sf1).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # No Python call-site capture on every Column call (several
        # py4j round trips each). PySpark reads this once per process,
        # from the first active session, so it cannot be runtime conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_conf(spark)
