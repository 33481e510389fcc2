"""SparkSession factory.

Local-mode settings tuned for the test harness (local[N], one JVM);
the same code runs unchanged on a real cluster — partitioning, AQE,
and broadcast thresholds are the knobs that matter at 100 TB, and all
are set declaratively here rather than hand-scheduled in operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "neo-olap-spark",
    cpus: int | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is on so runtime statistics re-plan shuffles (partition
    coalescing, skew-join splitting) — the scale-out answer to the
    reference's hand-rolled memory rounds (Runner.java:227-275).

    ``conf`` entries are applied after the defaults, so they override
    them: the profiler turns the UI on, and A/B variants set the
    confs they compare. This is the only place a session is built.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ADVICE r13 #1: the Arrow createDataFrame path silently
        # truncates mismatched cells (1.7 into a long column becomes
        # 1) where the plain-list path raised PySparkTypeError; safe
        # conversion restores the raise so a schema drift in a
        # local_rows_frame call site (or a sloppy pandas-UDF return)
        # fails loudly instead of corrupting values
        .config("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts is parquet TIMESTAMP(NANOS); read as long, converted in tables.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
