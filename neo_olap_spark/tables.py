"""Table loaders for the driver-generated star schema (TESTDATA.md).

All reads go through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown for free — the Spark-native equivalent of
the reference's light-record pre-projection before full materialization
(RelationshipPreloader.java:18-21).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
)


def _enable_nanos_as_long(spark: SparkSession) -> None:
    """Make TIMESTAMP(NANOS) parquet columns readable on ANY session.

    ``events.parquet`` stores nanosecond timestamps, which Spark rejects
    outright (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set. Our own session
    factory sets it at build time (session.py), but callers (the driver
    harness, notebooks) may hand us a bare SparkSession — the conf is
    runtime-settable, so set it here at read time.

    Also pins the session time zone to UTC (``_pin_utc``): every caller
    that needs the nanos guard is about to read events.ts, whose
    NTZ→timestamp normalization is wall-preserving only under a UTC
    session. Folding the pin here means streaming readers
    (streaming.stream_events) that bypass ``load`` still get it.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _pin_utc(spark)


def _pin_utc(spark: SparkSession) -> None:
    """Pin the session time zone to UTC before any table read.

    Every operator (and its DuckDB oracle twin) treats stored
    wall-clock values as UTC; date-epoch projections like
    ``o_orderdate.cast("timestamp").cast("long")`` go through the
    session zone, so on a bare non-UTC driver session they would drift
    by the zone offset. Pinning here — at read time, for all tables,
    not only events — makes the engine session-portable."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize events.ts to TimestampType (micros, UTC wall).

    Depending on Spark version and how the parquet was written, the
    nanos column surfaces as LongType (nanosAsLong pre-4.1 behavior) or
    TIMESTAMP_NTZ (Spark 4.1 reads NANOS/isAdjustedToUTC=false natively,
    truncated to micros). Every downstream operator assumes one type;
    normalize here so they never see the difference. The NTZ→timestamp
    cast is wall-preserving because the session TZ is pinned to UTC by
    ``_pin_utc`` — invoked both from ``load`` and from
    ``_enable_nanos_as_long``, so every batch and streaming events read
    is covered before this cast runs.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # integer division: double division loses precision at 1e18 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from a scale-factor directory."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _pin_utc(spark)
    if name == "events":
        _enable_nanos_as_long(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count of one table straight from parquet FOOTER metadata —
    a driver-side file read (~1 ms), no Spark job. Volume gates
    (q_agg_spearman-class) read this instead of launching a count()
    aggregate inside the timed query (ADVICE r13 #2: the old gate's
    load(...).count() was a real per-invocation job, and the comment
    claiming otherwise was wrong). Handles both a single .parquet file
    and a directory of part files; the count is re-read per call — no
    cross-run memoization."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register tables as temp views so SQL-path queries work.

    Pass ``names`` to register only what a query references — the
    default registers all tables (the general SQL entry point)."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
