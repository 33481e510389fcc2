"""Table loaders for the driver-generated star schema (TESTDATA.md).

Every table has one declared schema here (``SCHEMAS``, equal to what
Spark infers from the fixture files). ``load`` checks the parquet
footer against it on the driver (pyarrow, ~1 ms, no Spark job) and
reads with ``spark.read.schema(declared).parquet`` — no per-read
schema-inference job, and Catalyst still gets column pruning and
predicate pushdown: the Spark-native equivalent of the reference's
light-record pre-projection before full materialization
(RelationshipPreloader.java:18-21). The footer check is what keeps a
declared schema safe: given a user schema, Spark reads a renamed or
missing column as all-NULL instead of failing, so drift must raise
here first.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_DDL_TYPES = {
    t.simpleString(): t
    for t in (
        T.IntegerType(),
        T.LongType(),
        T.DoubleType(),
        T.StringType(),
        T.TimestampNTZType(),
        T.ArrayType(T.FloatType()),
    )
}


def _struct(ddl: str) -> T.StructType:
    """``"a bigint, b string"`` -> StructType, without a JVM round trip."""
    return T.StructType(
        [T.StructField(n, _DDL_TYPES[t]) for n, t in (c.split(" ") for c in ddl.split(", "))]
    )


SCHEMAS = {
    "region": _struct("r_regionkey int, r_name string"),
    "nation": _struct("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _struct(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": _struct(
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": _struct(
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": _struct(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": _struct(
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": _struct(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": _struct(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": _struct("vec_id bigint, embedding array<float>, label int"),
}
TABLES = tuple(SCHEMAS)

_ARROW_TYPES = {
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
}


def _footer_type(at: pa.DataType) -> T.DataType | None:
    """The Spark type an engine session reads a parquet column of arrow
    type ``at`` as; None for a type no declared schema uses.

    Timestamps follow Spark's parquet rules: UTC-adjusted and INT96
    (which ``_footer_schema`` surfaces as unit "s", a unit parquet
    itself never stores) read as TIMESTAMP; local micros/millis as
    TIMESTAMP_NTZ; NANOS as BIGINT under ``nanosAsLong``."""
    if pa.types.is_timestamp(at):
        if at.unit == "s" or at.tz is not None:
            return T.TimestampType()
        return T.LongType() if at.unit == "ns" else T.TimestampNTZType()
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        et = _footer_type(at.value_type)
        return None if et is None else T.ArrayType(et)
    return _ARROW_TYPES.get(at)


def _parquet_files(path: str) -> list[str]:
    """The parquet file itself, or a directory's part files in name order."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _footer_schema(path: str) -> pa.Schema:
    files = _parquet_files(path)
    if not files:
        raise ValueError(f"{path}: no parquet part files")
    return pq.ParquetFile(files[0], coerce_int96_timestamp_unit="s").schema_arrow


def read_schema(path: str, name: str) -> T.StructType:
    """The schema to read table ``name`` at ``path`` with: its declared
    schema, after ``checked_schema``. The one allowed difference:
    events.ts stored as TIMESTAMP(NANOS) reads as BIGINT nanos, which
    ``_normalize_events_ts`` converts."""
    return checked_schema(
        path, SCHEMAS[name], f"table {name}", "ts" if name == "events" else None
    )


def checked_schema(
    path: str, declared: T.StructType, what: str, nanos_col: str | None = None
) -> T.StructType:
    """``declared``, after checking the parquet footer at ``path`` (one
    part file of a directory) against it. Column names and types must
    match in order; any difference raises ValueError naming ``what``
    (the table or frame) and the column. Column ``nanos_col``, stored
    as TIMESTAMP(NANOS), may read as BIGINT."""
    found = _footer_schema(path)
    fields = []
    for i, want in enumerate(declared.fields):
        decl = want.dataType.simpleString()
        if i >= len(found) or found.field(i).name != want.name:
            seen = f"column {found.field(i).name!r}" if i < len(found) else "nothing"
            raise ValueError(
                f"{what}: declared column {want.name!r} ({decl}) at position "
                f"{i}, found {seen} in {path}"
            )
        at = found.field(i).type
        got = _footer_type(at)
        nanos = want.name == nanos_col and got == T.LongType() and pa.types.is_timestamp(at)
        if got != want.dataType and not nanos:
            raise ValueError(
                f"{what}: column {want.name!r} is {got.simpleString() if got else at}"
                f" in {path}, declared {decl}"
            )
        fields.append(T.StructField(want.name, got))
    if len(found) > len(declared):
        extra = found.field(len(declared))
        raise ValueError(
            f"{what}: column {extra.name!r} ({extra.type}) in {path} is not declared"
        )
    return T.StructType(fields)


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
    """Load one star-schema table from a scale-factor directory, read
    with its footer-checked declared schema (``read_schema``): no Spark
    job runs until the caller acts on the frame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    schema = read_schema(path, name)
    _pin_utc(spark)
    if name == "events":
        _enable_nanos_as_long(spark)
    df = spark.read.schema(schema).parquet(path)
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
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in _parquet_files(f"{sf_dir}/{name}.parquet")
    )


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register tables as temp views so SQL-path queries work.

    Pass ``names`` to register only what a query references — the
    default registers all tables (the general SQL entry point)."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
