"""CSV/JSON source-sink roundtrip queries (SURVEY.md §2.3 scans table).

Each writes a dimension table out in the interchange format, reads it
back with an explicit schema, and returns the full content — so the
oracle hash-match proves the roundtrip is lossless, not just countable.

The roundtrip directories are temp space: each query materializes the
read-back rows (dimension tables — bounded small) and deletes its
directory before returning, so repeated verification runs don't
accumulate disk.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo_olap_spark.functions import cents, cents_sql, local_rows_frame
from neo_olap_spark.registry import query
from neo_olap_spark.sources import read_csv, read_json, write_csv, write_json
from neo_olap_spark.tables import load


def _materialize_and_clean(df: DataFrame, tmp_root: str) -> DataFrame:
    """Collect the (small, dimension-sized) read-back result so the
    temp directory can be deleted immediately; rebuild a DataFrame
    with the identical schema for the caller.

    ONLY for dimension-sized roundtrips (nation/region/supplier).
    Fact-sized sinks must go through :func:`session_sink_dir` and
    return the lazy read instead — a fact-table collect is a driver
    OOM at scale."""
    spark = df.sparkSession
    try:
        return local_rows_frame(spark, df.collect(), df.schema)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)


_CLEANUP_REGISTERED: set[str] = set()


def _sinks_root() -> str:
    """Per-user sink root: two users on a shared host never share (or
    squat) each other's sink trees."""
    import getpass

    try:
        user = getpass.getuser()
    except Exception:  # no passwd entry (containers) — fall back to uid
        user = str(os.getuid()) if hasattr(os, "getuid") else "anon"
    return os.path.join(tempfile.gettempdir(), f"neo_olap_sinks_{user}")


def session_sink_dir(spark: SparkSession, key: str) -> str:
    """A sink directory that OUTLIVES the query, so fact-sized sink
    results can be returned as lazy reads instead of driver collects.

    Namespaced by USER and Spark applicationId: two concurrent
    applications (bench.py next to the parity suite, or two users on a
    shared host) each get their own tree — a world-shared fixed path
    would let one process rmtree/overwrite a directory the other is
    mid-write or mid-read on, with no error attribution. Within one
    application the path is fixed per key, so disk stays bounded at
    one copy per key per app; the whole app tree is removed at
    interpreter exit (atexit), so appId scoping doesn't leak one tree
    per application into temp space. On a real cluster this is the
    job's output location on shared storage — the sink IS the product;
    nothing ever funnels through the driver."""
    import atexit
    import shutil as _shutil

    app_root = os.path.join(_sinks_root(), spark.sparkContext.applicationId)
    if app_root not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(app_root)
        atexit.register(_shutil.rmtree, app_root, ignore_errors=True)
    root = os.path.join(app_root, key)
    os.makedirs(root, exist_ok=True)
    return root


def generational_sink_dir(spark: SparkSession, key: str):
    """Generation-scoped sink allocation for keys that RETURN a lazy
    read of their sink: each invocation writes a fresh ``g<N>``
    subdirectory and prunes older generations only AFTER its own write
    completes — so a DataFrame returned by a PREVIOUS invocation stays
    readable right up until the new result is fully materialized
    (single-outstanding-result contract: after promote(), only the
    newest generation survives; an in-flight reader of an older one
    gets a clean FileNotFound, never mixed rows).

    Returns ``(gen_dir, promote)``: write under ``gen_dir``, call
    ``promote()`` once the write is durable."""
    import shutil as _shutil

    base = session_sink_dir(spark, key)
    gens = sorted(d for d in os.listdir(base) if d.startswith("g"))
    nxt = (int(gens[-1][1:]) + 1) if gens else 0
    gen_dir = os.path.join(base, f"g{nxt:06d}")
    os.makedirs(gen_dir, exist_ok=True)

    def promote() -> None:
        for d in os.listdir(base):
            if d.startswith("g") and d != f"g{nxt:06d}":
                _shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    return gen_dir, promote


@query("q_source_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source roundtrip of the nation dim (explicit schema,
    header on; quoting handles embedded delimiters)."""
    n = load(spark, sf_dir, "nation")
    root = tempfile.mkdtemp(prefix="neo_olap_csv_")
    write_csv(n, root + "/nation")
    return _materialize_and_clean(read_csv(spark, root + "/nation", n.schema), root)


@query("q_source_json", oracle="SELECT r_regionkey, r_name FROM region")
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip of the region dim (explicit
    schema — inference would be an extra full pass at scale)."""
    r = load(spark, sf_dir, "region")
    root = tempfile.mkdtemp(prefix="neo_olap_json_")
    write_json(r, root + "/region")
    return _materialize_and_clean(read_json(spark, root + "/region", r.schema), root)


@query(
    "q_source_orc",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip of the supplier dim — the second
    columnar format (row-group pruning and column projection work the
    same as parquet; zlib-compressed, splittable)."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    root = tempfile.mkdtemp(prefix="neo_olap_orc_")
    s.write.mode("overwrite").orc(root + "/supplier")
    return _materialize_and_clean(
        spark.read.schema(s.schema).orc(root + "/supplier"), root
    )


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-PRUNED read: orders
    written partitionBy(o_orderpriority), read back with a partition
    filter — the layout that turns a 100 TB scan into a directory
    listing plus only the matching partition's files (the filter never
    touches data: it prunes paths). The oracle hash-match proves the
    roundtrip is lossless AND the pruned read returns exactly the
    partition's rows; the plan-level pruning assertion lives in
    tests/test_plans.py (hive partition-pruning test).

    The sink lives in a session-scoped directory (session_sink_dir)
    and the return is the LAZY pruned read — never a driver collect:
    this key's result is fact-sized (~20% of orders), unbounded at
    scale, and the whole point of the partitioned layout is that the
    consumer reads it directly from storage."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    root, promote = generational_sink_dir(spark, "sink_partitioned")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(root)
    promote()
    return (
        spark.read.parquet(root)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "q_schema_evolution",
    oracle=f"""
    SELECT o_orderkey,
           {cents_sql("o_totalprice")} AS price_cents,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey,
           {cents_sql("o_totalprice")} AS price_cents,
           o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution (the lakehouse table-maintenance
    staple): generation 1 of a dataset was written WITHOUT a column,
    generation 2 adds it; a ``mergeSchema`` read unifies both file
    groups into one relation, null-filling the old files' missing
    column. This is how a 100 TB table grows a column without
    rewriting history — the alternative (backfill-rewrite) costs a
    full-table write.

    Deterministic split (orderkey parity) so the oracle re-derives
    both generations exactly; the return is the LAZY merged read from
    the session-scoped sink (no driver collect — sink rule). Note the
    scale caveat the plan makes visible: mergeSchema reads every
    file's footer at planning time, which is why production tables
    front this with a catalog-held schema (Delta/Iceberg) — the READ
    semantics demonstrated here are identical."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
        "o_orderpriority",
    )
    root, promote = generational_sink_dir(spark, "schema_evolution")
    gen1 = o.where(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
    gen2 = o.where(F.col("o_orderkey") % 2 == 1)
    gen1.write.mode("overwrite").parquet(f"{root}/gen=1")
    gen2.write.mode("overwrite").parquet(f"{root}/gen=2")
    promote()
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{root}/gen=1", f"{root}/gen=2")
        .select("o_orderkey", "price_cents", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q_join_dpp — dynamic partition pruning through a partitioned sink
# ---------------------------------------------------------------------------

DPP_MONTH_CUTOFF = "1995-07"  # urgent-order months before this drive the probe


@query(
    "q_join_dpp",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND strftime(o_orderdate, '%Y-%m') < '{DPP_MONTH_CUTOFF}'
    )
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({cents_sql("l_extendedprice")})
                AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN dim ON strftime(l_shipdate, '%Y-%m') = dim.m
    GROUP BY 1
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the 100 TB join pattern this whole
    layout tier exists for: the fact table is stored partitioned by
    ship month (the q_sink_partitioned layout), the probe side is a
    SMALL filtered dimension whose qualifying months are only known at
    RUN time (urgent-order months before {DPP_MONTH_CUTOFF}), and
    Spark turns the join key into a runtime partition filter — the
    fact scan reads ONLY the ~6 matching month directories instead of
    all ~80 (plan-asserted: PartitionFilters carries a dynamicpruning
    expression). Static pruning cannot do this (the month list is data-
    dependent); without DPP the scan is full and the join does the
    filtering after IO.

    Exactness: month keys are strftime/date_format '%Y-%m' strings on
    NTZ timestamps (identical in both engines); revenue is exact
    integer cents.

    Scale shape: one partitioned write (the sink is session-scoped and
    generational), a broadcast of the tiny month dim, and a fact scan
    bounded by the qualifying partitions; the rollup is map-side
    combined per month. At 100 TB the scan cost is proportional to the
    SELECTED months — the data-layout dividend this key pins."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        F.date_format(F.col("l_shipdate"), "yyyy-MM").alias("ship_month"),
    )
    root, promote = generational_sink_dir(spark, "join_dpp")
    li.write.mode("overwrite").partitionBy("ship_month").parquet(root)
    promote()
    fact = spark.read.parquet(root)
    o = load(spark, sf_dir, "orders")
    dim = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("m"))
        .where(F.col("m") < DPP_MONTH_CUTOFF)
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.ship_month == dim.m)
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(cents("l_extendedprice"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )
