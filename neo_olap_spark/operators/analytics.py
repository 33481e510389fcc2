"""Composite analytics: multi-way star joins, time-hierarchy rollups,
skew-mitigated aggregation, exact percentiles (SURVEY.md §2.3 widened).

These are the query shapes a warehouse actually runs at 100 TB; each
one's docstring names the plan property that keeps it scalable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import (
    cents,
    cents_sql,
    floor_round,
    floor_round_sql,
    money_sum,
    money_sum_sql,
    prefix_sum,
    trunc_div_sql,
)
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load, parquet_row_count

N_SALTS = 16


@query(
    "q_star_join",
    oracle=f"""
    SELECT n_name,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: local-supplier revenue by nation.

    Scale shape: the lineitem fact never shuffles for the dimension
    edges — customer/supplier/nation/region are all broadcast; the only
    shuffle is lineitem⋈orders plus the final small aggregate. The
    date filter pushes down to the orders scan, and the region filter
    prunes nations before they're broadcast."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_time_rollup",
    oracle=f"""
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           COUNT(*) AS n_events,
           {money_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: hourly, daily, and grand
    totals in one pass (grouping sets — one shuffle computes every
    granularity; a continuous-aggregate system maintains exactly this).
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_trunc("day", "ts").cast("long").alias("day_epoch"),
            F.date_trunc("hour", "ts").cast("long").alias("hour_epoch"),
            "value",
        )
        .rollup("day_epoch", "hour_epoch")
        .agg(
            F.count("*").alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions: all 4 grouping sets in one shuffle."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total"),
        )
    )


@query(
    "q_grouping_sets",
    oracle=f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE desugar
    to): per-status totals, per-priority totals, and the grand total
    in ONE shuffle — Spark expands the grouping sets map-side, so the
    aggregate is still a single exchange rather than three scans
    unioned. NULL group markers are coalesced to 'ALL' so the oracle
    hash is null-order-proof."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("q_gs_orders")
    return spark.sql(
        f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total
        FROM q_gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_agg_salted",
    oracle="""
    SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated two-phase aggregation. l_returnflag has 3 values
    over 600k rows — a single-phase shuffle would land each giant group
    on one reducer. Phase 1 aggregates (key, salt) over 16 hash salts;
    phase 2 merges the 48 partials. Same answer as a plain GROUP BY
    (the oracle), but the heavy shuffle fans out evenly — the manual
    form of what AQE skew-join does for joins."""
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("p_qty"), F.count("*").alias("p_cnt")
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("p_qty"), 2).alias("sum_qty"),
        F.sum("p_cnt").alias("cnt"),
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈fact join: the fact side gets a deterministic
    salt, the other side is replicated across all N_SALTS salts
    (explode of a literal range — N× the smaller side, 1× the fact), so
    one hot join key fans out over N_SALTS reducers instead of melting
    one. Oracle-identical to the plain join — the manual form of AQE's
    skew-join split, spelled out because at 100 TB you sometimes need
    it where AQE can't see the skew (e.g. under a cached exchange)."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(N_SALTS))
    )
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


def approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw sketch outputs (p25/median/p75 via percentile_approx) —
    consumed by q_agg_approx_quantile and the accuracy-invariant
    tests."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_med_price"),
            F.percentile_approx("l_extendedprice", [0.25, 0.75], 1000).alias("iqr_bounds"),
        )
        .select(
            "l_returnflag",
            F.round("approx_med_price", 2).alias("approx_med_price"),
            F.round(F.element_at("iqr_bounds", 1), 2).alias("p25"),
            F.round(F.element_at("iqr_bounds", 2), 2).alias("p75"),
        )
    )


# rank slack for the sketch tolerance oracle: percentile_approx at
# accuracy 1000 guarantees rank error <= 0.1% of n; the oracle allows
# 1% so the gate tests the sketch's contract, not its last digit
_QUANT_SLACK = 0.01
_QUANT_SPECS = (("p25", 0.25), ("med", 0.5), ("p75", 0.75))


@query(
    "q_agg_approx_quantile",
    oracle=f"""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
    {",".join(
        f'''
           ROUND(MAX(CASE WHEN rn = GREATEST(1, CAST(FLOOR(({q} - {_QUANT_SLACK}) * n) AS BIGINT))
                          THEN l_extendedprice END), 2) AS {name}_lo,
           ROUND(MAX(CASE WHEN rn = LEAST(n, CAST(CEIL(({q} + {_QUANT_SLACK}) * n) AS BIGINT))
                          THEN l_extendedprice END), 2) AS {name}_hi,
           TRUE AS {name}_ok'''
        for name, q in _QUANT_SPECS
    )}
    FROM ranked GROUP BY l_returnflag
    """,
)
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier of the quantile ladder: percentile_approx (a
    mergeable quantile sketch — partials combine across partitions, so
    the shuffle carries one sketch per group, not the data).

    Hash-checkable via a TOLERANCE oracle: alongside each sketch we
    emit the EXACT values at ranks (q ± 1%)·n — which DuckDB computes
    identically — and a boolean asserting the sketch value lies between
    them (the sketch's contract is rank error ≤ 0.1% at accuracy 1000,
    so 1% slack tests the contract, not the last digit). The oracle
    returns the same bounds and literal TRUEs: the hash matches iff
    every sketch estimate is in-bounds."""
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    ranked = li.select("l_returnflag", "l_extendedprice").select(
        "*",
        F.row_number().over(w.orderBy("l_extendedprice")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )

    def rank_val(rank_expr):
        return F.max(F.when(F.col("rn") == rank_expr, F.col("l_extendedprice")))

    aggs = []
    for name, q in _QUANT_SPECS:
        lo_rn = F.greatest(F.lit(1), F.floor((q - _QUANT_SLACK) * F.col("n")))
        hi_rn = F.least(F.col("n"), F.ceil((q + _QUANT_SLACK) * F.col("n")))
        aggs += [
            F.round(rank_val(lo_rn), 2).alias(f"{name}_lo"),
            F.round(rank_val(hi_rn), 2).alias(f"{name}_hi"),
        ]
    bounds = ranked.groupBy("l_returnflag").agg(*aggs)
    sketch = approx_quantile_sketch(spark, sf_dir).withColumnsRenamed(
        {"approx_med_price": "med_est", "p25": "p25_est", "p75": "p75_est"}
    )
    joined = bounds.join(sketch, "l_returnflag")
    return joined.select(
        "l_returnflag",
        *[
            c
            for name, _ in _QUANT_SPECS
            for c in (
                F.col(f"{name}_lo"),
                F.col(f"{name}_hi"),
                F.col(f"{name}_est")
                .between(F.col(f"{name}_lo"), F.col(f"{name}_hi"))
                .alias(f"{name}_ok"),
            )
        ],
    )


TPCH_Q3_SQL = f"""
SELECT l_orderkey,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       CAST(o_orderdate AS STRING) AS o_orderdate_s,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query(
    "q_sql_surface",
    oracle=f"""
    SELECT l_orderkey,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS o_orderdate_s,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text entry path: TPC-H Q3 (shipping priority) submitted
    as a SQL string over registered views — identical Catalyst plan to
    the DataFrame API, proving the engine exposes both surfaces.
    LIMIT carries a total-order tie-break (revenue DESC, l_orderkey)
    so the top-10 is deterministic on both engines."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("customer", "orders", "lineitem"))
    return spark.sql(TPCH_Q3_SQL)


PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: priorities become columns, one count cell each. The
    pivot values are DECLARED (not discovered) — at 100 TB an
    undeclared pivot costs an extra distinct-values pass and risks a
    million-column explosion; declared values compile to one hash
    aggregate with conditional counters, exactly the oracle's
    FILTER form."""
    labels = dict(
        zip(PIVOT_PRIORITIES, ["urgent", "high", "medium", "unspecified", "low"])
    )
    piv = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .count()
    )
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(labels[p]) for p in PIVOT_PRIORITIES],
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'price' AS measure,
           ROUND(l_extendedprice, 2) AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'qty', ROUND(l_quantity, 2) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', ROUND(l_discount, 2) FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measure columns to (measure, value) rows —
    the long-format transform feeding per-metric pipelines. Spark's
    unpivot is a zero-shuffle Expand (each input row emits one row per
    measure in place); the oracle spells it as UNION ALL."""
    return (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.round("l_quantity", 2).alias("qty"),
            F.round("l_discount", 2).alias("discount"),
        )
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["price", "qty", "discount"],
            variableColumnName="measure",
            valueColumnName="val",
        )
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_90d
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame: per customer, how many orders landed
    in the 90 days up to each order (RANGE frame over epoch seconds —
    peer rows with equal timestamps count together, unlike a ROWS
    frame). The trailing-window metric shape of rolling features."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_epoch"))
        .rangeBetween(-90 * 86400, 0)
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").cast("long").alias("o_epoch"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.count("*").over(w).cast("long").alias("n_last_90d"),
        )
    )


@query(
    "q_profile_stats",
    oracle="""
    SELECT 'o_totalprice' AS col, COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
           ROUND(MIN(o_totalprice), 2) AS min_v, ROUND(MAX(o_totalprice), 2) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           ROUND(MIN(o_custkey), 2), ROUND(MAX(o_custkey), 2)
    FROM orders
    """,
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the SUMMARIZE / data-quality pass every
    ingest pipeline runs): rows, nulls, exact distinct, min/max per
    column — ONE scan computes every column's profile (one wide
    aggregate; the per-column UNION in the oracle is for SQL clarity,
    Spark's plan reads the table once). At 100 TB swap exact distinct
    for approx_count_distinct; min/max come free from parquet
    footers."""
    o = load(spark, sf_dir, "orders")

    def profile(col: str):
        return F.struct(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.round(F.min(col), 2).alias("min_v"),
            F.round(F.max(col), 2).alias("max_v"),
        ).alias(col)

    wide = o.agg(profile("o_totalprice"), profile("o_custkey"))
    rows = []
    for col in ("o_totalprice", "o_custkey"):
        rows.append(
            wide.select(
                F.lit(col).alias("col"),
                F.col(f"{col}.n_rows").alias("n_rows"),
                F.col(f"{col}.n_nulls").alias("n_nulls"),
                F.col(f"{col}.n_distinct").alias("n_distinct"),
                F.col(f"{col}.min_v").cast("double").alias("min_v"),
                F.col(f"{col}.max_v").cast("double").alias("max_v"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "q_agg_mode",
    oracle="""
    WITH counted AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                   ORDER BY cnt DESC, l_quantity DESC) AS rn
      FROM counted
    )
    SELECT l_returnflag, ROUND(l_quantity, 2) AS mode_qty, cnt AS mode_cnt
    FROM ranked WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent value) per group with a DETERMINISTIC
    tie-break — Spark's built-in mode() leaves ties unspecified, so
    this is two hash aggregates: count per (group, value), then the
    struct-max argmax (max count, then max value). Both shuffles carry
    only grouped partials; no window, no sort."""
    counted = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.count("*").alias("cnt"))
    )
    best = counted.groupBy("l_returnflag").agg(
        F.max(F.struct(F.col("cnt"), F.col("l_quantity").alias("q"))).alias("b")
    )
    return best.select(
        "l_returnflag",
        F.round(F.col("b.q"), 2).alias("mode_qty"),
        F.col("b.cnt").alias("mode_cnt"),
    )


def hll_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw HLL estimates alongside exact countDistinct — consumed by
    q_agg_hll and the accuracy-invariant tests."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(12))).alias(
                "hll_parts"
            ),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            F.col("hll_parts").cast("long").alias("hll_parts"),
            F.col("exact_parts").cast("long").alias("exact_parts"),
        )
    )


@query(
    "q_agg_hll",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier of count-distinct: Apache DataSketches HLL via
    hll_sketch_agg. The sketch is MERGEABLE — partials combine across
    partitions and across time windows, so the shuffle carries one
    ~KB sketch per group instead of the distinct key set, and
    incremental pipelines can union yesterday's sketch with today's
    (hll_union) without re-reading history.

    Hash-checkable via a TOLERANCE oracle: the output carries the
    exact distinct count (cross-checked by DuckDB) plus a boolean
    asserting the HLL estimate lands within ±5 σ-ish of it (lgK=12 ⇒
    ~1.6% standard error; envelope 8% relative or ±3 absolute). The
    oracle emits literal TRUE, so the hash matches iff the sketch
    honors its error bound."""
    counts = hll_sketch_counts(spark, sf_dir)
    envelope = F.greatest(0.08 * F.col("exact_parts"), F.lit(3.0))
    return counts.select(
        "l_returnflag",
        "exact_parts",
        (F.abs(F.col("hll_parts") - F.col("exact_parts")) <= envelope).alias("hll_ok"),
    )


@query(
    "q_agg_hll_union",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS merged_ok
    FROM lineitem
    """,
)
def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch pipeline: sketch two halves of lineitem
    independently (yesterday's shard / today's shard), merge the
    binary sketches with hll_union_agg, estimate — the mergeability
    property that lets a 100 TB pipeline maintain rolling distinct
    counts without re-reading history. Tolerance oracle: exact
    distinct count (cross-checked) + a boolean asserting the MERGED
    estimate still honors the HLL error envelope."""
    li = load(spark, sf_dir, "lineitem")
    halves = (
        li.withColumn("half", F.pmod("l_orderkey", F.lit(2)))
        .groupBy("half")
        .agg(F.hll_sketch_agg("l_partkey", F.lit(12)).alias("sk"))
    )
    merged = halves.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    envelope = F.greatest(0.08 * F.col("exact_parts"), F.lit(3.0))
    return merged.crossJoin(exact).select(
        F.col("exact_parts").cast("long").alias("exact_parts"),
        (F.abs(F.col("est") - F.col("exact_parts")) <= envelope).alias("merged_ok"),
    )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
    FROM lineitem
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counts via bitmap aggregates — the exact tier of
    the mergeable-distinct ladder (q_agg_hll is the sketch tier, plain
    countDistinct the naive tier). bitmap_bit_position buckets the key
    space into fixed 32k-bit bitmaps; per (group, bucket) ONE
    partial-aggregable bitmap_construct_agg ORs membership bits
    map-side, so the shuffle carries a few KB of bitmap per bucket
    instead of the distinct key set — and unlike HLL the count is
    EXACT. The merged tier (bitmap_or_agg over the per-flag bitmaps)
    answers the global distinct from the per-group state without
    re-reading data: the same mergeability that lets a 100 TB
    pipeline maintain per-segment AND total exact distincts in one
    pass, or union yesterday's bitmaps with today's.

    Both levels are hash-checked against plain COUNT(DISTINCT) — the
    per-flag rows plus an 'ALL' row re-derived by ORing the per-flag
    per-bucket bitmaps (sum of popcounts; buckets partition the key
    space, so cross-bucket sums are exact)."""
    li = load(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number("l_partkey").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("bm"))
    per_flag = per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).alias("distinct_parts")
    )
    merged = (
        per_bucket.groupBy("bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("c"))
        .agg(F.sum("c").alias("distinct_parts"))
        .select(F.lit("ALL").alias("l_returnflag"), "distinct_parts")
    )
    return per_flag.unionByName(merged)


@query(
    "q_agg_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
      FROM lineitem
    )
    SELECT l_returnflag, ROUND(MIN(l_extendedprice), 2) AS med_price
    FROM r WHERE rn = (cnt + 1) // 2
    GROUP BY l_returnflag
    """,
)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower median per group, rank-based: the value at position
    ⌊(n+1)/2⌋ of the sorted group. Interpolating medians differ between
    engines at the last ulp, so both sides pick an actual row value —
    engine-neutral by construction. At 100 TB the cheap tier is
    percentile_approx; this is the exact tier (one sort per group)."""
    from pyspark.sql.window import Window as W

    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w.orderBy("l_extendedprice")).alias("rn"),
        F.count("*").over(w).alias("cnt"),
    )
    return (
        r.where(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .groupBy("l_returnflag")
        .agg(F.round(F.min("l_extendedprice"), 2).alias("med_price"))
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in micros


@query(
    "q_sessionize",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_US}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    )
    SELECT user_id, session_seq,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_end_epoch,
           COUNT(*) AS n_events,
           {money_sum_sql("value")} AS total_value
    FROM s
    GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at >30-minute inactivity gaps (the batch twin of
    q_stream_session's session windows).

    Gap detection, session numbering (running sum of gap flags), and
    the per-session rollup all share ONE partitioning on user_id: the
    two window functions and the final groupBy reuse a single
    Exchange, so the whole operator is one shuffle end-to-end at any
    scale. Gaps compare integer microseconds (timestampdiff vs DuckDB
    epoch_us) — no float time arithmetic, engine-exact; timestampdiff
    handles both TIMESTAMP and the TIMESTAMP_NTZ that Spark 4.1 reads
    parquet TIMESTAMP(NANOS, adjusted=false) as, and NTZ wall-time
    arithmetic is session-TZ-independent. Tie-break on event_id makes
    session assignment deterministic for same-ts rows.
    """
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    is_new = F.when(F.col("_prev_ts").isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return (
        ev.withColumn("_prev_ts", F.lag("ts").over(w))
        .withColumn("session_seq", F.sum(is_new).over(w))
        .groupBy("user_id", "session_seq")
        .agg(
            # epoch BIGINT, never raw timestamps (repo rule: driver
            # hash canon must not depend on datetime dtype rendering)
            F.min("ts").cast("long").alias("session_start_epoch"),
            F.max("ts").cast("long").alias("session_end_epoch"),
            F.count("*").alias("n_events"),
            money_sum("value").alias("total_value"),
        )
    )


@query(
    "q_time_gap_fill",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             {money_sum_sql("value")} AS v
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi FROM hourly GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.hr, h.v
      FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    )
    SELECT user_id, CAST(epoch(hr) AS BIGINT) AS hr_epoch,
           LAST_VALUE(v IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY hr ROWS UNBOUNDED PRECEDING) AS v_filled,
           v IS NULL AS is_gap
    FROM j
    """,
)
def q_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: hourly per-user rollup, densified to
    a gap-free hourly grid (per-user min..max hour) with forward-fill
    of missing buckets — the resample + ffill step every feature
    pipeline runs before windowed model inputs.

    Scale shape: the grid is generated distributed (sequence + explode
    per user off the bounds aggregate — never a driver-side calendar),
    and every shuffle is keyed by the entity: bounds on user_id,
    hourly rollup on (user_id, hour). At test scale the hourly side
    broadcasts into the grid and the fill window reuses the grid's
    user_id partitioning with only a local sort (3 exchanges total,
    none global); at 100 TB the join becomes an SMJ on (user_id,
    hour) plus one re-exchange to user_id for the fill — still
    per-user work bounded by each user's own time span."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(money_sum("value").alias("v"))
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr"),
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        F.col("hr").cast("timestamp").cast("long").alias("hr_epoch"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("is_gap"),
    )


# SQL text shared verbatim by Spark and DuckDB (date literals as
# strings: each engine coerces to its own timestamp flavor)
TPCH_Q1_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           {money_sum_sql("l_extendedprice")} AS sum_base,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""

TPCH_Q6_SQL = f"""
    SELECT {money_sum_sql("l_extendedprice * l_discount")} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@query("q_sql_tpch_q1", oracle=TPCH_Q1_SQL)
def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) through the SQL-text path — THE
    canonical scan-heavy aggregate. Plan: one pass over lineitem with
    the shipdate filter pushed to the parquet reader, map-side partial
    aggregation into 6 tiny groups. The oracle is the same SQL text
    run by DuckDB, so the check also proves SQL-dialect portability."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(TPCH_Q1_SQL)


@query("q_sql_tpch_q6", oracle=TPCH_Q6_SQL)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue) through the SQL-text path — the
    canonical selective filter-aggregate. All four predicates push to
    the scan (date range prunes row groups via min/max stats); the
    aggregate is a single scalar, so the query is scan-bound — at
    100 TB its cost is exactly the bytes the filters let through."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(TPCH_Q6_SQL)


TPCH_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
"""

TPCH_Q10_SQL = f"""
    SELECT c_custkey, c_name,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           ROUND(c_acctbal, 2) AS acctbal
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""

TPCH_Q14_SQL = f"""
    SELECT {floor_round_sql(
               "100.0 * CAST(CAST(pc AS BIGINT) AS DOUBLE)"
               " / CAST(CAST(tc AS BIGINT) AS DOUBLE)",
               4,
           )} AS promo_revenue,
           n_rows
    FROM (
      SELECT SUM(CASE WHEN p_type = 'PROMO'
                      THEN {cents_sql("l_extendedprice * (1 - l_discount)")}
                      ELSE 0 END) AS pc,
             SUM({cents_sql("l_extendedprice * (1 - l_discount)")}) AS tc,
             COUNT(*) AS n_rows
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= '1997-03-01' AND l_shipdate < '1997-04-01'
    )
"""

TPCH_Q19_SQL = f"""
    SELECT {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30))
"""

TPCH_Q5_SQL = f"""
    SELECT n_name,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= '1995-01-01' AND o_orderdate < '1998-01-01'
    GROUP BY n_name
"""


@query("q_sql_tpch_q4", oracle=TPCH_Q4_SQL)
def q_sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking, adapted to this schema's
    columns: late = any line shipped after the order date). The EXISTS
    decorrelates to a LEFT SEMI join on o_orderkey — at 100 TB that is
    one shuffle of the filtered quarter of orders against lineitem,
    with the date filter pushed to the orders scan. Shared SQL text
    with the DuckDB oracle proves dialect portability."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders", "lineitem"))
    return spark.sql(TPCH_Q4_SQL)


@query("q_sql_tpch_q10", oracle=TPCH_Q10_SQL)
def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item revenue, top 20 customers). The plan
    to want: date filter pushed to the orders scan, returnflag filter
    to lineitem, two key-joins, then TakeOrderedAndProject for the
    LIMIT — no global sort materializes. ORDER BY the ROUNDED revenue
    with a c_custkey tie-break keeps the LIMIT deterministic
    cross-engine (raw-double ordering could flip equal-looking
    rows)."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("customer", "orders", "lineitem"))
    return spark.sql(TPCH_Q10_SQL)


@query("q_sql_tpch_q14", oracle=TPCH_Q14_SQL)
def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promo revenue share): selective month filter on the
    fact scan, join to part (broadcast-able dim), conditional
    aggregation — one shuffle-free broadcast join plus a scalar agg."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem", "part"))
    return spark.sql(TPCH_Q14_SQL)


@query("q_sql_tpch_q19", oracle=TPCH_Q19_SQL)
def q_sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (disjunctive brand/size/quantity predicates). The
    per-branch part predicates can't prune the fact scan, but the
    broadcast hash join + codegen'd OR evaluation keeps it one pass
    over lineitem; Catalyst extracts the common p_partkey join key
    from under the OR."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem", "part"))
    return spark.sql(TPCH_Q19_SQL)


@query("q_join_multiway", oracle=TPCH_Q5_SQL)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier revenue) DataFrame-first — the 6-way
    join written the way a 100 TB plan should run: nation⋈region
    pre-reduced and BROADCAST (a few rows), supplier and customer
    broadcast against the facts (dim tables), so the only real
    shuffle is lineitem⋈orders on orderkey; the c_nationkey =
    s_nationkey "local" predicate is evaluated post-join, codegen'd.
    Oracle: the classic SQL formulation (TPCH_Q5_SQL)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            # money-cents rule: per-row floor-shift to exact integer
            # cents, sum the integers (order-independent), one final
            # division — a double SUM here is summation-order-dependent
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std_qty,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cov_qty_price,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moments pack per group: avg / sample stddev /
    sample covariance / correlation — the profiling aggregates a
    feature-engineering pass runs. All are single-pass partial-
    aggregable (sum, sum of squares, cross products) so the plan is
    one map-side-combined shuffle into 3 groups; rounding absorbs the
    engines' accumulation-order float differences (~1e-12 relative at
    this scale, far below the rounded digit)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@query(
    "q_agg_argmax",
    oracle=f"""
    SELECT l_returnflag,
           MAX_BY(l_orderkey,
                  LPAD(CAST({cents_sql("l_extendedprice")} AS VARCHAR), 14, '0')
                  || '#' || LPAD(CAST(l_orderkey AS VARCHAR), 14, '0')) AS top_order,
           ROUND(MAX(l_extendedprice), 2) AS top_price,
           MIN_BY(l_orderkey,
                  LPAD(CAST({cents_sql("l_extendedprice")} AS VARCHAR), 14, '0')
                  || '#' || LPAD(CAST(l_orderkey AS VARCHAR), 14, '0')) AS bottom_order,
           ROUND(MIN(l_extendedprice), 2) AS bottom_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregation) with a DETERMINISTIC
    composite ordinal: price alone ties (many lines share a price) and
    each engine would keep an arbitrary winner, so the winner must be
    total-ordered. Zero-padded fixed-width cents + '#' + zero-padded
    orderkey compares lexicographically exactly like the (price,
    orderkey) tuple — unpadded digit strings would not ('9.5' >
    '10.2'). Partial-aggregable (max_by merges map-side), one shuffle
    into 3 groups."""
    li = load(spark, sf_dir, "lineitem")
    ordinal = F.concat_ws(
        "#",
        F.lpad(cents("l_extendedprice").cast("string"), 14, "0"),
        F.lpad(F.col("l_orderkey").cast("string"), 14, "0"),
    )
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", ordinal).alias("top_order"),
        F.round(F.max("l_extendedprice"), 2).alias("top_price"),
        F.min_by("l_orderkey", ordinal).alias("bottom_order"),
        F.round(F.min("l_extendedprice"), 2).alias("bottom_price"),
    )


@query(
    "q_events_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column path: extract a typed field from the
    JSON props payload and aggregate it per event type — the
    schema-on-read pattern for event streams whose payload evolves
    faster than the table schema. get_json_object stays JVM-side
    (Jackson, codegen'd); at 100 TB prefer promoting hot JSON fields
    to real columns at ingest, which this query's plan (extract fused
    into the scan, one small-key shuffle) makes cheap to do lazily."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@query(
    "q_agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolation percentiles per group (Spark
    `percentile` ≡ DuckDB `quantile_cont` semantics) — the precise
    complement to the approx_percentile sketch key. Exact percentiles
    need the group's values together (a sort per group); at 100 TB
    use q_agg_approx_quantile unless the contract demands exactness —
    that trade is the point of having both keys."""
    li = load(spark, sf_dir, "lineitem")
    pcts = F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("p"), F.count("*").alias("n_rows"))
        .select(
            "l_returnflag",
            F.round(F.element_at("p", 1), 6).alias("p25"),
            F.round(F.element_at("p", 2), 6).alias("p50"),
            F.round(F.element_at("p", 3), 6).alias("p75"),
            "n_rows",
        )
    )


HIST_BIN_WIDTH = 50_000.0


@query(
    "q_agg_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY bin
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by arithmetic binning — the distribution
    profile pass. The bin expression is a pure projection, so the
    whole query is one map-side-combined shuffle whose key space is
    the bin count, not the row count; bin boundaries are exact integer
    floors, so both engines bucket identically (no width_bucket
    edge-semantics dependence)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bin", F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("long")
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query(
    "q_agg_collect_sorted",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + canonical ordering, emitted as CSV: array-valued
    aggregation is only hash-stable if the collection order is
    canonicalized (collect_set order is partition-arrival
    nondeterministic in BOTH engines — sort_array fixes it). The
    distinct set per group is bounded by the status domain, so state
    stays tiny no matter the row count."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.count("*").alias("n_orders"),
    )


HH_FRACTION = 2_000  # heavy hitter = support > n / HH_FRACTION


@query(
    "q_agg_heavy_hitters",
    oracle=f"""
    SELECT l_partkey,
           COUNT(*) AS n_lines,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM lineitem), 6) AS support
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(*) > (SELECT COUNT(*) FROM lineitem) * 1.0 / {HH_FRACTION}
    """,
)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters: keys whose support exceeds n/HH_FRACTION —
    the ground-truth version of a Misra-Gries / Space-Saving sketch
    pass. Plan: one map-side-combined groupBy, one scalar total
    (computed once, broadcast into the HAVING filter). At 100 TB run
    the sketch first and this exact pass only over the sketch's
    candidate set — the two-phase shape this key's filter mirrors."""
    li = load(spark, sf_dir, "lineitem")
    total = li.agg(F.count("*").alias("n_total"))
    return (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_lines") > F.col("n_total") / HH_FRACTION)
        .select(
            "l_partkey",
            "n_lines",
            F.round(F.col("n_lines") / F.col("n_total"), 6).alias("support"),
        )
    )


@query(
    "q_agg_bool",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT_IF(o_totalprice > 100000) AS BIGINT) AS n_large,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_orderstatus = 'F') AS any_finished,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family: count_if / bool_and (every) /
    bool_or (any) per group — the assertion-style rollups data-quality
    monitors run. All partial-aggregable, one shuffle into 5 groups."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count("*").alias("n_orders"),
    )


DOWNSAMPLE_HOURS = 6


@query(
    "q_time_downsample",
    oracle=f"""
    SELECT event_type,
           CAST(FLOOR(epoch(ts) / ({DOWNSAMPLE_HOURS} * 3600)) AS BIGINT) AS bucket,
           COUNT(*) AS n_events,
           {floor_round_sql(
               f"CAST(CAST(SUM({cents_sql('value')}) AS BIGINT) AS DOUBLE)"
               " / COUNT(*) / 100",
               4,
           )} AS avg_value,
           {floor_round_sql("MIN(value)", 4)} AS min_value,
           {floor_round_sql("MAX(value)", 4)} AS max_value
    FROM events
    GROUP BY event_type, bucket
    """,
)
def q_time_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series time-bucket downsampling (6-hour buckets of each
    event type): the count/avg/min/max envelope a monitoring or
    feature pipeline stores instead of raw points. Arithmetic
    epoch-division bucketing (engine-portable, no calendar functions
    in the key); one shuffle on the (series, bucket) composite key —
    the hypertable continuous-aggregate shape, computable
    incrementally because every aggregate here is mergeable."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "bucket",
            F.floor(F.col("ts").cast("long") / (DOWNSAMPLE_HOURS * 3600)).cast("long"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            # floor_round, not round(): an avg of k values can
            # land EXACTLY on a half (e.g. 55.12125) and the engines'
            # round-half rules differ — same fix as q_embed_quantize
            # exact avg: integer cents sum / count (a double AVG's
            # accumulation order is engine-specific — landmine (h))
            floor_round(
                F.sum(cents("value")).cast("double") / F.count(F.lit(1)) / 100, 4
            ).alias("avg_value"),
            floor_round(F.min("value"), 4).alias("min_value"),
            floor_round(F.max("value"), 4).alias("max_value"),
        )
    )


Z_THRESHOLD = 3.0


# Shared double expression TEXT for skewness / excess kurtosis from raw
# integer moment sums (n, s1..s4 as DOUBLE columns): the SAME string is
# parsed by Spark (F.expr) and DuckDB, so the whole floating-point tail
# is one identical IEEE expression tree in both engines — parenthesized
# explicitly, sqrt only (pow() differs cross-engine, SURVEY landmine).
_MU = "(s1/n)"
_M2 = f"((s2/n) - ({_MU}*{_MU}))"
_M3 = f"((s3/n) - ((3*{_MU})*(s2/n)) + ((2*{_MU})*{_MU}*{_MU}))"
_M4 = (
    f"((s4/n) - ((4*{_MU})*(s3/n)) + (((6*{_MU})*{_MU})*(s2/n))"
    f" - (((3*{_MU})*{_MU})*{_MU}*{_MU}))"
)
SKEW_EXPR = floor_round_sql(f"({_M3} / ({_M2} * sqrt({_M2})))", 6)
KURT_EXPR = floor_round_sql(f"(({_M4} / ({_M2} * {_M2})) - 3)", 6)


@query(
    "q_agg_skew_kurtosis",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {cents_sql("value")} AS c
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
             CAST(SUM(CAST(c * c AS HUGEINT) * c) AS DOUBLE) AS s3,
             CAST(SUM(CAST(c * c AS HUGEINT) * (c * c)) AS DOUBLE) AS s4
      FROM c GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {SKEW_EXPR} AS skew,
           {KURT_EXPR} AS kurt_excess
    FROM s
    """,
)
def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population skewness and excess kurtosis per event series —
    the distribution-shape profile (is the metric right-tailed? how
    heavy?) that decides between the z-score and MAD anomaly tiers and
    whether a mean is even reportable. Spark ships skewness()/
    kurtosis() built-ins, but their internal double accumulation is
    summation-order-dependent — the repo's engine-exactness rule
    (landmine h: never threshold or compare engine-internal double
    aggregates) applies doubly to 3rd/4th moments, which amplify
    accumulation error.

    Exactness scheme: cents-integerized raw moment sums S1..S4, ALL
    accumulated in 128-bit exact integers (decimal(38,0) on Spark,
    HUGEINT in DuckDB) — c⁴ for the largest observed cents
    (56021⁴ ≈ 9.9e18) overflows int64 PER ROW, and even Σc² would wrap
    a 64-bit sum at ~3e9 rows per group, exactly the scale this scheme
    claims to survive (self-review r7 finding: the first cut summed
    s1/s2 in 64-bit while the oracle's BIGINT cast would THROW there —
    wrap-vs-throw divergence). Each exact sum converts to double ONCE
    (same integer → same IEEE double in both engines), and the entire
    skew/kurtosis tail is ONE shared expression string parsed by both
    (SKEW_EXPR/KURT_EXPR — identical parse tree, identical IEEE ops;
    sqrt not pow). Quantized at 1e-6.

    Scale shape: one partial-aggregable groupBy — integer partials
    combine map-side, 5 rows cross the shuffle; the exact-moments
    trick costs nothing over the built-ins at any scale."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        cents("value").alias("c"),
    )
    c2 = F.col("c") * F.col("c")
    cd = F.col("c").cast("decimal(38,0)")
    c2d = c2.cast("decimal(38,0)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(cd).cast("double").alias("s1"),
        F.sum(cd * F.col("c")).cast("double").alias("s2"),
        F.sum(c2d * F.col("c")).cast("double").alias("s3"),
        F.sum(c2d * c2).cast("double").alias("s4"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.expr(SKEW_EXPR).alias("skew"),
        F.expr(KURT_EXPR).alias("kurt_excess"),
    )


# ---------------------------------------------------------------------------
# q_agg_corr_matrix — one-pass pairwise Pearson correlation matrix
# ---------------------------------------------------------------------------


def _corr_micro_expr(a: str, b: str, aa: str, bb: str, ab: str) -> str:
    """Pearson correlation from exact moment sums, micro-integerized —
    ONE expression string parsed by BOTH engines (the SKEW_EXPR /
    rolling_corr discipline: identical parse tree, identical IEEE op
    sequence, sqrt never pow). All inputs are double columns cast once
    from exact 128-bit integer sums."""
    va = f"(n * {aa} - {a} * {a})"
    vb = f"(n * {bb} - {b} * {b})"
    return (
        f"CASE WHEN {va} * {vb} > 0 THEN "
        f"{cents_sql(f'(n * {ab} - {a} * {b}) / sqrt({va} * {vb})', 6)} ELSE NULL END"
    )


_CORR_QP = _corr_micro_expr("sq", "sp", "sqq", "spp", "sqp")
_CORR_QD = _corr_micro_expr("sq", "sd", "sqq", "sdd", "sqd")
_CORR_PD = _corr_micro_expr("sp", "sd", "spp", "sdd", "spd")


@query(
    "q_agg_corr_matrix",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS q,
             {cents_sql("l_extendedprice")} AS p,
             {cents_sql("l_discount")} AS d
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(q AS HUGEINT)) AS DOUBLE) AS sq,
             CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE) AS sp,
             CAST(SUM(CAST(d AS HUGEINT)) AS DOUBLE) AS sd,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS DOUBLE) AS sqq,
             CAST(SUM(CAST(p AS HUGEINT) * p) AS DOUBLE) AS spp,
             CAST(SUM(CAST(d AS HUGEINT) * d) AS DOUBLE) AS sdd,
             CAST(SUM(CAST(q AS HUGEINT) * p) AS DOUBLE) AS sqp,
             CAST(SUM(CAST(q AS HUGEINT) * d) AS DOUBLE) AS sqd,
             CAST(SUM(CAST(p AS HUGEINT) * d) AS DOUBLE) AS spd
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {_CORR_QP} AS corr_qty_price_micro,
           {_CORR_QD} AS corr_qty_disc_micro,
           {_CORR_PD} AS corr_price_disc_micro
    FROM s
    """,
)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, price, discount) per return flag, in ONE scan — the
    feature-correlation profile an ML-prep pipeline computes before
    feature selection (drop one of every highly-correlated pair) and
    the cheapest multicollinearity screen. Spark ships corr() but only
    pairwise-at-a-time and with engine-internal double accumulation;
    this computes ALL pairs from one pass of exact integer moment
    sums.

    Exactness: the q_agg_skew_kurtosis scheme — measures integerize
    (quantity is integral, price to cents, discount to percent), all
    10 moment sums accumulate in 128-bit (decimal(38,0) / HUGEINT —
    Σp² alone wraps int64 at ~10⁵ rows), each converts to double once,
    and every correlation is one shared expression string parsed by
    both engines (_corr_micro_expr; sqrt never pow). Micro-integerized
    output; degenerate (zero-variance) pairs emit NULL in both.

    Scale shape: one partial-aggregable groupBy — 10 integer partials
    combine map-side, 3 rows per flag cross the shuffle. The pair
    count is quadratic in COLUMNS, not rows — at 100 TB this is the
    same single scan with a wider combine row."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        cents("l_extendedprice").alias("p"),
        cents("l_discount").alias("d"),
    )
    qd = F.col("q").cast("decimal(38,0)")
    pd_ = F.col("p").cast("decimal(38,0)")
    dd = F.col("d").cast("decimal(38,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(qd).cast("double").alias("sq"),
        F.sum(pd_).cast("double").alias("sp"),
        F.sum(dd).cast("double").alias("sd"),
        F.sum(qd * F.col("q")).cast("double").alias("sqq"),
        F.sum(pd_ * F.col("p")).cast("double").alias("spp"),
        F.sum(dd * F.col("d")).cast("double").alias("sdd"),
        F.sum(qd * F.col("p")).cast("double").alias("sqp"),
        F.sum(qd * F.col("d")).cast("double").alias("sqd"),
        F.sum(pd_ * F.col("d")).cast("double").alias("spd"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.expr(_CORR_QP).alias("corr_qty_price_micro"),
        F.expr(_CORR_QD).alias("corr_qty_disc_micro"),
        F.expr(_CORR_PD).alias("corr_price_disc_micro"),
    )


# ---------------------------------------------------------------------------
# q_agg_mutual_info — categorical dependence (the corr matrix's twin)
# ---------------------------------------------------------------------------

# ONE expression string parsed by both engines: per-cell plug-in MI
# terms from exact integer counts (cast to double once each), ln tail
# per the tfidf/bigram-LM/PSI precedent (irrational sums never land on
# a representable rounding half), floor-shift quantized at 1e-6.
_MI_EXPR = floor_round_sql(
    "SUM((CAST(nab AS DOUBLE) / CAST(n AS DOUBLE)) * "
    "ln((CAST(nab AS DOUBLE) * CAST(n AS DOUBLE)) / "
    "(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))",
    6,
)


@query(
    "q_agg_mutual_info",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS BIGINT) AS nab
      FROM orders GROUP BY 1, 2
    ),
    ma AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na FROM cells GROUP BY a),
    mb AS (SELECT b, CAST(SUM(nab) AS BIGINT) AS nb FROM cells GROUP BY b),
    tot AS (SELECT CAST(SUM(nab) AS BIGINT) AS n FROM cells),
    j AS (
      SELECT cells.nab, ma.na, mb.nb, tot.n
      FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
    )
    SELECT MIN(n) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           {_MI_EXPR} AS mi
    FROM j
    """,
)
def q_agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (order
    priority × order status) — the categorical twin of
    q_agg_corr_matrix's numeric screen: MI(A;B) = Σ p(a,b)·ln(p(a,b) /
    (p(a)p(b))) measures ANY dependence, not just linear, and is the
    standard feature-relevance / redundancy score for categorical
    features (zero iff independent). Plug-in estimate from exact
    counts.

    Cross-engine contract: one groupBy produces the exact integer
    contingency cells; marginals and the total DERIVE from the cell
    table (never a second fact scan), each count casts to double once
    inside the ONE shared expression string both engines parse
    (_MI_EXPR). Cells with nab·n = na·nb contribute exactly ln(1) = 0
    in both engines. The MI itself is a SUM of double ln-terms —
    order-dependent in the last ulps — so the FLOOR(x·10⁶+0.5) tail is
    a HEURISTIC quantizer, not a guarantee (the "irrational sums never
    hit a representable half" precedent): with ~15 fixed cells the
    boundary probability is negligible, but if a hash flip ever
    surfaces here, widen the quantum or compare as DOUBLE with rtol
    (round-8 ADVICE adjudication).

    Scale shape: the fact table is touched by ONE partial-aggregable
    groupBy; everything downstream operates on the |A|×|B|-cell table
    (broadcast joins for marginals, a 1-row broadcast total) —
    aggregate-sized regardless of row count."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    )
    cells = o.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    cells = cells.localCheckpoint()  # cell table feeds 3 consumers
    ma = cells.groupBy("a").agg(F.sum("nab").cast("long").alias("na"))
    mb = cells.groupBy("b").agg(F.sum("nab").cast("long").alias("nb"))
    tot = cells.agg(F.sum("nab").cast("long").alias("n"))
    j = (
        cells.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
    )
    return j.agg(
        F.min("n").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(_MI_EXPR).alias("mi"),
    )


MAD_SCALE_NUM = 6745  # 0.6745 (Φ⁻¹(0.75)) ×10⁴ — integer-exact compare
MAD_Z_NUM = 35000  # modified-z threshold 3.5 ×10⁴ (Iglewicz-Hoaglin)


@query(
    "q_anomaly_mad",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {cents_sql("value")} AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM c
    ),
    med AS (
      SELECT event_type, MIN(cents) AS med_cents
      FROM r WHERE rn = (cnt + 1) // 2 GROUP BY event_type
    ),
    d AS (
      SELECT c.event_type, ABS(c.cents - m.med_cents) AS dev,
             m.med_cents
      FROM c JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, dev,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM d
    ),
    mad AS (
      SELECT event_type, MIN(dev) AS mad_cents
      FROM r2 WHERE rn = (cnt + 1) // 2 GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(d.med_cents) AS med_cents,
           MIN(mad.mad_cents) AS mad_cents,
           CAST(COUNT(*) FILTER (
             WHERE mad.mad_cents > 0
               AND 6745 * d.dev > 35000 * mad.mad_cents
           ) AS BIGINT) AS n_flagged
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier detection per series — the
    heavy-tail-safe twin of q_anomaly_zscore: mean/stddev are
    themselves dragged by the outliers they're meant to flag, while
    the median and the median-absolute-deviation have a 50% breakdown
    point. Flags rows whose modified z-score 0.6745·|v−med|/MAD
    exceeds 3.5 (Iglewicz-Hoaglin); emits the per-type audit summary
    (n, median, MAD, flagged count) — aggregate-sized by construction.

    Engine-exactness: cents integerization + the rank-pick LOWER
    median (the q_agg_median rule — interpolating medians differ at
    the last ulp) for BOTH the median and the MAD, and the threshold
    compare stays in integers (6745·dev > 35000·MAD ≡ the 0.6745/3.5
    ratio ×10⁴) — no float ever crosses an engine boundary. MAD = 0
    (a majority-constant series) flags nothing, by guard, matching
    the statistic's definition domain.

    Scale shape: two rank windows partitioned by event_type (exact
    medians sort per group — the documented q_agg_median trade; the
    sketch tier at 100 TB is approx_percentile) + one broadcast join
    back and a partial-aggregable final groupBy."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").select(
        "event_type", cents("value").alias("cents")
    )
    w = W.partitionBy("event_type")

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        r = df.select(
            "event_type",
            col,
            F.row_number().over(w.orderBy(col)).alias("rn"),
            F.count("*").over(w).alias("cnt"),
        )
        return (
            r.where(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
            .groupBy("event_type")
            .agg(F.min(col).alias(out))
        )

    med = lower_median(ev, "cents", "med_cents")
    # localCheckpoint: d feeds BOTH the MAD median and the final
    # aggregation — without it the events scan + median broadcast join
    # execute twice (self-review r7 finding)
    d = (
        ev.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "med_cents",
            F.abs(F.col("cents") - F.col("med_cents")).alias("dev"),
        )
        .localCheckpoint()
    )
    mad = lower_median(d, "dev", "mad_cents")
    flagged = (F.col("mad_cents") > 0) & (
        MAD_SCALE_NUM * F.col("dev") > MAD_Z_NUM * F.col("mad_cents")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med_cents").alias("med_cents"),
            F.min("mad_cents").alias("mad_cents"),
            F.sum(flagged.cast("long")).alias("n_flagged"),
        )
    )


@query(
    "q_anomaly_zscore",
    oracle=f"""
    WITH c AS (
      SELECT event_id, event_type, value,
             {cents_sql("value")} AS cents
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) AS sc,
             CAST(CAST(SUM(cents * cents) AS BIGINT) AS DOUBLE) AS scc
      FROM c GROUP BY event_type
    ),
    z AS (
      SELECT e.event_id, e.event_type, e.value,
             (e.cents - s.sc / s.n)
             / sqrt((s.scc - s.sc * s.sc / s.n) / (s.n - 1)) AS zscore
      FROM c e JOIN stats s USING (event_type)
    )
    SELECT event_id, event_type,
           ROUND(value, 4) AS value,
           {floor_round_sql("zscore", 3)} AS zscore
    FROM z WHERE ABS(zscore) > {Z_THRESHOLD}
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per series: flag events more than
    Z_THRESHOLD sample deviations from their type's mean — the
    first-line anomaly monitor over any metric stream. Two-pass shape
    (tiny per-type stats, then a broadcast join back over the scan)
    rather than a window: a window would shuffle EVERY row into
    per-type partitions; the stats aggregate is partial-aggregable and
    the rejoin is broadcast — the full pass stays embarrassingly
    parallel at 100 TB."""
    ev = load(spark, sf_dir, "events").withColumn(
        "cents", cents("value")
    )
    # exactness: cents sums are exact integers (order-independent);
    # mu/sigma then come from ONE deterministic double expression per
    # group instead of the engines' internal AVG/STDDEV accumulation
    # order — threshold membership near |z| = 3 is engine-exact
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cents").cast("double").alias("sc"),
        F.sum(F.col("cents") * F.col("cents")).cast("double").alias("scc"),
    )
    z = (F.col("cents") - F.col("sc") / F.col("n")) / F.sqrt(
        (F.col("scc") - F.col("sc") * F.col("sc") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > Z_THRESHOLD)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            floor_round(z, 3).alias("zscore"),
        )
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(FLOOR(epoch(ts) / 604800) AS BIGINT)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(FLOOR(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_week AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active week,
    counted per (cohort, weeks-since-first) cell — THE product-
    analytics query. Plan: one groupBy(user) for first-seen, one
    user-keyed join back (both sides already hashed on user_id — a
    single Exchange each), a distinct on (user, cohort, offset), and
    a small-key rollup. Arithmetic week bucketing (epoch // 604800)
    keeps both engines calendar-free."""
    ev = load(spark, sf_dir, "events").withColumn(
        "week", F.floor(F.col("ts").cast("long") / 604800).cast("long")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )


@query(
    "q_time_interpolate",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 AS hr_epoch,
             CAST(SUM({cents_sql("value")}) AS BIGINT)
               AS v_cents
      FROM events GROUP BY user_id, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600
    ),
    bounds AS (SELECT user_id, MIN(hr_epoch) AS lo, MAX(hr_epoch) AS hi
               FROM hourly GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS hr_epoch
             FROM bounds),
    j AS (SELECT g.user_id, g.hr_epoch, h.v_cents
          FROM grid g LEFT JOIN hourly h
            ON g.user_id = h.user_id AND g.hr_epoch = h.hr_epoch),
    ctx AS (
      SELECT user_id, hr_epoch, v_cents,
             LAST_VALUE(v_cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY hr_epoch
                ROWS UNBOUNDED PRECEDING) AS prev_v,
             LAST_VALUE(CASE WHEN v_cents IS NOT NULL THEN hr_epoch END
                        IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY hr_epoch
                ROWS UNBOUNDED PRECEDING) AS prev_e,
             FIRST_VALUE(v_cents IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY hr_epoch
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             FIRST_VALUE(CASE WHEN v_cents IS NOT NULL THEN hr_epoch END
                         IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY hr_epoch
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_e
      FROM j)
    SELECT user_id, hr_epoch,
           CAST(FLOOR(
             CASE WHEN v_cents IS NOT NULL THEN CAST(v_cents AS DOUBLE)
                  WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
                  WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
                  ELSE prev_v + (next_v - prev_v)
                       * (hr_epoch - prev_e) / (next_e - prev_e)
             END + 0.5) AS BIGINT) / 100.0 AS v_interp,
           v_cents IS NULL AS is_interpolated
    FROM ctx
    """,
)
def q_time_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series LINEAR interpolation: hourly per-user rollup
    densified to a gap-free grid with missing buckets interpolated
    between the nearest observed neighbors (edges fall back to
    nearest-value) — the resample + interpolate step feature
    pipelines run where forward-fill (q_time_gap_fill) is too coarse.

    Cross-engine exactness: bucket values integerize to cents per row
    and sum as BIGINT (order-independent — see tpch.py's rationale),
    so prev/next anchors are bit-identical in both engines and the
    interpolation arithmetic — pure per-row IEEE ops on identical
    inputs — is too. Epoch-arithmetic bucketing (floor(epoch/3600))
    keeps the key calendar- and TZ-free.

    Scale shape: identical to q_time_gap_fill — the grid is generated
    distributed from the per-user bounds aggregate, every shuffle is
    keyed on user_id, and the two directional windows share one
    user_id Exchange with only local sorts between them; per-user
    cost is bounded by each user's own time span at any corpus size.

    Frame-direction landmine (caught by the r11 bench-coverage
    completion — warm time equalled cold at 31 s): Spark evaluates a
    [currentRow, unboundedFollowing] frame with
    UnboundedFollowingWindowFunctionFrame, which RE-AGGREGATES the
    remainder of the partition for every row — O(span²) per user,
    ~27 s of the 31 at sf0.1. The forward-looking anchors are instead
    computed as a RUNNING [unboundedPreceding, currentRow] frame over
    hr_epoch DESC (last non-null walking down from the partition top
    == first non-null at-or-after the row in ASC — identical values),
    which streams in O(span). Post-fix: ~3 s warm, plan-pinned to one
    Exchange + two sorts and NO UnboundedFollowing frame."""
    ev = load(spark, sf_dir, "events")
    hr = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long")
    hourly = ev.groupBy("user_id", hr.alias("hr_epoch")).agg(
        F.sum(cents("value")).alias("v_cents")
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hr_epoch").alias("lo"), F.max("hr_epoch").alias("hi")
    )
    grid = bounds.select(
        "user_id", F.explode(F.expr("sequence(lo, hi, 3600)")).alias("hr_epoch")
    )
    j = grid.join(hourly, ["user_id", "hr_epoch"], "left")
    w_back = (
        W.partitionBy("user_id").orderBy("hr_epoch")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # forward anchors via a RUNNING frame over DESC order (see the
    # frame-direction landmine in the docstring) — value-identical to
    # first(... ignorenulls) over [currentRow, unboundedFollowing] ASC
    w_fwd = (
        W.partitionBy("user_id").orderBy(F.col("hr_epoch").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    obs_e = F.when(F.col("v_cents").isNotNull(), F.col("hr_epoch"))
    ctx = (
        j.withColumn("prev_v", F.last("v_cents", ignorenulls=True).over(w_back))
        .withColumn("prev_e", F.last(obs_e, ignorenulls=True).over(w_back))
        .withColumn("next_v", F.last("v_cents", ignorenulls=True).over(w_fwd))
        .withColumn("next_e", F.last(obs_e, ignorenulls=True).over(w_fwd))
    )
    interp = (
        F.when(F.col("v_cents").isNotNull(), F.col("v_cents").cast("double"))
        .when(F.col("prev_v").isNull(), F.col("next_v").cast("double"))
        .when(F.col("next_v").isNull(), F.col("prev_v").cast("double"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.col("hr_epoch") - F.col("prev_e"))
            / (F.col("next_e") - F.col("prev_e"))
        )
    )
    return ctx.select(
        "user_id",
        "hr_epoch",
        (F.floor(interp + F.lit(0.5)).cast("long") / F.lit(100.0)).alias("v_interp"),
        F.col("v_cents").isNull().alias("is_interpolated"),
    )


@query(
    "q_window_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    islands AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, COUNT(*) AS streak_len
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           MAX(streak_len) AS longest_streak,
           COUNT(*) AS n_streaks,
           CAST(SUM(streak_len) AS BIGINT) AS n_active_days
    FROM streaks GROUP BY user_id
    """,
)
def q_window_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands window idiom (day minus row-number is constant
    within a run of consecutive days). Product analytics' second
    most-asked question after retention.

    All-integer arithmetic (epoch-day buckets, counts) — no float
    landmines. One user_id Exchange serves the distinct, the
    row-number window, and both groupBys (same key; Catalyst reuses
    the partitioning), so the whole operator is one shuffle
    end-to-end — per-user cost bounded by that user's active days at
    any scale."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn("island", F.col("day") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("streak_len").cast("long").alias("n_active_days"),
    )


CM_DEPTH, CM_WIDTH = 4, 1024


@query(
    "q_agg_countmin",
    oracle="""
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS exact_cnt,
           TRUE AS cm_lower_ok,
           TRUE AS cm_upper_ok
    FROM lineitem WHERE l_partkey < 8 GROUP BY l_partkey
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation — the third sketch tier
    beside HLL (distinct) and KLL-ish quantiles: a DEPTH×WIDTH grid of
    counters where each row increments one counter per hash row, and a
    key's estimate is the MIN over its counters. Like the HLL key,
    hash-checked via a TOLERANCE oracle: the output carries each probe
    key's exact count (cross-checked by DuckDB) plus booleans
    asserting the sketch guarantees — estimate ≥ exact (structural:
    counters only over-count) and estimate ≤ exact + 4·N/WIDTH (the
    Markov envelope at 4× the expected collision mass, raised to the
    4th power by the min over DEPTH independent rows). The oracle
    emits literal TRUE, so the hash matches iff the guarantees hold.

    Scale shape — why this is THE streaming/100 TB frequency
    structure: the sketch build explodes DEPTH cells per row but the
    groupBy collapses them map-side to at most DEPTH×WIDTH cells per
    partition, so the shuffle carries ≤ 4096 rows per task regardless
    of input size; the finished sketch is a 4096-cell table that
    BROADCASTS to probe any key set without touching the corpus
    again, and cells are sum-mergeable across shards and days
    (incremental maintenance, same as hll_union)."""
    li = load(spark, sf_dir, "lineitem")
    cell = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(F.xxhash64(F.col("l_partkey"), F.lit(i)), CM_WIDTH).alias(
                    "bucket"
                ),
            )
            for i in range(CM_DEPTH)
        ]
    )
    sketch = (
        li.select(F.explode(cell).alias("c"))
        .groupBy("c.i", "c.bucket")
        .agg(F.count("*").alias("cnt"))
    )
    total = li.agg(F.count("*").alias("n_total"))
    probes = (
        li.where(F.col("l_partkey") < 8)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("exact_cnt"))
    )
    probe_cells = probes.select(
        "l_partkey", "exact_cnt", F.explode(cell).alias("c")
    ).select("l_partkey", "exact_cnt", "c.i", "c.bucket")
    est = (
        probe_cells.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("cm_est"))
    )
    return est.join(F.broadcast(total)).select(
        "l_partkey",
        "exact_cnt",
        (F.col("cm_est") >= F.col("exact_cnt")).alias("cm_lower_ok"),
        (
            F.col("cm_est")
            <= F.col("exact_cnt") + F.ceil(4.0 * F.col("n_total") / CM_WIDTH)
        ).alias("cm_upper_ok"),
    )


FREQ_SUPPORT = 0.25


@query(
    "q_agg_freq_approx",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS exact_cnt, TRUE AS found
    FROM orders GROUP BY o_orderstatus
    HAVING COUNT(*) > {FREQ_SUPPORT} * (SELECT COUNT(*) FROM orders)
    """,
)
def q_agg_freq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent items via Spark's single-pass streaming
    sketch (``DataFrame.freqItems``, the Karp-Shenker-Papadimitriou
    counter algorithm) — the sketch tier of q_agg_heavy_hitters.
    Tolerance-oracle pattern (same as HLL/count-min): the sketch's
    GUARANTEE is that every item with frequency > support·N appears in
    its result (false positives allowed, false negatives impossible).
    The output lists the exact heavy hitters (cross-checked by DuckDB)
    with a boolean asserting the sketch found each one; the oracle
    emits literal TRUE, so the hash matches iff the guarantee holds.

    Scale shape: freqItems is one pass with a bounded counter map per
    partition (1/support counters) merged associatively — no shuffle
    of data rows, O(1/support) state per task; the exact verification
    side is one small groupBy. This sketch-then-verify pair is exactly
    how a 100 TB frequency pass runs: cheap candidates first, exact
    counts only for the candidate set."""
    o = load(spark, sf_dir, "orders")
    found_items = set(
        o.stat.freqItems(["o_orderstatus"], FREQ_SUPPORT).collect()[0][0]
    )
    total = o.agg(F.count("*").alias("n_total"))
    return (
        o.groupBy("o_orderstatus")
        .agg(F.count("*").alias("exact_cnt"))
        .join(F.broadcast(total))
        .where(F.col("exact_cnt") > FREQ_SUPPORT * F.col("n_total"))
        .select(
            "o_orderstatus",
            "exact_cnt",
            F.col("o_orderstatus").isin(sorted(found_items)).alias("found"),
        )
    )


PARAMS_SQL = f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total
    FROM orders
    WHERE o_orderdate >= :start_date AND o_orderdate < :end_date
      AND o_orderstatus = :status
    GROUP BY o_orderpriority
"""

PARAMS_BINDINGS = {
    "start_date": "1996-01-01",
    "end_date": "1997-01-01",
    "status": "F",
}


@query(
    "q_sql_params",
    oracle=PARAMS_SQL.replace(":start_date", "'1996-01-01'")
    .replace(":end_date", "'1997-01-01'")
    .replace(":status", "'F'"),
)
def q_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL — ``spark.sql(text, args=...)`` with named
    markers, the injection-safe surface every SQL client needs: the
    SAME query text serves every binding, so plan caching works and
    user values never concatenate into the statement. The oracle runs
    the text with the bindings substituted as literals, proving the
    bound plan computes literal semantics. Cents-sum money rule as in
    tpch.py."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(PARAMS_SQL, args=PARAMS_BINDINGS)


@query(
    "q_time_calendar",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(epoch(MIN(o_orderdate)) / 86400) AS BIGINT) AS lo,
             CAST(FLOOR(epoch(MAX(o_orderdate)) / 86400) AS BIGINT) AS hi
      FROM orders
    ),
    days AS (SELECT unnest(generate_series(lo, hi, 1)) AS d FROM b)
    SELECT d AS day_epoch,
           CAST((d + 4) % 7 AS BIGINT) AS dow,
           (d + 4) % 7 IN (0, 6) AS is_weekend,
           CAST(FLOOR(d / 7) AS BIGINT) AS week_no,
           strftime(DATE '1970-01-01' + CAST(d AS INTEGER), '%Y-%m-%d')
             AS iso_date,
           CAST(EXTRACT(YEAR FROM (DATE '1970-01-01' + CAST(d AS INTEGER)))
                AS BIGINT) AS year,
           CAST(EXTRACT(MONTH FROM (DATE '1970-01-01' + CAST(d AS INTEGER)))
                AS BIGINT) AS month
    FROM days
    """,
)
def q_time_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation: a gap-free day table spanning the
    fact table's date range, with day-of-week / weekend / week-number /
    year / month attributes — the dim_date every warehouse joins
    instead of re-deriving calendar math per query.

    Built DISTRIBUTED from a 1-row bounds aggregate (sequence +
    explode — never a driver-side loop, so a 200-year range is still
    one tiny job). Engine portability: dow and week come from pure
    epoch-day arithmetic ((d+4) % 7 with 0=Sunday — 1970-01-01 was a
    Thursday, so d=0 maps to 4; weekend = dow IN (0, 6) = Sun/Sat —
    both engines agree by construction, where native DOW functions
    number days differently). The oracle's date attributes use DATE
    '1970-01-01' + d arithmetic, which is TZ-FREE in DuckDB — the
    earlier to_timestamp() form was TIMESTAMPTZ and shifted a day on
    any non-UTC connection (the driver owns its own connection, so
    the oracle must not depend on connection settings). ~11k rows per
    30 years: always broadcastable to fact joins."""
    o = load(spark, sf_dir, "orders")
    bounds = o.select(
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000
        )
        .cast("long")
        .alias("d")
    ).agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(F.explode(F.expr("sequence(lo, hi, 1)")).alias("d"))
    ts = F.timestamp_seconds(F.col("d") * 86400)
    return days.select(
        F.col("d").alias("day_epoch"),
        ((F.col("d") + 4) % 7).cast("long").alias("dow"),
        ((F.col("d") + 4) % 7).isin(0, 6).alias("is_weekend"),
        F.floor(F.col("d") / 7).cast("long").alias("week_no"),
        F.date_format(ts, "yyyy-MM-dd").alias("iso_date"),
        F.year(ts).cast("long").alias("year"),
        F.month(ts).cast("long").alias("month"),
    )


# ---------------------------------------------------------------------------
# q_window_distinct_running — cumulative distinct count via first-seen rewrite
# ---------------------------------------------------------------------------


@query(
    "q_window_distinct_running",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_users
    FROM per_day ORDER BY day
    """,
)
def q_window_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count by day — COUNT(DISTINCT) OVER an
    expanding frame, which Spark (correctly) refuses to execute
    directly because the naive evaluation is O(days x users).

    The scalable rewrite: distinct-so-far == cumulative sum of
    FIRST-SEEN events. One groupBy(user) finds each user's first day,
    one groupBy(day) counts arrivals, and a cumulative window over
    the tiny per-day relation finishes. Two data shuffles total,
    both map-side-combinable, and the window runs over ~hundreds of
    rows — the pattern that turns an impossible window into a plan
    that survives 100 TB."""
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        per_day.withColumn("cum_distinct_users", F.sum("new_users").over(w))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "new_users",
            "cum_distinct_users",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_agg_histogram_eqdepth — quantile (equi-depth) binning
# ---------------------------------------------------------------------------

EQDEPTH_BUCKETS = 16


@query(
    "q_agg_histogram_eqdepth",
    oracle=f"""
    WITH priced AS (
      SELECT {cents_sql("l_extendedprice")} AS cents,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, l_orderkey, l_linenumber) - 1
               AS rk,
             (SELECT COUNT(*) FROM priced) AS n
      FROM priced
    )
    SELECT CAST(FLOOR({EQDEPTH_BUCKETS} * 1.0 * rk / n) AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
    FROM ranked GROUP BY 1 ORDER BY bucket
    """,
)
def q_agg_histogram_eqdepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram of l_extendedprice: every
    bucket holds ~1/{EQDEPTH_BUCKETS} of the rows and the bucket
    edges ARE the exact quantile boundaries — the feature-binning
    primitive (equal-population bins feed models; the equi-WIDTH
    q_agg_histogram feeds dashboards).

    Scale shape: the exact global rank comes from the distributed
    dense-rank pattern (range-partition by value → per-partition
    row_number → bounded offset join), NEVER a global window funnel;
    prices are cents-integerized so ordering and bucket edges are
    engine-exact (ties broken by PK for a total order). Production
    swaps the exact rank for approx_percentile boundaries when ±ε
    bins suffice; this operator is the exact tier."""
    li = load(spark, sf_dir, "lineitem")
    priced = li.select(
        cents("l_extendedprice").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = prefix_sum(
        priced, ["cents", "l_orderkey", "l_linenumber"], "rk", n_parts=32
    )
    return (
        ranked.select(
            F.floor(
                F.lit(float(EQDEPTH_BUCKETS)) * (F.col("rk") - 1) / F.col("_total")
            ).alias("bucket"),
            "cents",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q_time_ewma — exponentially weighted moving average (dyadic weights)
# ---------------------------------------------------------------------------

EWMA_K = 8  # lag horizon; weight for lag j is 0.5^j (exact in binary)


def _ewma_terms_sql() -> tuple[str, str]:
    nums, dens = [], []
    for j in range(EWMA_K):
        w = 0.5**j  # dyadic => exactly representable, repr() is exact
        lag = f"LAG(value, {j}) OVER w" if j else "value"
        nums.append(f"CASE WHEN {lag} IS NOT NULL THEN ({lag}) * {w!r} ELSE 0.0 END")
        dens.append(f"CASE WHEN {lag} IS NOT NULL THEN {w!r} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


@query(
    "q_time_ewma",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(value, 4) AS value,
           ROUND(({_ewma_terms_sql()[0]}) / ({_ewma_terms_sql()[1]}), 4) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_time_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's event
    values (halving weights, horizon {EWMA_K}) — the smoothing every
    metrics/monitoring series runs. The weights 0.5^j are DYADIC, so
    they are exactly representable and both engines compute
    bit-identical per-row arithmetic; missing lags at a series head
    renormalize the weight sum instead of biasing toward zero.

    Scale shape: {EWMA_K} LAG terms over ONE window partitioning =
    one Exchange on the entity key; everything else is per-row
    arithmetic in whole-stage codegen. The recursive-EWMA
    formulation (y = a·x + (1-a)·y_prev) is not window-expressible;
    the bounded-horizon form is its 2^-{EWMA_K}-accurate declarative
    equivalent and what SQL engines actually ship."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = load(spark, sf_dir, "events")
    num, den = None, None
    for j in range(EWMA_K):
        wt = 0.5**j
        lag = F.col("value") if j == 0 else F.lag("value", j).over(w)
        n_t = F.when(lag.isNotNull(), lag * F.lit(wt)).otherwise(F.lit(0.0))
        d_t = F.when(lag.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = n_t if num is None else num + n_t
        den = d_t if den is None else den + d_t
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("value"),
        F.round(num / den, 4).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# q_feature_target_enc — leave-one-out target encoding
# ---------------------------------------------------------------------------


@query(
    "q_feature_target_enc",
    oracle=f"""
    WITH c AS (
      SELECT event_id, event_type,
             {cents_sql("value")} AS cents
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS n
      FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type,
           CASE WHEN s.n > 1
                THEN CAST(FLOOR((s.total - c.cents) * 10.0 / (s.n - 1) + 0.5)
                          AS BIGINT)
                ELSE NULL END AS loo_mean_millicents_x10
    FROM c JOIN stats s USING (event_type)
    """,
)
def q_feature_target_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each event's feature is the
    mean target value of its category EXCLUDING itself — the standard
    high-cardinality categorical encoding that avoids leaking a row's
    own label into its feature.

    Exactness: values integerize to cents first, so the per-category
    sums are exact integers (order-independent — the one rule that
    matters for cross-engine SUM), and the leave-one-out mean is a
    single floor-shift division of two exact integers.

    Scale shape: one groupBy on the category (map-side partials) →
    a tiny stats table broadcast back onto the events — the category
    cardinality is orders of magnitude below the row count, so the
    encode pass is scan + broadcast-join, never a per-row window over
    the category (which would shuffle every event)."""
    e = load(spark, sf_dir, "events")
    c = e.select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    stats = c.groupBy("event_type").agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    return c.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.when(
            F.col("n") > 1,
            F.floor(
                (F.col("total") - F.col("cents")) * 10.0 / (F.col("n") - 1) + 0.5
            ).cast("long"),
        ).alias("loo_mean_millicents_x10"),
    )


# ---------------------------------------------------------------------------
# q_agg_winsorize — outlier-robust aggregation via exact percentile clamps
# ---------------------------------------------------------------------------

WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


@query(
    "q_agg_winsorize",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag,
             {cents_sql("l_extendedprice")} AS cents
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, cents,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents)
               AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
      FROM c
    ),
    bounds AS (
      SELECT l_returnflag,
             MIN(CASE WHEN rn = (cnt * {WINSOR_LO_PCT} + 99) // 100
                      THEN cents END) AS lo_c,
             MIN(CASE WHEN rn = (cnt * {WINSOR_HI_PCT} + 99) // 100
                      THEN cents END) AS hi_c,
             MIN(cnt) AS n
      FROM r
      WHERE rn IN ((cnt * {WINSOR_LO_PCT} + 99) // 100,
                   (cnt * {WINSOR_HI_PCT} + 99) // 100)
      GROUP BY l_returnflag
    ),
    agg AS (
      SELECT c.l_returnflag,
             CAST(SUM(c.cents) AS BIGINT) AS sum_raw,
             CAST(SUM(LEAST(GREATEST(c.cents, b.lo_c), b.hi_c)) AS BIGINT)
               AS sum_wins,
             MIN(b.lo_c) AS lo_c, MIN(b.hi_c) AS hi_c, MIN(b.n) AS n
      FROM c JOIN bounds b USING (l_returnflag)
      GROUP BY c.l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_items,
           CAST(lo_c AS DOUBLE) / 100.0 AS p05,
           CAST(hi_c AS DOUBLE) / 100.0 AS p95,
           {floor_round_sql("CAST(sum_raw AS DOUBLE) / n / 100.0", 4)}
             AS mean_raw,
           {floor_round_sql("CAST(sum_wins AS DOUBLE) / n / 100.0", 4)}
             AS mean_winsorized
    FROM agg
    """,
)
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized aggregation per group: exact p05/p95 by rank, values
    clamped into [p05, p95], then the robust mean — the standard
    outlier treatment before a mean-based metric ships (one fat-finger
    price no longer moves the average; compare mean_raw vs
    mean_winsorized to see the tail's leverage). Percentiles are RANK
    picks (value at ⌈n·p⌉ of the sorted group — an actual row value,
    the q_agg_median engine-neutral rule), the clamp and sums are
    integer cents, and the final means divide once in a shared double
    expression with the floor-quantize guard (float landmine (a)).

    Scale shape: one window sort per group for the rank pick (the
    exact-percentile tier; at 100 TB the cheap tier is
    approx_percentile feeding the same clamp), then one
    partial-aggregable groupBy for both sums — the bounds relation is
    groups-sized and broadcast into the clamp join."""
    li = load(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("cents"),
    )
    w = W.partitionBy("l_returnflag")
    lo_rank = (F.col("cnt") * WINSOR_LO_PCT + 99) / 100
    hi_rank = (F.col("cnt") * WINSOR_HI_PCT + 99) / 100
    r = c.select(
        "l_returnflag",
        "cents",
        F.row_number().over(w.orderBy("cents")).alias("rn"),
        F.count("*").over(w).alias("cnt"),
    )
    bounds = (
        r.where(
            (F.col("rn") == F.floor(lo_rank)) | (F.col("rn") == F.floor(hi_rank))
        )
        .groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(F.col("rn") == F.floor(lo_rank), F.col("cents"))
            ).alias("lo_c"),
            F.min(
                F.when(F.col("rn") == F.floor(hi_rank), F.col("cents"))
            ).alias("hi_c"),
            F.min("cnt").alias("n"),
        )
    )
    clipped = c.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "cents",
        F.least(F.greatest(F.col("cents"), F.col("lo_c")), F.col("hi_c")).alias(
            "wins"
        ),
        "lo_c",
        "hi_c",
        "n",
    )
    agg = clipped.groupBy("l_returnflag").agg(
        F.sum("cents").alias("sum_raw"),
        F.sum("wins").alias("sum_wins"),
        F.min("lo_c").alias("lo_c"),
        F.min("hi_c").alias("hi_c"),
        F.min("n").alias("n"),
    )

    def qmean(col: str):
        return floor_round(F.col(col).cast("double") / F.col("n") / 100.0, 4)

    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_items"),
        (F.col("lo_c").cast("double") / 100.0).alias("p05"),
        (F.col("hi_c").cast("double") / 100.0).alias("p95"),
        qmean("sum_raw").alias("mean_raw"),
        qmean("sum_wins").alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# q_window_rolling_median — exact rolling median per series
# ---------------------------------------------------------------------------

ROLLING_MEDIAN_FRAME = 6  # current row + 6 preceding = 7-row window


@query(
    "q_window_rolling_median",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           median(cents) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN {ROLLING_MEDIAN_FRAME} PRECEDING AND CURRENT ROW
           ) AS median_cents
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 {cents_sql("o_totalprice")} AS cents
          FROM orders)
    """,
)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (7-row frame per customer, ordered by
    order date) — the robust-smoothing complement of the mean-based
    rolling windows: one outlier order can drag a rolling mean
    arbitrarily but moves the median by at most one rank. Spark has
    no median window aggregate, so the frame's values collect into a
    sorted array and the middle element(s) are picked by index — the
    frame is 7 rows, so the per-row array is O(frame), not O(series),
    and the whole computation rides the ONE Exchange the window
    itself needs (same shape as q_window_running_sum).

    Cross-engine exactness: cents integerization makes the frame
    values integers; the even-count median (lo+hi)/2 is exactly
    representable in double for any two BIGINT cents values, so
    DuckDB's native ``median()`` window aggregate and the explicit
    sorted-array pick agree bit-for-bit (float landmine rules — no
    summation, no rounding boundary). The (o_orderdate, o_orderkey)
    ordering is a total order, so the frame content is deterministic."""
    o = load(spark, sf_dir, "orders")
    price_cents = cents("o_totalprice")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-ROLLING_MEDIAN_FRAME, 0)
    )
    s = F.array_sort(F.collect_list(price_cents).over(w))
    n = F.size(s)
    lo = F.element_at(s, ((n + F.lit(1)) / F.lit(2)).cast("int"))
    hi = F.element_at(s, (n / F.lit(2)).cast("int") + F.lit(1))
    return o.select(
        "o_custkey",
        "o_orderkey",
        ((lo + hi).cast("double") / F.lit(2.0)).alias("median_cents"),
    )


# ---------------------------------------------------------------------------
# q_window_rolling_corr — rolling lag-1 autocorrelation per series
# ---------------------------------------------------------------------------

CORR_WINDOW = 100
CORR_MIN_PAIRS = 10


@query(
    "q_window_rolling_corr",
    oracle=f"""
    WITH c AS (
      SELECT event_id, event_type, ts,
             {cents_sql("value")} AS x
      FROM events
    ),
    lagd AS (
      SELECT *, LAG(x) OVER w AS y FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    sums AS (
      SELECT event_id, event_type,
        CAST(COUNT(y) OVER f AS DOUBLE) AS n,
        CAST(SUM(CASE WHEN y IS NULL THEN 0 ELSE x END) OVER f AS DOUBLE) AS sx,
        CAST(SUM(CASE WHEN y IS NULL THEN 0 ELSE y END) OVER f AS DOUBLE) AS sy,
        CAST(SUM(CASE WHEN y IS NULL THEN 0 ELSE x * x END) OVER f AS DOUBLE) AS sxx,
        CAST(SUM(CASE WHEN y IS NULL THEN 0 ELSE y * y END) OVER f AS DOUBLE) AS syy,
        CAST(SUM(CASE WHEN y IS NULL THEN 0 ELSE x * y END) OVER f AS DOUBLE) AS sxy
      FROM lagd
      WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {CORR_WINDOW - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type,
           CASE WHEN n >= {CORR_MIN_PAIRS}
                 AND (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN {cents_sql(
                    "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))",
                    6,
                )}
                ELSE NULL END AS autocorr_micro
    FROM sums
    """,
)
def q_window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lag-1 autocorrelation of each event-type series over
    the trailing {CORR_WINDOW} observations — the standard regime /
    trend detector in metrics monitoring.

    Exactness discipline: values integerize to cents, so every window
    sum is an exact integer; the moment sums are then CAST TO DOUBLE
    before combination (Sx² can exceed int64 — in doubles both
    engines perform the IDENTICAL correctly-rounded operation
    sequence, and IEEE sqrt is exactly specified), and the result is
    floor-shift micro-integerized. COUNT(y) counts only real pairs,
    so series heads renormalize instead of diluting toward zero.

    Scale shape: one Exchange on the series key shared by BOTH
    windows (lag + frame sums — same partitioning and order), then
    pure per-row arithmetic; the frame is row-bounded so state per
    series is O({CORR_WINDOW})."""
    wo = W.partitionBy("event_type").orderBy("ts", "event_id")
    wf = wo.rowsBetween(-(CORR_WINDOW - 1), W.currentRow)
    e = load(spark, sf_dir, "events")
    c = e.select(
        "event_id",
        "event_type",
        "ts",
        cents("value").alias("x"),
    )
    lagd = c.withColumn("y", F.lag("x").over(wo))
    pair = lambda expr: F.when(F.col("y").isNull(), F.lit(0)).otherwise(expr)  # noqa: E731
    sums = lagd.select(
        "event_id",
        "event_type",
        F.count("y").over(wf).cast("double").alias("n"),
        F.sum(pair(F.col("x"))).over(wf).cast("double").alias("sx"),
        F.sum(pair(F.col("y"))).over(wf).cast("double").alias("sy"),
        F.sum(pair(F.col("x") * F.col("x"))).over(wf).cast("double").alias("sxx"),
        F.sum(pair(F.col("y") * F.col("y"))).over(wf).cast("double").alias("syy"),
        F.sum(pair(F.col("x") * F.col("y"))).over(wf).cast("double").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return sums.select(
        "event_id",
        "event_type",
        F.when(
            (F.col("n") >= CORR_MIN_PAIRS) & (vx * vy > 0),
            cents(cov / F.sqrt(vx * vy), 6),
        ).alias("autocorr_micro"),
    )


# ---------------------------------------------------------------------------
# q_events_transitions — behavioral transition matrix (first-order Markov)
# ---------------------------------------------------------------------------


@query(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    totals AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
      FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n,
           CAST(FLOOR(t.n * 1000000.0 / tt.row_total + 0.5) AS BIGINT)
             AS prob_micro
    FROM trans t JOIN totals tt USING (prev_type)
    ORDER BY prev_type, next_type
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event
    sequences: for every (previous event type → next event type)
    pair, the observed count and micro-integerized transition
    probability — the behavioral model behind next-action prediction
    and anomaly detection on session flows.

    Scale shape: ONE Exchange on user_id for the sequence lag, then a
    tiny (types²) aggregate with map-side partials and a broadcast of
    the per-row totals. The output is bounded by the type-vocabulary
    square regardless of corpus size — the classic
    big-data-in/small-model-out shape."""
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = load(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(wo).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.floor(F.col("n") * 1000000.0 / F.col("row_total") + 0.5)
            .cast("long")
            .alias("prob_micro"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# q_events_sequence_match — regex pattern detection over ordered journeys
# ---------------------------------------------------------------------------

# the five event types have distinct initials (view click purchase
# signup error → v c p s e), so one char per event encodes the journey
_SEQ_CONVERTED = "s[^e]*p"  # signup, then purchase with no error between
_SEQ_REPEAT = "p.*p"  # at least two purchases
_SEQ_CHURN_RISK = "e[^p]*$"  # an error never followed by a purchase

# hard per-user journey cap (round-9 ADVICE: the sessionization
# assumption was documented but unenforced — one bot user would
# concentrate an unbounded array in a single task). Only the first
# JOURNEY_MAX_EVENTS time-ordered events per user are collected;
# n_events stays the TOTAL so downstream can detect truncation
# (n_events > JOURNEY_MAX_EVENTS). Far above any organic journey at
# tested SFs (sf0.1 max ≈ tens), so parity hashes are unaffected.
JOURNEY_MAX_EVENTS = 10_000


@query(
    "q_events_sequence_match",
    oracle=f"""
    WITH r AS (
      SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS ch,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    j AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             string_agg(CASE WHEN rn <= {JOURNEY_MAX_EVENTS} THEN ch END,
                        '' ORDER BY ts, event_id) AS journey
      FROM r GROUP BY user_id
    )
    SELECT user_id, n_events, journey,
           regexp_matches(journey, '{_SEQ_CONVERTED}') AS converted,
           regexp_matches(journey, '{_SEQ_REPEAT}') AS repeat_buyer,
           regexp_matches(journey, '{_SEQ_CHURN_RISK}') AS churn_risk
    FROM j
    """,
)
def q_events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching (the MATCH_RECOGNIZE / CEP
    analog): encode each user's time-ordered journey as one character
    per event (the five event types have distinct initials) and run
    regex patterns over the encoded string — "signup converts before
    any error", "repeat buyer", "error never answered by a purchase".
    This is the full-sequence generalization of q_funnel (which tracks
    three dependent first-occurrence times) and q_events_transitions
    (which sees only adjacent pairs): a regex over the journey string
    expresses arbitrary ordered patterns with negation and
    quantifiers, the standard product-analytics escape hatch when
    funnels stop being linear.

    Determinism: the journey is built by sorting the collected
    (ts, event_id, ch) structs — (ts, event_id) is unique, so both
    engines produce the identical string (DuckDB orders inside
    string_agg). The regex dialect subset used here (char classes,
    anchors, star) behaves identically in Java regex and RE2.

    Scale shape: per-user state is HARD-BOUNDED — a row_number window
    keeps only the first JOURNEY_MAX_EVENTS time-ordered events per
    user before the collect (collect_list skips the NULLed tail), so
    a single bot user cannot concentrate an unbounded array in one
    task; n_events stays the TOTAL count so truncation is detectable
    downstream (n_events > JOURNEY_MAX_EVENTS). The window and the
    groupBy key on the same column, so the guard adds NO extra
    Exchange (the gini shared-partitioning pattern); the regex
    evaluation is a per-row projection."""
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
    )
    r = e.withColumn("rn", F.row_number().over(wo))
    j = r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= JOURNEY_MAX_EVENTS,
                            F.struct("ts", "event_id", "ch"),
                        )
                    )
                ),
                lambda s: s["ch"],
            ),
        ).alias("journey"),
    )
    return j.select(
        "user_id",
        "n_events",
        "journey",
        F.col("journey").rlike(_SEQ_CONVERTED).alias("converted"),
        F.col("journey").rlike(_SEQ_REPEAT).alias("repeat_buyer"),
        F.col("journey").rlike(_SEQ_CHURN_RISK).alias("churn_risk"),
    )


# ---------------------------------------------------------------------------
# q_agg_weighted_median — exact weighted median (integer weights)
# ---------------------------------------------------------------------------


@query(
    "q_agg_weighted_median",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag AS flag,
             {cents_sql("l_extendedprice")} AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    cum AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents, w
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM c
    )
    SELECT flag, MIN(cents) AS weighted_median_cents,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE cw * 2 >= tw GROUP BY flag ORDER BY flag
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of price per return flag, weighted by
    quantity — the robust central-tendency statistic where every unit
    sold votes, not every order line. Defined as the smallest value
    whose cumulative weight reaches half the total: integer weights
    and cents-integerized values make the definition engine-exact
    with no interpolation ambiguity.

    Scale shape: the running and total weight come from
    functions.prefix_sum per flag — below its volume gate one
    Exchange on the flag shared by both window sums, then a filter and
    a per-flag MIN; above it the distributed two-pass form."""
    c = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    cum = prefix_sum(
        c, ["cents", "w"], "cw", value="w", by="flag",
        n_rows=parquet_row_count(sf_dir, "lineitem"),
    ).withColumnRenamed("_total", "tw")
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("cents").alias("weighted_median_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# q_events_active_users — DAU / WAU rolling distinct actives
# ---------------------------------------------------------------------------

WAU_DAYS = 7


@query(
    "q_events_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - {(WAU_DAYS - 1) * 86400} AND d.day
      GROUP BY d.day
    )
    SELECT d.day, dau.dau, wau.wau
    FROM days d JOIN dau USING (day) JOIN wau USING (day)
    ORDER BY d.day
    """,
)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-{WAU_DAYS}-day WAU per day — the product
    metric pair every events pipeline serves. COUNT(DISTINCT) over a
    sliding window has no direct window form; the scalable rewrite
    dedups to (user, day) pairs ONCE, then expands each pair into the
    {WAU_DAYS} window-ends it supports and dedups per (user,
    window_end) — data volume is user-days x {WAU_DAYS}, independent
    of raw event count, and every step is a hash aggregate.

    (The oracle computes the same thing declaratively with a range
    join — fine for DuckDB at test scale, quadratic-prone at 100 TB,
    which is exactly why the explode rewrite exists.)"""
    e = load(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id", F.date_trunc("day", "ts").cast("long").alias("day")
        ).distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = ud.select("day").distinct()
    supported = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.lit((WAU_DAYS - 1) * 86400),
                    F.lit(86400),
                )
            ).alias("wend"),
        )
        .join(days.withColumnRenamed("day", "wend"), "wend")  # real days only
        .distinct()
    )
    wau = supported.groupBy(F.col("wend").alias("day")).agg(
        F.count(F.lit(1)).alias("wau")
    )
    return dau.join(wau, "day").select("day", "dau", "wau").orderBy("day")


# ---------------------------------------------------------------------------
# q_time_ohlc — bar (candlestick) aggregation per hour per event type
# ---------------------------------------------------------------------------


@query(
    "q_time_ohlc",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           FIRST(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           LAST(value ORDER BY ts, event_id) AS close,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def q_time_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar aggregation (the time-series downsampling staple):
    per hour per event type, the first/last/max/min of value. Open
    and close are SELECTIONS of a single row's value — deterministic
    across engines because the ordering key (ts, event_id) is total;
    a bare first() without the tie-break would be run-dependent.
    min_by/max_by on a (ts, event_id) struct gives the ordered
    selection in one partial-aggregable pass — no window, no sort.

    Scale shape: ONE map-side-combined groupBy on (hour, type); all
    four extrema merge associatively, so the shuffle moves one partial
    row per (partition, hour, type) — this is how you downsample a
    100 TB tick stream to bars without a global sort.

    Shares the ONE builder with the streaming twin (q_stream_ohlc),
    per the repo's batch/stream twin convention — the hash
    equivalence between the two keys is structural, not maintained by
    hand in two places."""
    from neo_olap_spark.operators.streaming import build_ohlc

    return build_ohlc(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# q_agg_bloom_filter — relational Bloom membership (the pruning sketch)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 20  # filter positions (bits)
BLOOM_SEEDS = (1, 2)  # k = 2 hash functions


def _bloom_oracle() -> str:
    """DuckDB twin: the generated xxhash64 pipelines re-derive BOTH
    hash positions for every key bit-exactly (fourth consumer of the
    cross-engine hash substrate), so the entire Bloom bitset — and
    therefore every membership verdict, false-positive included — is
    recomputed exactly, never bounded by an envelope. AS MATERIALIZED
    per the substrate landmine (a WHERE over a pipe output otherwise
    re-substitutes the ~100-level CTE chain)."""
    from neo_olap_spark.functions.xxhash_sql import xxhash64_sql

    p1 = xxhash64_sql(
        "orders", ["o_orderkey"], [("o_orderkey", "long"), ("1", "int")], "h1"
    )
    p2 = xxhash64_sql(
        f"({p1})", ["o_orderkey", "h1"], [("o_orderkey", "long"), ("2", "int")], "h2"
    )
    m = BLOOM_M
    return f"""
    WITH base AS MATERIALIZED ({p2}),
    keyed AS (
      SELECT o_orderkey,
             CAST(((h1 % {m}) + {m}) % {m} AS BIGINT) AS p1,
             CAST(((h2 % {m}) + {m}) % {m} AS BIGINT) AS p2
      FROM base
    ),
    bits AS MATERIALIZED (
      SELECT DISTINCT pos FROM (
        SELECT p1 AS pos FROM keyed WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT p2 FROM keyed WHERE o_orderkey % 2 = 0
      )
    ),
    probe AS (
      SELECT k.o_orderkey,
             (k.p1 IN (SELECT pos FROM bits))
               AND (k.p2 IN (SELECT pos FROM bits)) AS pass
      FROM keyed k
    ),
    agg AS (
      SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
               AS n_members,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
               AS n_nonmembers,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0 AND NOT pass)
                  AS BIGINT) AS fn_count,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 1 AND pass)
                  AS BIGINT) AS fp_count,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
      FROM probe
    )
    SELECT n_members, n_nonmembers, fn_count, fp_count, n_bits_set,
           CAST(CASE WHEN n_nonmembers > 0
                     THEN (fp_count * 1000000) // n_nonmembers END AS BIGINT)
             AS fp_ppm
    FROM agg
    """


@query("q_agg_bloom_filter", oracle=_bloom_oracle())
def q_agg_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership — the PRUNING sketch completing the
    approximate tier next to q_agg_hll (cardinality), q_agg_countmin
    (frequency), and q_agg_bitmap_distinct (exact bitmap): build a
    2-hash, 2^20-position Bloom set over the even order keys, probe
    EVERY key through it, and report the membership ledger — member
    count, non-member count, false negatives (structurally zero — the
    defining Bloom guarantee, computed rather than assumed), observed
    false positives, bits set, and the fp rate in ppm. This is the
    data-skipping primitive behind join pruning (the runtime_bloom
    optimizer rule builds exactly this to prune the probe side) and
    partition-level skip indexes.

    Relational formulation: positions are pmod(xxhash64(key, seed),
    m) — no opaque binary sketch crosses the engine boundary; the
    "bitset" is the DISTINCT position set, which is BOUNDED BY m
    (2^20) regardless of row count, so it broadcasts, and the probe
    is two BROADCAST HASH JOINS against it — O(1) per row. (The first
    cut broadcast the set as one sorted array and probed with
    array_contains, which is a LINEAR scan per row: 150k rows ×
    ~140k-element array measured 41 s at sf0.1, exponent 0.85 — the
    10× soak caught it; the hash-join probe is the scale shape.)
    Build side scans with the member filter pushed down; probe side
    is one partial-aggregable pass. Engine-exact end to end: the
    DuckDB twin re-derives both hash positions per key via the
    generated xxhash64 SQL pipelines, so even the false-positive
    COUNT hash-matches — no recall floor, no envelope.

    Scale: at 100 TB the position set stays ≤ m entries (~8 MB
    broadcast at full saturation); size m to the member cardinality
    (here 2^20 over ~75k members at sf0.1 → ~14% load, fp ≈ 2%)."""
    m = BLOOM_M
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.pmod(F.xxhash64("o_orderkey", F.lit(BLOOM_SEEDS[0])), F.lit(m))
        .cast("long")
        .alias("p1"),
        F.pmod(F.xxhash64("o_orderkey", F.lit(BLOOM_SEEDS[1])), F.lit(m))
        .cast("long")
        .alias("p2"),
    )
    members = o.where(F.col("o_orderkey") % 2 == 0)
    bits = (
        members.select(F.explode(F.array("p1", "p2")).alias("pos"))
        .distinct()
        # the position set feeds THREE consumers (both probe joins and
        # the bit count) — checkpoint it so the build runs once (the
        # shared-subtree rule, r9)
        .localCheckpoint()
    )
    nb = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    b1 = bits.select(F.col("pos").alias("p1"), F.lit(True).alias("hit1"))
    b2 = bits.select(F.col("pos").alias("p2"), F.lit(True).alias("hit2"))
    probe = (
        o.join(F.broadcast(b1), "p1", "left")
        .join(F.broadcast(b2), "p2", "left")
        .select(
            "o_orderkey",
            (
                F.coalesce("hit1", F.lit(False))
                & F.coalesce("hit2", F.lit(False))
            ).alias("pass"),
        )
    )
    is_member = F.col("o_orderkey") % 2 == 0
    agg = probe.agg(
        F.count(F.when(is_member, 1)).cast("long").alias("n_members"),
        F.count(F.when(~is_member, 1)).cast("long").alias("n_nonmembers"),
        F.count(F.when(is_member & ~F.col("pass"), 1))
        .cast("long")
        .alias("fn_count"),
        F.count(F.when(~is_member & F.col("pass"), 1))
        .cast("long")
        .alias("fp_count"),
    ).crossJoin(F.broadcast(nb))
    return agg.selectExpr(
        "n_members",
        "n_nonmembers",
        "fn_count",
        "fp_count",
        "n_bits_set",
        # shared zero-divisor NULL contract (the q_quality_ks CASE rule)
        "CAST(CASE WHEN n_nonmembers > 0 "
        "THEN (fp_count * 1000000) div n_nonmembers END AS BIGINT) AS fp_ppm",
    )


# ---------------------------------------------------------------------------
# q_agg_regression — least-squares trend fit from exact moment sums
# ---------------------------------------------------------------------------

# shared expression tails (the _corr_micro_expr discipline): every
# moment is a double column cast ONCE from an exact 128-bit integer
# sum; both engines parse the identical tree. vx = n·Sxx − Sx² (the
# scaled x-variance) guards the degenerate constant-x group.
_REG_VX = "(n * sxx - sx * sx)"
_REG_COV = "(n * sxy - sx * sy)"
_REG_VY = "(n * syy - sy * sy)"
_REG_SLOPE = (
    f"CASE WHEN {_REG_VX} > 0 THEN "
    f"{cents_sql(f'{_REG_COV} / {_REG_VX}', 6)} END"
)
_REG_INTERCEPT = (
    f"CASE WHEN {_REG_VX} > 0 THEN "
    f"{cents_sql(f'(sy * {_REG_VX} - {_REG_COV} * sx) / (n * {_REG_VX})', 6)} END"
)
_REG_R2 = (
    f"CASE WHEN {_REG_VX} * {_REG_VY} > 0 THEN "
    f"{cents_sql(f'{_REG_COV} * {_REG_COV} / ({_REG_VX} * {_REG_VY})', 6)} END"
)


@query(
    "q_agg_regression",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS x,
             {cents_sql("l_extendedprice")} AS y
      FROM lineitem
    ),
    m AS (
      SELECT flag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS DOUBLE) AS sxy,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM c GROUP BY flag
    )
    SELECT flag, n_rows,
           {_REG_SLOPE} AS slope_micro,
           {_REG_INTERCEPT} AS intercept_micro,
           {_REG_R2} AS r2_micro
    FROM m
    """,
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares linear regression as an AGGREGATE (the ANSI
    regr_slope / regr_intercept / regr_r2 family): fit price-cents on
    quantity per return flag — the trend-fit step after
    q_agg_corr_matrix's multicollinearity screen, and the one-pass
    distributed form of the per-group OLS that q_udf_grouped_ols
    computes in Python (this key is its JVM-side cross-check: same
    moments, no Python). Built-in regr_* aggregates accumulate doubles
    in partition order — engine-divergent — so this computes the SAME
    statistics from exact integer moment sums instead: one
    partial-aggregable groupBy collecting n/Sx/Sy/Sxx/Syy/Sxy in
    128-bit (the q_agg_skew_kurtosis overflow rule: y² reaches 1e14
    per row), each cast to double ONCE inside shared expression
    strings (slope / intercept / r2, micro-quantized, zero-variance
    CASE guards).

    Scale shape: map-side partials under a single Exchange; output is
    flag-cardinality rows."""
    c = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        cents("l_extendedprice").alias("y"),
    )
    dec = "decimal(38,0)"
    m = c.groupBy("flag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).cast("double").alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).cast("double").alias("syy"),
        F.sum((F.col("x").cast(dec) * F.col("y"))).cast("double").alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return m.select(
        "flag",
        "n_rows",
        F.expr(_REG_SLOPE).alias("slope_micro"),
        F.expr(_REG_INTERCEPT).alias("intercept_micro"),
        F.expr(_REG_R2).alias("r2_micro"),
    )


# ---------------------------------------------------------------------------
# q_agg_gini — Gini inequality coefficient, all-integer exact
# ---------------------------------------------------------------------------


@query(
    "q_agg_gini",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS prio,
             {cents_sql("o_totalprice")} AS cents,
             o_orderkey
      FROM orders
    ),
    r AS (
      SELECT prio, cents,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY prio ORDER BY cents, o_orderkey
             ) AS HUGEINT) AS i
      FROM c
    ),
    m AS (
      SELECT prio,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(cents) AS HUGEINT) AS s,
             CAST(SUM(i * cents) AS HUGEINT) AS t
      FROM r GROUP BY prio
    )
    SELECT prio,
           CAST(n AS BIGINT) AS n_orders,
           CAST(CASE WHEN n * s > 0
                THEN ((2 * t - (n + 1) * s) * 1000000) // (n * s)
           END AS BIGINT) AS gini_ppm
    FROM m
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality coefficient per order priority — the
    concentration audit next to q_skew_profile's top-key diagnostics:
    G close to 0 means spend spreads evenly across orders, close to 1
    means a few orders carry the segment (the metric behind
    revenue-concentration and data-volume-fairness checks). Sorted
    formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over values ranked
    ascending — ALL INTEGER end to end: cents values, a row_number
    rank (orderkey tie-break makes it total), 128-bit sums, and an
    integer-division ppm output. NO float ever crosses the engine
    boundary (the q_quality_ks discipline; the zero-divisor CASE is
    the shared ANSI-div-vs-DuckDB-NULL guard).

    Scale shape: the rank comes from functions.prefix_sum per
    priority (value 1). Below its volume gate the rank window and the
    groupBy on the SAME key reuse one hashpartitioning — ONE Exchange
    total (plan-pinned); above it the distributed two-pass form.
    Output is priority-cardinality rows."""
    c = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        cents("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    dec = "decimal(38,0)"
    r = prefix_sum(
        c, ["cents", "o_orderkey"], "i", by="prio",
        n_rows=parquet_row_count(sf_dir, "orders"),
    ).withColumn("i", F.col("i").cast(dec))
    m = r.groupBy("prio").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("t"),
    )
    return m.select(
        "prio",
        F.col("n").cast("long").alias("n_orders"),
        F.expr(
            "CAST(CASE WHEN n * s > 0 "
            "THEN ((2 * t - (n + 1) * s) * 1000000) div (n * s) "
            "END AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# q_agg_pareto — ABC / 80-20 concentration cut (gini's actionable twin)
# ---------------------------------------------------------------------------

PARETO_PCT = 80  # the classic 80% revenue line


@query(
    "q_agg_pareto",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS prio,
             {cents_sql("o_totalprice")} AS cents,
             o_orderkey
      FROM orders
    ),
    r AS (
      SELECT prio, cents,
             CAST(SUM(cents) OVER (
               PARTITION BY prio ORDER BY cents DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS HUGEINT) AS cum,
             CAST(SUM(cents) OVER (PARTITION BY prio) AS HUGEINT) AS s
      FROM c
    ),
    m AS (
      SELECT prio,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(COUNT(*) FILTER (
               WHERE (cum - cents) * 100 < s * {PARETO_PCT}
             ) AS HUGEINT) AS n_top,
             CAST(COALESCE(SUM(cents) FILTER (
               WHERE (cum - cents) * 100 < s * {PARETO_PCT}
             ), 0) AS HUGEINT) AS top_cents,
             CAST(MIN(s) AS HUGEINT) AS s
      FROM r GROUP BY prio
    )
    SELECT prio,
           CAST(n AS BIGINT) AS n_orders,
           CAST(n_top AS BIGINT) AS n_top,
           CAST(CASE WHEN n > 0 THEN (n_top * 10000) // n END AS BIGINT)
             AS top_share_bp,
           CAST(CASE WHEN s > 0 THEN (top_cents * 1000000) // s END AS BIGINT)
             AS top_revenue_ppm
    FROM m
    """,
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC concentration cut per segment — q_agg_gini's
    ACTIONABLE twin: instead of one inequality scalar, report the
    smallest top set of orders (ranked by value descending) that
    carries 80% of the segment's revenue, as a count, a share of rows
    in basis points, and its exact revenue share in ppm. This is the
    ABC-classification query behind inventory tiering, customer-book
    concentration reviews, and storage-tiering decisions (which keys
    earn the hot tier).

    Exactness: the cut is decided per row by integer cross-
    multiplication — a row is in the top set iff the revenue
    accumulated STRICTLY BEFORE it is below the 80% line
    ((cum − cents)·100 < s·80) — so the set is the minimal prefix
    reaching the line under the (cents DESC, orderkey) total order;
    cumulative and total sums ride in 128-bit, outputs are integer
    divisions. NO float crosses the engine boundary (the KS/gini
    discipline).

    Scale shape: the running and total revenue come from
    functions.prefix_sum per segment over the same (cents DESC,
    orderkey) order. Below its volume gate both windows and the final
    groupBy key on the segment and share ONE Exchange (the gini
    reuse, plan-pinned); above it the distributed two-pass form.
    Output is segment-cardinality rows."""
    c = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        cents("o_totalprice").alias("cents"),
        "o_orderkey",
    )
    dec = "decimal(38,0)"
    r = prefix_sum(
        c, [F.col("cents").desc(), "o_orderkey"], "cum",
        value=F.col("cents").cast(dec), by="prio",
        n_rows=parquet_row_count(sf_dir, "orders"),
    ).withColumnRenamed("_total", "s")
    in_top = (F.col("cum") - F.col("cents")) * 100 < F.col("s") * PARETO_PCT
    m = r.groupBy("prio").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.when(in_top, 1).otherwise(0)).cast(dec).alias("n_top"),
        F.coalesce(
            F.sum(F.when(in_top, F.col("cents").cast(dec))), F.lit(0).cast(dec)
        ).alias("top_cents"),
        F.min("s").alias("s"),
    )
    return m.select(
        "prio",
        F.col("n").cast("long").alias("n_orders"),
        F.col("n_top").cast("long").alias("n_top"),
        F.expr(
            "CAST(CASE WHEN n > 0 THEN (n_top * 10000) div n END AS BIGINT)"
        ).alias("top_share_bp"),
        F.expr(
            "CAST(CASE WHEN s > 0 THEN (top_cents * 1000000) div s END "
            "AS BIGINT)"
        ).alias("top_revenue_ppm"),
    )


# ---------------------------------------------------------------------------
# q_feature_hashing — hashing-trick feature bucketing (feature family)
# ---------------------------------------------------------------------------

FEATURE_HASH_BUCKETS = 256


def _feature_hashing_oracle() -> str:
    """DuckDB twin: both hashes (bucket + sign) re-derived bit-exactly
    via the xxhash64 SQL substrate (sixth consumer) — the bucket hash
    is one string kernel from seed 42 (mirroring F.xxhash64(feat)),
    the sign hash chains int-tag 1 then the string (mirroring
    F.xxhash64(lit(1), feat)), so every collision and every sign
    lands identically. AS MATERIALIZED per the substrate landmine."""
    from neo_olap_spark.functions.xxhash_sql import SPARK_SEED, XXPipe

    p1 = XXPipe(["feat"])
    h1 = p1.hash_str("feat", SPARK_SEED)
    sql1 = p1.sql("feats", "h1", p1.signed(h1))

    p2 = XXPipe(["feat", "h1"])
    h2 = p2.hash_int("1", SPARK_SEED)
    h2 = p2.hash_str("feat", h2)
    sql2 = p2.sql(f"({sql1})", "h2", p2.signed(h2))

    m = FEATURE_HASH_BUCKETS
    return f"""
    WITH feats AS (
      SELECT 'brand=' || p_brand AS feat FROM part
      UNION ALL SELECT 'type=' || p_type FROM part
      UNION ALL SELECT 'size=' || CAST(p_size AS VARCHAR) FROM part
    ),
    base AS MATERIALIZED ({sql2})
    SELECT CAST(((h1 % {m}) + {m}) % {m} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(COUNT(DISTINCT feat) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN ((h2 % 2) + 2) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS coef
    FROM base GROUP BY 1
    """


@query("q_feature_hashing", oracle=_feature_hashing_oracle())
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature bucketing (the sklearn HashingVectorizer /
    Vowpal-Wabbit encoder): categorical features map to a FIXED
    {FEATURE_HASH_BUCKETS}-bucket space via a hash, with a second,
    independent hash choosing each feature's ±1 sign so colliding
    features cancel in expectation instead of biasing the bucket — the
    standard way a training pipeline encodes unbounded-vocabulary
    categoricals without building (or shipping) a dictionary.

    Per bucket: occupancy, distinct colliding features, and the signed
    accumulation. Both hashes are Spark's xxhash64 (bucket = plain
    hash of the feature string; sign = hash of int-tag 1 then the
    string — two independent functions from one kernel), re-derived
    bit-exactly in DuckDB by the substrate, so the oracle pins every
    collision, not an envelope.

    Scale shape: features unpivot map-side (one scan of three pruned
    columns), hash + sign are per-row JVM expressions, and the only
    shuffle is a map-side-combined groupBy into ≤{FEATURE_HASH_BUCKETS}
    partials — output bounded by the bucket count regardless of corpus
    size. No dictionary, no vocabulary shuffle, no driver state: the
    defining property of the hashing trick at 100 TB."""
    p = load(spark, sf_dir, "part")
    feats = p.select(
        F.explode(
            F.array(
                F.concat(F.lit("brand="), F.col("p_brand")),
                F.concat(F.lit("type="), F.col("p_type")),
                F.concat(F.lit("size="), F.col("p_size").cast("string")),
            )
        ).alias("feat")
    )
    m = FEATURE_HASH_BUCKETS
    sign = F.when(F.pmod(F.xxhash64(F.lit(1), F.col("feat")), 2) == 0, 1).otherwise(-1)
    return (
        feats.select(
            F.pmod(F.xxhash64(F.col("feat")), m).cast("long").alias("bucket"),
            F.col("feat"),
            sign.alias("sign"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.countDistinct("feat").alias("n_distinct"),
            F.sum("sign").cast("long").alias("coef"),
        )
    )


# ---------------------------------------------------------------------------
# q_sql_recursive — recursive CTE (SQL-surface family)
# ---------------------------------------------------------------------------

RECURSIVE_ROOT_CAP = 5000  # anchor slice: orderkeys below this walk up

# Shared query text: a deterministic division-tree hierarchy walk
# (parent(k) = k div 10, a terminating integer hierarchy over the
# SPARSE orderkey domain — a parent only continues the chain when it
# actually exists in orders, exactly like an org chart with missing
# managers). Each recursion level is one join against orders; per
# node the walk carries the accumulated cents along the chain.
_RECURSIVE_SQL = f"""
WITH RECURSIVE chain AS (
  SELECT o_orderkey AS node, o_orderkey AS cur, 0 AS depth,
         {cents_sql("o_totalprice")} AS path_cents
  FROM orders WHERE o_orderkey < {RECURSIVE_ROOT_CAP}
  UNION ALL
  SELECT c.node, o.o_orderkey, c.depth + 1,
         c.path_cents + {cents_sql("o.o_totalprice")}
  FROM chain c JOIN orders o ON o.o_orderkey = c.cur {{div}} 10
  WHERE c.cur >= 10
),
tops AS (
  SELECT node, cur AS top_ancestor, depth AS chain_len, path_cents,
         ROW_NUMBER() OVER (PARTITION BY node ORDER BY depth DESC) AS rn
  FROM chain
)
SELECT node, top_ancestor, CAST(chain_len AS BIGINT) AS chain_len, path_cents
FROM tops WHERE rn = 1
"""


@query("q_sql_recursive", oracle=_RECURSIVE_SQL.format(div="//"))
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE) — the SQL-surface
    hierarchy walk every warehouse client eventually needs (org
    charts, BOM explosion, folder trees): each order walks its
    division-tree ancestor chain (parent = orderkey div 10) as far as
    ancestors EXIST in the sparse orderkey domain, accumulating cents
    along the path; per node the deepest row is reported (top
    ancestor, chain length, path total).

    Same query text both engines (only the integer-division operator
    differs: Spark ``div``, DuckDB ``//``); all arithmetic is exact
    integers, and the per-node cut is a total-ordered row_number (depth
    is unique within a node's chain). Termination is structural — the
    cursor strictly shrinks by 10× per level, so depth ≤ log10(cap) —
    and the WHERE cur >= 10 guard stops the recursion before div
    reaches 0 on every branch.

    Scale shape: Spark executes each recursion level as ONE join of
    the (shrinking) frontier against orders — identical to the
    repo's iterative-loop operators (bfs/sssp) but declared in pure
    SQL text; the frontier shrinks geometrically, the orders side
    prunes to two scanned columns, and no level ever funnels to the
    driver. The anchor cap keeps the demo slice bounded; production
    hierarchies replace it with the root predicate."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_RECURSIVE_SQL.format(div="div"))


# ---------------------------------------------------------------------------
# q_sql_pipe — SQL pipe syntax (SQL-surface family)
# ---------------------------------------------------------------------------

_PIPE_SQL = f"""
FROM orders
|> WHERE o_orderstatus = 'F'
|> EXTEND {cents_sql("o_totalprice")} AS cents
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(MIN(o_orderkey) AS BIGINT) AS first_key
   GROUP BY o_orderpriority
|> EXTEND CAST(sum_cents div n_orders AS BIGINT) AS avg_cents
|> ORDER BY o_orderpriority
"""


@query(
    "q_sql_pipe",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT)
             AS sum_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
           CAST(SUM({cents_sql("o_totalprice")})
                // COUNT(*) AS BIGINT) AS avg_cents
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.1 ``|>`` operators, the linear
    FROM-first dialect): scan |> WHERE |> EXTEND |> AGGREGATE ...
    GROUP BY |> EXTEND |> ORDER BY — each stage reads top-to-bottom in
    execution order, the ergonomics modern SQL clients are adopting.
    The oracle is the equivalent CLASSIC query (DuckDB has no pipe
    dialect), so the hash match proves the pipe plan computes exactly
    the nested-SELECT semantics.

    Catalyst lowers the pipe stages to the same logical plan as the
    classic form — the filter still reaches the parquet scan, the
    aggregate still map-side combines — so the dialect costs nothing
    at 100 TB (pinned by test_sql_pipe_lowers_to_classic_plan).
    Integer cents per the repo money rule; avg via ANSI ``div``
    (integer division, total-order-free)."""
    from neo_olap_spark.tables import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_PIPE_SQL)


# ---------------------------------------------------------------------------
# q_time_seasonal — trend/seasonal/residual decomposition (time family)
# ---------------------------------------------------------------------------

SEASONAL_TREND_HALF = 3  # 7-day centered rolling-mean trend window


def _seasonal_oracle() -> str:
    trend = trunc_div_sql("fs", "fc", "//")
    seas = trunc_div_sql("SUM(detr)", "COUNT(*)", "//")
    return f"""
    WITH c AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             {cents_sql("value")} AS cents0
      FROM events WHERE value IS NOT NULL
    ),
    daily AS (
      SELECT event_type, day, CAST(SUM(cents0) AS BIGINT) AS cents
      FROM c GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, cents,
             CAST(SUM(cents) OVER w AS BIGINT) AS fs,
             CAST(COUNT(*) OVER w AS BIGINT) AS fc
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {SEASONAL_TREND_HALF} PRECEDING
                            AND {SEASONAL_TREND_HALF} FOLLOWING)
    ),
    dt AS (
      SELECT event_type, day, cents, {trend} AS trend_q,
             cents - {trend} AS detr
      FROM tr
    ),
    se AS (
      SELECT event_type, (day + 4) % 7 AS dow, {seas} AS seasonal_q
      FROM dt GROUP BY 1, 2
    )
    SELECT dt.event_type, dt.day, dt.cents, dt.trend_q,
           se.seasonal_q, dt.detr - se.seasonal_q AS residual_q
    FROM dt JOIN se ON se.event_type = dt.event_type
                   AND se.dow = (dt.day + 4) % 7
    """


@query("q_time_seasonal", oracle=_seasonal_oracle())
def q_time_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend / seasonal / residual decomposition (STL-lite) of each
    event type's daily revenue series — the decomposition a
    forecasting or anomaly pipeline runs before modeling: trend as a
    7-day centered rolling mean over observed days, day-of-week
    seasonal as the mean of the detrended values per weekday, residual
    as what's left. Completes the time family next to downsample /
    interpolate / gap_fill / ewma / ohlc.

    Exactness: daily totals are integer cents; BOTH means are integer
    divisions truncated toward zero via the shared
    negate-divide-negate form (DuckDB // floors, Spark div truncates —
    the form agrees under either), so every output column is an exact
    BIGINT; dow = (epoch_day + 4) % 7 on non-negative days (the
    q_time_calendar rule).

    Scale shape: one fact groupBy to the day-bounded daily table, one
    series-keyed window, one (type, dow)-bounded aggregate broadcast
    back; the detrended table feeds BOTH the seasonal aggregate and
    the final join — localCheckpointed (shared-subtree rule; it is
    day-bounded, not corpus-sized)."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
            cents("value").alias("cents0"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents0").cast("long").alias("cents"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-SEASONAL_TREND_HALF, SEASONAL_TREND_HALF)
    )
    tr = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("fs"),
        F.count(F.lit(1)).over(w).cast("long").alias("fc"),
    )
    trend = trunc_div_sql("fs", "fc", "div")
    dt = tr.selectExpr(
        "event_type",
        "day",
        "cents",
        f"{trend} AS trend_q",
        f"cents - {trend} AS detr",
    ).localCheckpoint()  # feeds the seasonal aggregate AND the final join
    se = (
        dt.groupBy("event_type", ((F.col("day") + 4) % 7).alias("dow"))
        .agg(F.sum("detr").alias("sdetr"), F.count(F.lit(1)).alias("ndetr"))
        .selectExpr(
            "event_type",
            "dow",
            f"{trunc_div_sql('sdetr', 'ndetr', 'div')} AS seasonal_q",
        )
    )
    return (
        dt.withColumn("dow", (F.col("day") + 4) % 7)
        .join(F.broadcast(se), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "cents",
            "trend_q",
            "seasonal_q",
            (F.col("detr") - F.col("seasonal_q")).alias("residual_q"),
        )
    )


# ---------------------------------------------------------------------------
# q_anomaly_cusum — CUSUM level-shift (changepoint) detection
# ---------------------------------------------------------------------------

CUSUM_THRESH_CENTS = 50_000  # mean |cumulative deviation| flag level


@query(
    "q_anomaly_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({cents_sql("value")}) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, day, cents,
             CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS prefix,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS t,
             CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT)
               AS total,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_days
      FROM daily
    ),
    dev AS (
      SELECT event_type, day, n_days,
             n_days * prefix - t * total AS cum_dev_xn
      FROM c
    )
    SELECT event_type,
           CAST(MIN(day) FILTER (WHERE ABS(cum_dev_xn) = mx) AS BIGINT)
             AS cp_day,
           CAST(ANY_VALUE(mx) AS BIGINT) AS max_absdev_xn,
           CAST(ANY_VALUE(n_days) AS BIGINT) AS n_days,
           ANY_VALUE(mx) > {CUSUM_THRESH_CENTS} * ANY_VALUE(n_days)
             AS level_shift
    FROM (SELECT *, MAX(ABS(cum_dev_xn)) OVER (PARTITION BY event_type)
                      AS mx FROM dev)
    GROUP BY event_type
    """,
)
def q_anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event series — the LEVEL-SHIFT
    monitor completing the anomaly tier: q_anomaly_zscore/q_anomaly_mad
    flag POINT outliers and q_quality_psi/ks flag DISTRIBUTION drift,
    but a step change in the daily mean (a deploy, a pricing change, a
    silent partial outage) is exactly what the classic CUSUM statistic
    C_t = Σ_{{i<=t}} (x_i − μ) localizes: |C_t| peaks AT the
    changepoint. Reported per series: the argmax day, the peak
    magnitude, and a threshold flag.

    Exactness: μ = total/n never divides — the statistic is carried
    CROSS-MULTIPLIED as n·prefix_t − t·total (exact BIGINTs; daily
    cents ≤1e9, n ≤1e5 → <1e14, far under int64), the argmax tie-break
    is the smallest day, and the flag compares n-scaled magnitudes
    (peak > THRESH·n both sides — no division anywhere).

    Scale shape: one fact-groupBy Exchange to the day-bounded daily
    table, then ONE series-keyed Exchange serving the prefix-sum
    window, the per-series total/count windows, the peak window, AND
    the final per-series aggregate (all partition on event_type — the
    gini shared-partitioning pattern; exactly two Exchanges total,
    plan-pinned); output is one row per series."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
            cents("value").alias("cents0"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents0").cast("long").alias("cents"))
    )
    wo = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wp = W.partitionBy("event_type")
    dev = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wp).cast("long").alias("n_days"),
        (
            F.count(F.lit(1)).over(wp) * F.sum("cents").over(wo)
            - F.row_number().over(W.partitionBy("event_type").orderBy("day"))
            * F.sum("cents").over(wp)
        ).cast("long").alias("cum_dev_xn"),
    )
    peak = dev.withColumn(
        "mx", F.max(F.abs(F.col("cum_dev_xn"))).over(wp)
    )
    return (
        peak.groupBy("event_type")
        .agg(
            F.min(
                F.when(F.abs(F.col("cum_dev_xn")) == F.col("mx"), F.col("day"))
            ).alias("cp_day"),
            F.first("mx").cast("long").alias("max_absdev_xn"),
            F.first("n_days").cast("long").alias("n_days"),
        )
        .select(
            "event_type",
            "cp_day",
            "max_absdev_xn",
            "n_days",
            (
                F.col("max_absdev_xn") > CUSUM_THRESH_CENTS * F.col("n_days")
            ).alias("level_shift"),
        )
    )


# ---------------------------------------------------------------------------
# q_events_rfm — RFM quintile segmentation (recency / frequency / monetary)
# ---------------------------------------------------------------------------

RFM_NTILES = 5


@query(
    "q_events_rfm",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(MAX(FLOOR(epoch(o_orderdate) / 86400)) AS BIGINT) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT CAST(MAX(last_day) AS BIGINT) AS max_day FROM cust),
    scored AS (
      SELECT c_mktsegment,
             CAST(max_day - last_day AS BIGINT) AS recency_days,
             frequency, monetary_cents, o_custkey,
             CAST(NTILE({RFM_NTILES}) OVER (PARTITION BY c_mktsegment
                    ORDER BY max_day - last_day, o_custkey) AS BIGINT) AS r_q,
             CAST(NTILE({RFM_NTILES}) OVER (PARTITION BY c_mktsegment
                    ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_q,
             CAST(NTILE({RFM_NTILES}) OVER (PARTITION BY c_mktsegment
                    ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_q
      FROM cust
      JOIN customer ON o_custkey = c_custkey
      CROSS JOIN anchor
    )
    SELECT c_mktsegment, r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS monetary_cents,
           CAST(MIN(recency_days) AS BIGINT) AS best_recency_days
    FROM scored
    GROUP BY c_mktsegment, r_q, f_q, m_q
    """,
)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM / growth-analytics cut: each
    customer scored by Recency (days since last order, anchored on the
    feed's own max order day — never wall-clock, the freshness-key
    rule), Frequency (order count), and Monetary (exact lifetime
    cents), each bucketed into quintiles WITHIN the customer's market
    segment, then rolled up to segment×(R,F,M) cell counts. Quintile 1
    is best on every axis ((1,1,1) = champions, (5,5,5) = lost).

    Exactness: money is integer cents (money_sum rule), recency is an
    integer day difference, and every NTILE rides a TOTAL order
    (metric, then custkey) so bucket boundaries are engine-identical.

    Scale shape: one fact groupBy(o_custkey) Exchange builds the
    per-customer triple, localCheckpointed because it feeds BOTH the
    anchor scalar and the join (the shared-subtree rule);
    the customer dimension joins on the SAME key;
    then ONE segment-keyed Exchange serves all three NTILE windows
    (same partitionBy, three sort orders — the gini shared-Exchange
    discipline); the final rollup is a map-side-combined aggregate
    over the ≤ |segments|·{RFM_NTILES}³ cell domain. Per-segment
    windows bound the sort partitions the way q_agg_gini's do; at
    extreme customer cardinality swap the NTILE for pre-aggregated
    exact-percentile breakpoints (q_agg_percentile_exact's shape)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.floor(F.col("o_orderdate").cast("timestamp").cast("long") / 86400))
            .cast("long")
            .alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .localCheckpoint()  # feeds the anchor scalar AND the join
    )
    anchor = cust.agg(F.max("last_day").alias("max_day"))
    seg = W.partitionBy("c_mktsegment")
    scored = (
        cust.join(c, cust.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_mktsegment",
            (F.col("max_day") - F.col("last_day")).cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
            "o_custkey",
        )
        .select(
            "c_mktsegment",
            "recency_days",
            "monetary_cents",
            F.ntile(RFM_NTILES)
            .over(seg.orderBy("recency_days", "o_custkey"))
            .cast("long")
            .alias("r_q"),
            F.ntile(RFM_NTILES)
            .over(seg.orderBy(F.col("frequency").desc(), "o_custkey"))
            .cast("long")
            .alias("f_q"),
            F.ntile(RFM_NTILES)
            .over(seg.orderBy(F.col("monetary_cents").desc(), "o_custkey"))
            .cast("long")
            .alias("m_q"),
        )
    )
    return scored.groupBy("c_mktsegment", "r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("monetary_cents"),
        F.min("recency_days").cast("long").alias("best_recency_days"),
    )


# ---------------------------------------------------------------------------
# q_time_acf — autocorrelation function per series (lags 1..7)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7

_ACF_CORR = _corr_micro_expr("sx", "sy", "sxx", "syy", "sxy")


@query(
    "q_time_acf",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(SUM({cents_sql("value")}) AS BIGINT)
               AS cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, cents AS y,
             {", ".join(f"LAG(cents, {L}) OVER w AS x{L}" for L in range(1, ACF_MAX_LAG + 1))}
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    pairs AS (
      {" UNION ALL ".join(
        f"SELECT event_type, CAST({L} AS BIGINT) AS lag, x{L} AS x, y "
        f"FROM lagged WHERE x{L} IS NOT NULL"
        for L in range(1, ACF_MAX_LAG + 1)
      )}
    ),
    s AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
           {_ACF_CORR} AS acf_micro
    FROM s
    """,
)
def q_time_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per event series, lags 1..7
    (ACF_MAX_LAG) — the seasonality/persistence diagnostic that tells
    a forecaster WHICH structure the series carries (a lag-7 peak =
    weekly cycle, slow decay = trend) before q_time_seasonal commits
    to a period; complements q_window_rolling_corr (local lag-1 in a
    moving window) with the series-global view at every lag. ACF here
    is the sample Pearson correlation of (x_t, x_(t+L)) over observed
    consecutive observations (lag counts OBSERVATIONS, not calendar
    days — run q_time_gap_fill first for strict calendar lags).

    Exactness: daily revenue is exact integer cents; all ACF_MAX_LAG
    lag columns come from ONE ordered window pass; moment sums
    accumulate in 128-bit (cents² sums wrap int64 at scale — the
    corr_matrix scheme), convert to double once, and the correlation
    is the SAME shared micro expression q_agg_corr_matrix parses in
    both engines.

    Scale shape: one fact groupBy Exchange to the day-bounded daily
    table; ONE series-keyed Exchange serves the single Window that
    computes every lag (same partition+order → one sort); the stack
    unpivot is a projection (ACF_MAX_LAG-fold fan-out of day-bounded
    rows); and the final (series, lag) aggregate REUSES the series
    partitioning (grouping keys are a superset — the rfm/gini rule).
    Exactly two Exchanges move data; output is series × ACF_MAX_LAG
    rows."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
            cents("value").alias("cents0"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents0").cast("long").alias("cents"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.col("cents").alias("y"),
        *[F.lag("cents", L).over(w).alias(f"x{L}") for L in range(1, ACF_MAX_LAG + 1)],
    )
    stack_args = ", ".join(
        f"CAST({L} AS BIGINT), x{L}" for L in range(1, ACF_MAX_LAG + 1)
    )
    pairs = lagged.selectExpr(
        "event_type", "y", f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, x)"
    ).where(F.col("x").isNotNull())
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * F.col("x")).cast("double").alias("sxx"),
        F.sum(yd * F.col("y")).cast("double").alias("syy"),
        F.sum(xd * F.col("y")).cast("double").alias("sxy"),
    )
    return s.select(
        "event_type",
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(_ACF_CORR).alias("acf_micro"),
    )


# ---------------------------------------------------------------------------
# q_feature_woe — weight-of-evidence feature binning vs a binary target
# ---------------------------------------------------------------------------

# WOE with +1 Laplace smoothing, micro-quantized: ln of each BARE
# integer (the collocations sum-of-logs discipline — products like
# (g+1)*(B+K) never form inside the ln), double literals scientific.
_WOE_MICRO = cents_sql(
    "(ln((n_good + 1) * 1.0e0) - ln((n_bad + 1) * 1.0e0)"
    " - ln((g_tot + n_bands) * 1.0e0) + ln((b_tot + n_bands) * 1.0e0))",
    6,
)


@query(
    "q_feature_woe",
    oracle=f"""
    WITH t AS (
      SELECT c_custkey,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band,
             CASE WHEN EXISTS (
               SELECT 1 FROM orders
               WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
             ) THEN 1 ELSE 0 END AS y
      FROM customer
    ),
    cells AS (
      SELECT band,
             CAST(SUM(y) AS BIGINT) AS n_good,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_bad
      FROM t GROUP BY band
    ),
    tot AS (
      SELECT CAST(SUM(n_good) AS BIGINT) AS g_tot,
             CAST(SUM(n_bad) AS BIGINT) AS b_tot,
             CAST(COUNT(*) AS BIGINT) AS n_bands
      FROM cells
    )
    SELECT band, n_good, n_bad,
           CAST(((n_good + 1) * 1000000) // (g_tot + n_bands) AS BIGINT)
             AS dist_good_ppm,
           CAST(((n_bad + 1) * 1000000) // (b_tot + n_bands) AS BIGINT)
             AS dist_bad_ppm,
           {_WOE_MICRO} AS woe_micro
    FROM cells CROSS JOIN tot
    """,
)
def q_feature_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature binning — the credit-scoring /
    risk-modeling encoding next to q_feature_target_enc's mean
    encoding: per account-balance band (the kanon banding), the
    smoothed log-odds ratio ln((g_i/G)/(b_i/B)) of a binary target
    (customer has placed a 1-URGENT order). Positive WOE = band
    over-indexes on the target; the full table is the reject-inference
    scorecard input, and Σ(share_g − share_b)·WOE (the information
    value) is one exact derivation away from these columns.

    Exactness: counts are exact integers; +1 Laplace smoothing keeps
    empty cells finite and is folded into ONE shared sum-of-logs micro
    expression on bare integers (no count products inside the ln —
    the collocations discipline); the share columns are positive-only
    integer-division ppm.

    Scale shape: the target derives from a semi-join-shaped EXISTS
    (Spark side: groupBy(o_custkey) on the urgent-filtered orders,
    left join on the customer key — the filter prunes the orders scan
    first); ONE groupBy to the band-domain-bounded cell table,
    localCheckpointed (it feeds the totals scalar AND the output
    projection); the totals broadcast back. Output is one row per
    band."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    urgent = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.lit(1).alias("y1"))
    )
    t = c.join(urgent, c.c_custkey == urgent.o_custkey, "left").select(
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        F.coalesce(F.col("y1"), F.lit(0)).alias("y"),
    )
    cells = (
        t.groupBy("band")
        .agg(
            F.sum("y").cast("long").alias("n_good"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_bad"),
        )
        .localCheckpoint()  # band-domain-bounded; feeds totals AND output
    )
    tot = cells.agg(
        F.sum("n_good").cast("long").alias("g_tot"),
        F.sum("n_bad").cast("long").alias("b_tot"),
        F.count(F.lit(1)).cast("long").alias("n_bands"),
    )
    return cells.crossJoin(F.broadcast(tot)).selectExpr(
        "band",
        "n_good",
        "n_bad",
        "CAST(((n_good + 1) * 1000000) div (g_tot + n_bands) AS BIGINT)"
        " AS dist_good_ppm",
        "CAST(((n_bad + 1) * 1000000) div (b_tot + n_bands) AS BIGINT)"
        " AS dist_bad_ppm",
        f"{_WOE_MICRO} AS woe_micro",
    )


# ---------------------------------------------------------------------------
# q_agg_hhi — Herfindahl-Hirschman concentration index per segment
# ---------------------------------------------------------------------------

# HHI = sum of squared revenue shares, from exact sums cast to double
# once inside one shared expression (single division). The equivalent
# competitor count 1/HHI ships in milli units from the same sums.
_HHI_PPM = cents_sql("sxx / (sx * sx)", 6)
_HHI_EQ_N_MILLI = cents_sql("sx * sx / sxx", 3)


@query(
    "q_agg_hhi",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_orderpriority,
             o_custkey,
             CAST(SUM({cents_sql("o_totalprice")})
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS sxx
      FROM per_cust GROUP BY 1
    )
    SELECT o_orderpriority, n_customers,
           {_HHI_PPM} AS hhi_ppm,
           {_HHI_EQ_N_MILLI} AS equiv_n_milli
    FROM s
    """,
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index per order-priority
    segment — Σ(revenue share)² over customers, the antitrust/market
    -structure statistic completing the concentration tier next to
    q_agg_gini (inequality of the distribution) and q_agg_pareto (the
    80-20 cut): HHI answers "how close is this segment to single-
    buyer dependence", and its reciprocal (the equivalent number of
    equal-size customers, shipped in milli units) is the capacity-
    planning readout. 1e6 ppm = monopoly; 1e6/n = perfectly even.

    Exactness: per-customer revenue is exact integer cents; Σx and
    Σx² accumulate in 128-bit (cents² wraps int64 — the corr_matrix
    scheme), cast to double once, and each output is ONE shared
    expression with a single division.

    Scale shape: one fact groupBy Exchange to the per-(segment,
    customer) table, then the moment aggregate — partial-aggregable
    both levels, map-side combined; no window, no sort, no join.
    Output is one row per segment."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(cents("o_totalprice"))
        .cast("long")
        .alias("cents")
    )
    cd = F.col("cents").cast("decimal(38,0)")
    s = per_cust.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(cd).cast("double").alias("sx"),
        F.sum(cd * F.col("cents")).cast("double").alias("sxx"),
    )
    return s.selectExpr(
        "o_orderpriority",
        "n_customers",
        f"{_HHI_PPM} AS hhi_ppm",
        f"{_HHI_EQ_N_MILLI} AS equiv_n_milli",
    )


# ---------------------------------------------------------------------------
# q_events_journeys — top user journeys (length-3 event paths)
# ---------------------------------------------------------------------------

JOURNEY_TOP_N = 20


@query(
    "q_events_journeys",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT e1 || ' > ' || e2 || ' > ' || e3 AS journey,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq
      WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT journey, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, journey) AS BIGINT) AS rnk
    FROM paths
    QUALIFY rnk <= {JOURNEY_TOP_N}
    """,
)
def q_events_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys — the most frequent length-3 event paths
    across all users, the product-analytics "what do people actually
    do" readout one level above q_events_transitions' first-order
    matrix (a Markov matrix cannot distinguish signup>click>purchase
    from click>signup>purchase; the path miner can). Each user's
    event stream is ordered by (ts, event_id) — a total order — and
    every consecutive triple votes for its path.

    Exactness: counts are integers; path strings concatenate with a
    fixed separator; the top-{JOURNEY_TOP_N} cut is total-ordered
    (count DESC, journey).

    Scale shape: ONE user-keyed Exchange serves the window computing
    both leads (one sort); the path rollup is map-side combined, so
    its Exchange moves only |event types|³-bounded partial counts;
    the rank cut plans as TakeOrderedAndProject over that bounded
    table (no global sort). At 100 TB the only fact-sized move is
    the one user shuffle."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    # NULL semantics pinned (round-10 ADVICE): concat_ws SKIPS NULLs
    # while the oracle's || PROPAGATES them, so a NULL event_type
    # would yield divergent journeys. Both engines now drop triples
    # with ANY NULL component, and the Spark side concatenates with
    # the NULL-propagating concat() so the semantics stay || -shaped
    # even if the guard ever drifts.
    paths = (
        seq.where(
            F.col("e1").isNotNull()
            & F.col("e2").isNotNull()
            & F.col("e3").isNotNull()
        )
        .select(
            F.concat(
                F.col("e1"), F.lit(" > "), F.col("e2"), F.lit(" > "), F.col("e3")
            ).alias("journey")
        )
        .groupBy("journey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        paths.withColumn(
            "rnk",
            F.row_number().over(W.orderBy(F.col("n").desc(), "journey")).cast("long"),
        )
        .where(F.col("rnk") <= JOURNEY_TOP_N)
    )


# ---------------------------------------------------------------------------
# q_agg_spearman — Spearman rank correlation per group
# ---------------------------------------------------------------------------

# the same shared Pearson micro expression, applied to RANKS: exact
# integer rank moments make the only float work the final expression
_SPEARMAN_CORR = _corr_micro_expr("sx", "sy", "sxx", "syy", "sxy")

# row_number needs a TOTAL order: (l_orderkey, l_linenumber) is NOT
# unique in this corpus (repo landmine), and neither is the 4-part
# line key — sf0.001 carries a duplicate (l_orderkey, l_linenumber,
# l_partkey, l_suppkey) tuple at l_orderkey=1294 (round-10 ADVICE).
# So each rank window sorts by ITS measure, then the OTHER measure,
# then the 4-part key: rows can now collide only when they agree on
# x, y, AND the whole line key, and tests/test_quality_stats.py
# asserts that full tuple is unique per flag in every fixture.
_SPEAR_TIE = "l_orderkey, l_linenumber, l_partkey, l_suppkey"


@query(
    "q_agg_spearman",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             {cents_sql("l_extendedprice")} AS y,
             l_orderkey, l_linenumber, l_partkey, l_suppkey
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                    ORDER BY x, y, {_SPEAR_TIE}) AS BIGINT) AS rx,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                    ORDER BY y, x, {_SPEAR_TIE}) AS BIGINT) AS ry
      FROM m
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(rx AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rx AS HUGEINT) * rx) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ry AS HUGEINT) * ry) AS DOUBLE) AS syy,
             CAST(SUM(CAST(rx AS HUGEINT) * ry) AS DOUBLE) AS sxy
      FROM r GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           {_SPEARMAN_CORR} AS spearman_micro
    FROM s
    """,
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag — the ROBUST companion to q_agg_corr_matrix's Pearson tier:
    rank correlation captures any monotone relationship and shrugs
    off the outliers that drag product-moment correlation (the reason
    feature-screening pipelines compute both). Ties rank in a fixed
    total order (row_number over the measure, then the OTHER measure,
    then the 4-part line key — the deterministic competition-rank
    variant; classic averaged ranks would need a second window for no
    extra information here). The line key alone is NOT unique in the
    fixtures (duplicate 4-tuple at l_orderkey=1294, round-10 ADVICE),
    so both measures lead the tie chain and a fixture test asserts
    the full (x, y, line-key) tuple is unique per flag.

    Exactness: ranks are exact integers from total-ordered windows;
    the rank moment sums accumulate in 128-bit (Σrank² is n³-scaled —
    wraps int64 near ~3e6 rows per group) and the correlation is the
    SAME shared micro expression every correlation key parses.

    Scale shape: both ranks come from functions.prefix_sum per flag
    (value 1), so the per-flag window sorts give way to the
    distributed two-pass form above its volume gate; the moment
    aggregate shuffles one row per (flag-partition) after map-side
    partials; output is one row per flag."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        cents("l_extendedprice").alias("y"),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
    )
    # the gate reads the parquet FOOTER row count on the driver (r14,
    # ADVICE r13 #2): a ~1 ms file-metadata read, no Spark job
    n_rows = parquet_row_count(sf_dir, "lineitem")
    tie = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    r = prefix_sum(
        li, ["x", "y", *tie], "rx", by="l_returnflag", n_rows=n_rows
    ).drop("_total")
    r = prefix_sum(r, ["y", "x", *tie], "ry", by="l_returnflag", n_rows=n_rows)
    rxd = F.col("rx").cast("decimal(38,0)")
    ryd = F.col("ry").cast("decimal(38,0)")
    s = r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(rxd).cast("double").alias("sx"),
        F.sum(ryd).cast("double").alias("sy"),
        F.sum(rxd * F.col("rx")).cast("double").alias("sxx"),
        F.sum(ryd * F.col("ry")).cast("double").alias("syy"),
        F.sum(rxd * F.col("ry")).cast("double").alias("sxy"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.expr(_SPEARMAN_CORR).alias("spearman_micro"),
    )
