"""Relational operator surface (SURVEY.md §2.3), oracle-checked.

Every query here is a declarative DataFrame plan — Catalyst handles
predicate pushdown, column pruning, join selection, and partial
aggregation. Design notes per query call out the 100 TB behavior
(broadcast vs shuffle, pushdown, top-K without global sort).

Conventions shared with the DuckDB oracles:
- computed integer columns are cast to BIGINT on both sides,
- computed doubles are rounded (sums to 2 dp, avgs to 4 dp) because
  floating-point addition order differs across engines,
- timestamps are never returned raw — epoch seconds (BIGINT) or
  ISO date strings instead (engine-neutral),
- any LIMIT has a total-order tie-break so results are deterministic.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.graph import ORACLE_SYM_EDGES, ORDER_OFFSET, degrees, edges
from neo_olap_spark.functions import (
    cents,
    cents_sql,
    floor_round,
    floor_round_sql,
    local_rows_frame,
    money_sum,
    money_sum_sql,
)
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load

# ---------------------------------------------------------------------------
# Scans / sources / sinks
# ---------------------------------------------------------------------------


@query(
    "q_scan_lineitem",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(epoch(l_shipdate) AS BIGINT) AS l_shipdate_epoch
    FROM lineitem
    """,
)
def q_scan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan (reference analog: store scan Preloader.java:58-65).

    Timestamp is projected to epoch seconds so the comparison is
    engine-neutral; everything else is a raw columnar read.
    """
    li = load(spark, sf_dir, "lineitem")
    cols = [F.col(c) for c in li.columns if c != "l_shipdate"]
    return li.select(
        *cols, F.col("l_shipdate").cast("timestamp").cast("long").alias("l_shipdate_epoch")
    )


@query(
    "q_sink_roundtrip",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
           {money_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink + source roundtrip (ArrayStore.java:27-79 analog).

    Writes a filtered slice to parquet, reads it back, aggregates.
    Parquet replaces the reference's length-prefixed binary int files:
    columnar, compressed, splittable across executors.
    """
    import shutil

    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    root = tempfile.mkdtemp(prefix="neo_olap_roundtrip_")
    try:
        li.write.mode("overwrite").parquet(root + "/li")
        back = spark.read.parquet(root + "/li")
        agg = back.agg(
            F.count("*").alias("n_rows"),
            F.sum("l_orderkey").alias("sum_key"),
            money_sum("l_extendedprice").alias("sum_price"),
        )
        # one-row result: materialize so the temp dir can go now
        return local_rows_frame(spark, agg.collect(), agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Projection / filter
# ---------------------------------------------------------------------------


@query("q_project", oracle="SELECT l_orderkey, l_extendedprice FROM lineitem")
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection — pruned at the parquet scan (ReadSchema shows
    2 of 11 columns). Reference analog: light-record pre-projection
    (RelationshipPreloader.java:18)."""
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


@query(
    "q_filter_range",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey >= 100 AND o_orderkey < 5000
    """,
)
def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate on a key (OlapRunner.java:41-43). Pushed to the
    parquet scan as min/max row-group skipping at scale."""
    o = load(spark, sf_dir, "orders")
    return o.where((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 5000)).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "q_filter_disjunctive",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    WHERE o_custkey < 50 OR o_orderpriority = '1-URGENT'
    """,
)
def q_filter_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive predicate (RelationshipPreloader.java:19 analog:
    keep a row if either endpoint matches)."""
    o = load(spark, sf_dir, "orders")
    return o.where((F.col("o_custkey") < 50) | (F.col("o_orderpriority") == "1-URGENT")).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer JOIN orders ON c_custkey = o_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join. The dimension side (customer) is broadcast —
    at 100 TB the fact side never shuffles for dim joins."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey, "inner")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


@query(
    "q_join_outer",
    oracle=f"""
    SELECT c_custkey, COUNT(o_orderkey) AS order_cnt,
           CAST(COALESCE(CAST(SUM({cents_sql("o_totalprice")})
                AS BIGINT), 0) AS DOUBLE) / 100.0 AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders, then a
    hash aggregate. COUNT(col) skips the null-extended rows."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            (
                F.coalesce(
                    F.sum(cents("o_totalprice")),
                    F.lit(0),
                ).cast("double")
                / 100.0
            ).alias("total_spend"),
        )
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers that placed no orders (NOT EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_semi_join_neighbors",
    oracle=ORACLE_SYM_EDGES
    + """
    SELECT src, dst FROM sym
    WHERE dst IN (SELECT c_custkey FROM customer WHERE c_custkey < 100)
    """,
)
def q_semi_join_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered neighbor expansion (OlapRunner.java:75-85): keep edges
    whose far endpoint is in a node set — a left-semi join, so the
    probe side never widens."""
    from neo_olap_spark.graph import symmetrize

    sym = symmetrize(edges(spark, sf_dir))
    in_range = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select(F.col("c_custkey").alias("node_id"))
    )
    return sym.join(F.broadcast(in_range), sym.dst == in_range.node_id, "left_semi")


@query(
    "q_join_range",
    oracle="""
    SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
    FROM customer JOIN supplier
      ON c_nationkey = s_nationkey AND c_acctbal < s_acctbal
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi component (nationkey) + range predicate.
    Spark plans the equi part as the join key and applies the range
    as a post-join filter; supplier is broadcast."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    return (
        c.join(
            F.broadcast(s),
            (c.c_nationkey == s.s_nationkey) & (c.c_acctbal < s.s_acctbal),
        )
        .select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")
    )


@query(
    "q_join_range_binned",
    oracle="""
    WITH a AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events WHERE event_type = 'click'),
         b AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events WHERE event_type = 'purchase')
    SELECT a.event_id AS click_id,
           CAST(COUNT(b.event_id) AS BIGINT) AS n_near_purchases
    FROM a LEFT JOIN b ON abs(a.sec - b.sec) <= 300
    GROUP BY a.event_id
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big interval join via bucketing: purchases within ±5 minutes
    of each click, with NO equi key in the predicate. A naive theta
    join is a cartesian product (O(n*m) comparisons — what the oracle
    does, fine at sf0.01, fatal at 100 TB). The scale plan: quantize
    both sides to 300 s buckets, explode the probe side into its 3
    admissible buckets {b-1, b, b+1}, and equi-join on bucket — a
    plain shuffled hash join whose per-bucket fan-in is bounded by the
    event rate, then an exact |Δt| <= 300 post-filter. Each match is
    counted exactly once because |Δt| <= 300 implies the bucket delta
    is in {-1, 0, 1}. Unmatched clicks are restored by a final
    left join against the click set (count 0)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").cast("long").alias("a_sec")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("ts").cast("long").alias("b_sec"),
        F.floor(F.col("ts").cast("long") / 300).alias("bucket"),
    )
    probe = clicks.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("a_sec") / 300) - 1,
                F.floor(F.col("a_sec") / 300),
                F.floor(F.col("a_sec") / 300) + 1,
            )
        ),
    )
    matched = (
        probe.join(purchases, "bucket")
        .where(F.abs(F.col("a_sec") - F.col("b_sec")) <= 300)
        .groupBy("click_id")
        .agg(F.count("*").alias("n"))
    )
    return clicks.select("click_id").join(matched, "click_id", "left").select(
        "click_id", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_near_purchases")
    )


ONE_DAY_EPOCH_1995 = 9131  # DATE '1995-01-01' in epoch days
OVERLAP_BIN_DAYS = 64  # interval-overlap join bin width


@query(
    "q_join_interval_overlap",
    oracle=f"""
    WITH w AS (
      SELECT CAST(n_nationkey AS BIGINT) AS w_id,
             CAST({ONE_DAY_EPOCH_1995} + n_nationkey * 37 AS BIGINT) AS ws,
             CAST({ONE_DAY_EPOCH_1995} + n_nationkey * 37
                  + 10 + (n_nationkey % 7) * 5 AS BIGINT) AS we
      FROM nation
    ),
    l AS (
      SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS a_lo,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               + CAST(l_quantity AS BIGINT) % 28 AS a_hi,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT w.w_id,
           CAST(COUNT(l.qty) AS BIGINT) AS n_overlaps,
           CAST(COALESCE(SUM(l.qty), 0) AS BIGINT) AS sum_qty
    FROM w LEFT JOIN l ON l.a_lo <= w.we AND w.ws <= l.a_hi
    GROUP BY w.w_id
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval OVERLAP join via bin decomposition — the
    two-sided generalization of q_join_range_binned's point-proximity
    bucketing. Shipment transit intervals [shipdate, shipdate +
    quantity % 28 days] are matched against 25 derived audit windows
    (one per nation key, 10-40 days each): a pair matches iff the
    intervals overlap (a_lo <= we AND ws <= a_hi) — the predicate has
    NO equi key, so a naive theta join is a cartesian product (what
    the oracle does; fine at sf0.01, fatal at 100 TB).

    Scale plan: decompose BOTH sides into the 64-day bins each
    interval covers (sequence + explode — short intervals cover 1-2
    bins), equi-join on the bin, post-filter the exact overlap, and
    count each pair exactly ONCE by keeping only the FIRST shared bin
    (bin == greatest(a_lo div 64, ws div 64) — the intersection of two
    bin ranges starts at the max of their starts, so no dedup pass and
    no unique row id needed; (l_orderkey, l_linenumber) is not unique
    in this data). Bin fan-out is bounded by interval_len/64 + 1, so
    the join stays linear in rows at any scale; here the exploded
    window side is 25 rows and broadcasts, which is exactly the plan a
    small dim side should pick. Unmatched windows are restored by a
    final left join (count 0)."""
    n = load(spark, sf_dir, "nation")
    win = n.select(
        F.col("n_nationkey").cast("long").alias("w_id"),
        (F.lit(ONE_DAY_EPOCH_1995) + F.col("n_nationkey") * 37)
        .cast("long")
        .alias("ws"),
    ).withColumn(
        "we", F.col("ws") + 10 + (F.col("w_id") % 7) * 5
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("a_lo"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .withColumn("a_hi", F.col("a_lo") + F.col("qty") % 28)
    )
    b = F.lit(OVERLAP_BIN_DAYS)
    wb = win.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.expr(f"ws div {OVERLAP_BIN_DAYS}"),
                F.expr(f"we div {OVERLAP_BIN_DAYS}"),
            )
        ),
    )
    lb = li.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("a_lo") / b), F.floor(F.col("a_hi") / b))),
    )
    matched = (
        lb.join(wb, "bin")
        .where(
            (F.col("a_lo") <= F.col("we"))
            & (F.col("ws") <= F.col("a_hi"))
            # first-shared-bin rule: count each overlapping pair once
            & (
                F.col("bin")
                == F.greatest(
                    F.floor(F.col("a_lo") / b), F.floor(F.col("ws") / b)
                )
            )
        )
        .groupBy("w_id")
        .agg(F.count("*").alias("n"), F.sum("qty").alias("s"))
    )
    return win.select("w_id").join(matched, "w_id", "left").select(
        "w_id",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_overlaps"),
        F.coalesce("s", F.lit(0)).cast("long").alias("sum_qty"),
    )


# 2^40, same rationale as graph.py's node-ID offsets: a decimal-sized
# offset collides with dense order keys at moderate SF (the exact bug
# class fixed for the graph in an earlier round) and silently turns
# "insert" rows into nondeterministic-tie updates
MERGE_NEW_OFFSET = 1 << 40


@query(
    "q_merge_upsert",
    oracle=f"""
    WITH updates AS (
      SELECT o_orderkey AS key, ROUND(o_totalprice + 100.0, 2) AS price
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT {MERGE_NEW_OFFSET} + o_orderkey AS key, ROUND(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    unioned AS (
      SELECT o_orderkey AS key, ROUND(o_totalprice, 2) AS price, 0 AS ver FROM orders
      UNION ALL
      SELECT key, price, 1 AS ver FROM updates
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY ver DESC) AS rn
      FROM unioned
    )
    SELECT key, price, CASE WHEN ver = 1 THEN 'merged' ELSE 'base' END AS src
    FROM ranked WHERE rn = 1
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (upsert): apply a change set to a base
    table — matched keys take the update, unmatched updates insert,
    untouched base rows survive. Plain Spark has no MERGE; the
    scalable shape is union-tag-and-pick-latest: ONE shuffle on the
    key, per-key top-1 via WindowGroupLimit (at most one row per key
    crosses the exchange per side). The change set here is derived
    deterministically from orders (every 10th key updated +100.00, every
    97th key re-inserted under a new id) so the oracle can reproduce
    it."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("key"),
        F.round("o_totalprice", 2).alias("price"),
        F.lit(0).alias("ver"),
    )
    updates = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("key"),
            F.round(F.col("o_totalprice") + 100.0, 2).alias("price"),
            F.lit(1).alias("ver"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 97 == 0).select(
                (F.lit(MERGE_NEW_OFFSET) + F.col("o_orderkey")).alias("key"),
                F.round("o_totalprice", 2).alias("price"),
                F.lit(1).alias("ver"),
            )
        )
    )
    w = W.partitionBy("key").orderBy(F.col("ver").desc())
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "key",
            "price",
            F.when(F.col("ver") == 1, "merged").otherwise("base").alias("src"),
        )
    )


_BUCKET_SEQ = [0]


def bucketed_customer_orders(
    spark: SparkSession, sf_dir: str, base: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Write customer and orders as bucketed tables (same bucket count,
    bucketed on the join key) and return them plus the table names for
    cleanup. Shared by q_join_bucketed and the plan test."""
    from neo_olap_spark.sources import write_bucketed

    _BUCKET_SEQ[0] += 1
    tc, to = f"bkt_customer_{_BUCKET_SEQ[0]}", f"bkt_orders_{_BUCKET_SEQ[0]}"
    created: list[str] = []
    try:
        write_bucketed(load(spark, sf_dir, "customer"), tc, f"{base}/c", "c_custkey", n_buckets)
        created.append(tc)
        write_bucketed(load(spark, sf_dir, "orders"), to, f"{base}/o", "o_custkey", n_buckets)
        created.append(to)
    except BaseException:
        # drop any table already registered so a half-failed setup
        # doesn't leak catalog entries pointing at a removed temp dir
        for t in created:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        raise
    return spark.table(tc), spark.table(to), created


@query(
    "q_join_bucketed",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           {money_sum_sql("o_totalprice")} AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing: both sides written bucketed on
    the join key (write_bucketed), so the join runs with NO exchange —
    bucket i merges with bucket i where it already sits. Broadcast is
    disabled for the join so the plan genuinely exercises the bucketed
    sort-merge path (asserted exchange-free in tests/test_plans.py);
    at 100 TB this is how a recurring fact-fact join avoids shuffling
    the fact table every run."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="neo_olap_bucket_")
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast_key)
    tables: list[str] = []
    try:
        c, o, tables = bucketed_customer_orders(spark, sf_dir, base)
        spark.conf.set(bcast_key, "-1")
        res = (
            c.join(o, c.c_custkey == o.o_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                money_sum("o_totalprice").alias("total"),
            )
        )
        # materialize before the backing tables/files are dropped
        return local_rows_frame(spark, res.collect(), res.schema)
    finally:
        spark.conf.set(bcast_key, prev)
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base, ignore_errors=True)


@query(
    "q_join_asof",
    oracle="""
    SELECT event_id, user_id, last_orderkey FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each event matched to the user's LATEST order at or
    before the event time. Spark has no ASOF JOIN operator; the naive
    form (theta join + per-event row_number, what the oracle does)
    materializes every (event, earlier-order) pair — quadratic per
    user. The scale shape used here is the union-and-window trick:
    tag both sides, union, ONE shuffle on user_id, ONE sort on
    (time, side, key), and a running last_value(order_key ignorenulls)
    hands every event row the most recent order seen — O(n log n)
    total, no pair blow-up, skew-bounded by the busiest user. Order
    rows sort before event rows at equal timestamps (<= semantics);
    ties among same-date orders resolve to the max key, matching the
    oracle's DESC, DESC pick."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("okey"),
        F.lit(0).alias("is_order"),
        "event_id",
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.col("o_orderkey").alias("okey"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("okey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.unionByName(o)
        .withColumn("last_orderkey", F.last("okey", ignorenulls=True).over(w))
        .where(F.col("is_order") == 0)
        .select("event_id", "user_id", "last_orderkey")
    )


@query(
    "q_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer. Catalyst plans the
    rank-then-filter as WindowGroupLimit: each partition keeps a
    running per-group top-K heap BEFORE the shuffle, so the exchange
    carries at most K rows per group — the grouped analog of
    TakeOrderedAndProject (R8). Unique o_orderkey breaks price ties."""
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


@query(
    "q_two_hop",
    oracle="""
    WITH e1 AS (SELECT o_custkey AS src, o_orderkey AS mid FROM orders),
    e2 AS (SELECT DISTINCT l_orderkey AS mid, l_partkey AS far FROM lineitem)
    SELECT e1.src AS node_id, CAST(COUNT(DISTINCT e2.far) AS BIGINT) AS n_two_hop
    FROM e1 JOIN e2 ON e1.mid = e2.mid GROUP BY e1.src
    """,
)
def q_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood (graph hop = edges self-join): distinct
    parts reachable from each customer through its orders."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("mid")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("mid"), F.col("l_partkey").alias("far"))
        .distinct()
    )
    return (
        o.join(li, "mid")
        .groupBy(F.col("src").alias("node_id"))
        .agg(F.countDistinct("far").alias("n_two_hop"))
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@query(
    "q_agg_sum",
    oracle="""
    SELECT CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys, COUNT(*) AS n_rows
    FROM orders
    """,
)
def q_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar aggregation across all partitions (printNumbers,
    Runner.java:184-191): partial per-partition sums, one exchange."""
    return load(spark, sf_dir, "orders").agg(
        F.sum("o_orderkey").alias("sum_keys"), F.count("*").alias("n_rows")
    )


@query(
    "q_agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           {money_sum_sql("l_extendedprice")} AS sum_base_price,
           {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {floor_round_sql(
               "CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE) / COUNT(*)",
               4,
           )} AS avg_qty,
           {floor_round_sql(
               f"CAST(CAST(SUM({cents_sql('l_discount')}) AS BIGINT) AS DOUBLE)"
               " / COUNT(*) / 100",
               4,
           )} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate: map-side partial aggregation
    means the shuffle carries only (group, partial) rows — the exact
    scale-out replacement for the reference's racy int[] accumulation
    (SURVEY.md O4)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_base_price"),
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "sum_disc_price"
        ),
        # floor-shifted exact-integer averages (landmine (a): never
        # ROUND an AVG — integer sums divide deterministically)
        floor_round(
            F.sum(F.col("l_quantity").cast("long")).cast("double") / F.count(F.lit(1)),
            4,
        ).alias("avg_qty"),
        floor_round(
            F.sum(cents("l_discount")).cast("double") / F.count(F.lit(1)) / 100, 4
        ).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expand + two-phase agg under the hood)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("cnt"))
    )


@query(
    "q_degree",
    oracle=ORACLE_SYM_EDGES
    + """
    SELECT src AS node_id, COUNT(*) AS degree FROM sym GROUP BY src
    """,
)
def q_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected degree per node — the reference's edge-loop visit
    counting made exact (RandomWalkingRunner.java:21-23)."""
    return degrees(edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT) AS rn,
           CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS price_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS prio_rank
    FROM orders
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows. row_number orders by the unique key so ties
    can't make the result nondeterministic."""
    o = load(spark, sf_dir, "orders")
    by_key = W.partitionBy("o_custkey").orderBy("o_orderkey")
    by_price = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    by_prio = W.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(by_key).cast("long").alias("rn"),
        F.rank().over(by_price).cast("long").alias("price_rank"),
        F.dense_rank().over(by_prio).cast("long").alias("prio_rank"),
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_key,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_key
    FROM orders
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics over a deterministic per-partition order."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
    )


@query(
    "q_window_running_sum",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SUM(l_extendedprice) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_price
    FROM lineitem
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregate: running sum within each order. (l_orderkey,
    l_linenumber) is not unique in the generated data, so
    l_extendedprice joins the ORDER BY — any remaining ties contribute
    equal values, keeping the running sums order-independent.

    Money-rule note: this double SUM is exempt from the cents
    retrofit BY CONSTRUCTION — a cumulative frame sum accumulates in
    frame order, which the total ORDER BY fixes identically in both
    engines, unlike a hash aggregate's partition-dependent order."""
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias("running_price"),
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile buckets, percent_rank, cume_dist —
    the per-group percentile machinery behind quantile features.
    o_orderkey joins the ORDER BY so ties can't reorder buckets."""
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_window_first_last",
    oracle="""
    SELECT l_orderkey, first_part, last_part, second_part, n_lines
    FROM (
      SELECT l_orderkey,
             FIRST_VALUE(l_partkey) OVER w AS first_part,
             LAST_VALUE(l_partkey) OVER w AS last_part,
             NTH_VALUE(l_partkey, 2) OVER w AS second_part,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_lines,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ) WHERE rn = 1
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation windows over a FULL frame: first_value / last_value /
    nth_value per order, reduced to one row per order via row_number.
    last_value needs the explicit unbounded-following frame (the
    default frame ends at CURRENT ROW, a classic silent-wrong-answer).
    The ORDER BY tuple (linenumber, partkey, suppkey, quantity) is
    unique in the generated data, and the projected value is part of
    the tuple, so ties could never change the output anyway. All four
    windows share one partitioning — a single Exchange + sort."""
    li = load(spark, sf_dir, "lineitem")
    order_cols = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity"]
    frame = (
        W.partitionBy("l_orderkey")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    seq = W.partitionBy("l_orderkey").orderBy(*order_cols)
    return (
        li.select(
            "l_orderkey",
            F.first("l_partkey").over(frame).alias("first_part"),
            F.last("l_partkey").over(frame).alias("last_part"),
            F.nth_value("l_partkey", 2).over(frame).alias("second_part"),
            F.count("*").over(frame).cast("long").alias("n_lines"),
            F.row_number().over(seq).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-K
# ---------------------------------------------------------------------------


@query(
    "q_sort",
    oracle="SELECT c_custkey, c_acctbal, c_mktsegment FROM customer ORDER BY c_acctbal DESC, c_custkey",
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort (range-partitioned exchange at scale). Result-set
    equality is order-insensitive; the plan is the point
    (TopNSelector.java:45-50 sorted its output the same way)."""
    return (
        load(spark, sf_dir, "customer")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )


@query(
    "q_topn",
    oracle=ORACLE_SYM_EDGES
    + """
    , deg AS (SELECT src AS node_id, COUNT(*) AS degree FROM sym GROUP BY src)
    SELECT node_id, degree FROM deg ORDER BY degree DESC, node_id LIMIT 10
    """,
)
def q_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nodes by degree (TopNSelector.java:23-52). orderBy+limit
    plans as TakeOrderedAndProject — per-partition heaps + a tiny
    driver merge, never a full sort; node_id breaks ties
    deterministically."""
    deg = degrees(edges(spark, sf_dir))
    return deg.orderBy(F.col("degree").desc(), F.col("node_id")).limit(10)


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "q_union",
    oracle=f"""
    SELECT c_custkey AS id, 'customer' AS side FROM customer
    UNION ALL
    SELECT {ORDER_OFFSET} + o_orderkey AS id, 'order' AS side FROM orders
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — no shuffle, just concatenated partitions."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.lit("customer").alias("side")
    )
    o = load(spark, sf_dir, "orders").select(
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("id"), F.lit("order").alias("side")
    )
    return c.unionAll(o)


@query(
    "q_set_ops",
    oracle="""
    SELECT id, 'both' AS tag FROM
      (SELECT c_custkey AS id FROM customer INTERSECT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT id, 'customer_only' AS tag FROM
      (SELECT c_custkey AS id FROM customer EXCEPT SELECT o_custkey FROM orders)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct semantics, like the SQL operators)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    both = c.intersect(o).withColumn("tag", F.lit("both"))
    only_c = c.exceptAll(o).distinct().withColumn("tag", F.lit("customer_only"))
    return both.unionAll(only_c)


@query(
    "q_set_ops_all",
    oracle="""
    WITH l AS (SELECT o_custkey AS id FROM orders
               WHERE o_orderpriority = '1-URGENT'),
    r AS (SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'),
    i AS (SELECT id FROM l INTERSECT ALL SELECT id FROM r),
    e AS (SELECT id FROM l EXCEPT ALL SELECT id FROM r)
    SELECT 'intersect_all' AS tag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_distinct,
           CAST(COALESCE(SUM(id), 0) AS BIGINT) AS id_sum
    FROM i
    UNION ALL
    SELECT 'except_all' AS tag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_distinct,
           CAST(COALESCE(SUM(id), 0) AS BIGINT) AS id_sum
    FROM e
    """,
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the BAG-semantics set operators
    (SQL:2003): multiplicities survive, so a customer with three
    urgent orders and two F-status orders contributes min(3,2)=2 rows
    to the intersection and 3−2=1 to the difference — semantics the
    distinct-flavored q_set_ops cannot express and the variant ETL
    reconciliation jobs (ledger-vs-ledger row matching) actually
    need. Output is the bag summaries (row count, distinct count,
    id checksum) per operator, so the result stays bounded while the
    hash still pins every multiplicity decision.

    Scale shape: Spark plans both operators as a single hash
    re-partition on the value with per-key count bookkeeping (the
    generate-replicate form) — one Exchange per side, no sort; the
    summary aggregate is 1-row per tag."""
    o = load(spark, sf_dir, "orders")
    l = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("id")
    )
    r = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("id")
    )

    def summarize(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("tag"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("id").cast("long").alias("n_distinct"),
            F.coalesce(F.sum("id"), F.lit(0)).cast("long").alias("id_sum"),
        ).select("tag", "n_rows", "n_distinct", "id_sum")

    return summarize(l.intersectAll(r), "intersect_all").unionAll(
        summarize(l.exceptAll(r), "except_all")
    )


# ---------------------------------------------------------------------------
# Sampling (rows-only: nondeterministic across engines by nature)
# ---------------------------------------------------------------------------


@query("q_sample")
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform Bernoulli sample with a fixed seed (OlapRunner.java:60-69
    rejection sampling analog — Spark's sample is per-partition PRNG,
    no driver round-trips). Rows-only check."""
    return load(spark, sf_dir, "orders").sample(fraction=0.1, seed=42)


STRATA_FRACTIONS = {
    "1-URGENT": 0.5,
    "2-HIGH": 0.25,
    "3-MEDIUM": 0.1,
    "4-NOT SPECIFIED": 0.1,
    "5-LOW": 0.05,
}


@query("q_sample_stratified")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-class) sampling via sampleBy — the
    class-rebalancing primitive of a training-data pipeline (e.g.
    downsample the dominant language/source, keep all of the rare
    one). Per-partition Bernoulli per stratum: no shuffle, no driver
    round-trip, deterministic under the seed. Rows-only; invariants
    (per-stratum rates, determinism, subset-of-input) in tests."""
    return load(spark, sf_dir, "orders").sampleBy(
        "o_orderpriority", fractions=STRATA_FRACTIONS, seed=42
    )


@query(
    "q_sample_verdict",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           TRUE AS n_in_bounds, TRUE AS deterministic, TRUE AS subset_ok
    FROM orders
    """,
)
def q_sample_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable verdict row for the seeded Bernoulli sample
    (VERDICT r6 item 5 — q_sample itself stays rows-only: its exact
    row set is per-partition-PRNG output, engine- and
    partitioning-specific by nature, so no batch SQL can reproduce
    it). What IS checkable cross-engine: the population count (exact,
    cross-checked by DuckDB) and three booleans the q_agg_hll
    tolerance pattern turns into hash bits —

    - n_in_bounds: the sample size lands inside the loose
      Bernoulli(0.1) envelope (0.04·N, 0.2·N) — ±5σ-ish at every SF,
      robust to any partitioning the driver's session picks;
    - deterministic: two independent runs at the same seed produce the
      SAME row set within one app (order-free bit_xor of key hashes —
      no overflow, no sort);
    - subset_ok: the sample is drawn from orders (left-anti join back
      to the source is empty — distributed, aggregate-sized result).

    The oracle emits literal TRUE per boolean, so the driver's value
    hash matches iff every invariant holds."""
    orders = load(spark, sf_dir, "orders")
    total = orders.agg(F.count(F.lit(1)).alias("total_rows"))
    s1 = orders.sample(fraction=0.1, seed=42)
    s2 = load(spark, sf_dir, "orders").sample(fraction=0.1, seed=42)

    def digest(df: DataFrame, n_name: str, h_name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(n_name),
            F.expr("bit_xor(xxhash64(o_orderkey))").alias(h_name),
        )

    d1 = digest(s1, "n1", "h1")
    d2 = digest(s2, "n2", "h2")
    anti = (
        s1.select("o_orderkey")
        .join(orders.select("o_orderkey"), "o_orderkey", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_outside"))
    )
    return (
        total.crossJoin(d1).crossJoin(d2).crossJoin(anti).select(
            F.col("total_rows").cast("long").alias("total_rows"),
            (
                (F.col("n1") > 0.04 * F.col("total_rows"))
                & (F.col("n1") < 0.2 * F.col("total_rows"))
            ).alias("n_in_bounds"),
            (
                (F.col("n1") == F.col("n2")) & (F.col("h1").eqNullSafe(F.col("h2")))
            ).alias("deterministic"),
            (F.col("n_outside") == 0).alias("subset_ok"),
        )
    )


@query(
    "q_sample_stratified_verdict",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS stratum_rows,
           TRUE AS rate_in_bounds, TRUE AS deterministic
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_sample_stratified_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum hash-checkable verdict for sampleBy (VERDICT r6
    item 5; raw q_sample_stratified stays rows-only). One row per
    o_orderpriority: the stratum population (exact, cross-checked),
    plus booleans —

    - rate_in_bounds: the stratum's sampled count lands within
      max(0.5·f·N_s, 4·sqrt(f·(1-f)·N_s)) of its target f·N_s — a
      ≥4σ envelope that holds at every SF and under any partitioning
      (measured seed-42 deviations at sf0.001/0.01/0.1 are ≤ ~2σ);
    - deterministic: two same-seed runs agree per stratum (count +
      order-free bit_xor hash).

    Aggregation is one partial-aggregable groupBy per run — at 100 TB
    this shuffles 5 rows per side."""
    orders = load(spark, sf_dir, "orders")
    totals = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("stratum_rows")
    )

    def per_stratum(df: DataFrame, suffix: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias(f"n{suffix}"),
            F.expr("bit_xor(xxhash64(o_orderkey))").alias(f"h{suffix}"),
        )

    d1 = per_stratum(
        orders.sampleBy("o_orderpriority", fractions=STRATA_FRACTIONS, seed=42), "1"
    )
    d2 = per_stratum(
        load(spark, sf_dir, "orders").sampleBy(
            "o_orderpriority", fractions=STRATA_FRACTIONS, seed=42
        ),
        "2",
    )
    frac = F.create_map(
        *[F.lit(x) for kv in STRATA_FRACTIONS.items() for x in kv]
    )[F.col("o_orderpriority")]
    target = frac * F.col("stratum_rows")
    envelope = F.greatest(
        0.5 * target, 4.0 * F.sqrt(frac * (1.0 - frac) * F.col("stratum_rows"))
    )
    # LEFT joins off the totals: a stratum whose seeded sample came up
    # empty must still emit its row (oracle emits one per priority) —
    # with n coalesced to 0 the rate test judges it instead of the
    # row silently vanishing into a hash-mismatch
    return (
        totals.join(d1, "o_orderpriority", "left")
        .join(d2, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            F.col("stratum_rows").cast("long").alias("stratum_rows"),
            (
                F.abs(F.coalesce(F.col("n1"), F.lit(0)) - target) <= envelope
            ).alias("rate_in_bounds"),
            (
                (
                    F.coalesce(F.col("n1"), F.lit(0))
                    == F.coalesce(F.col("n2"), F.lit(0))
                )
                & F.col("h1").eqNullSafe(F.col("h2"))
            ).alias("deterministic"),
        )
    )


SAMPLE_HASH_K = 100


@query(
    "q_sample_hash",
    oracle=f"""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
    FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT {SAMPLE_HASH_K}
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k sampling: order by a cryptographic hash of
    the key and take the first k — reproducible across engines, runs,
    and partitionings (unlike seeded Bernoulli sampling, whose output
    is engine-specific; those stay as the rows-only q_sample keys).
    This is how a pipeline pins an audit sample or a stable eval split.

    Plans as TakeOrderedAndProject on the hash expression: a true
    streaming top-K per partition + k-way driver merge, never a global
    sort — the same scale shape as q_topn. md5 agrees byte-for-byte
    between Spark and DuckDB (hex lowercase), and the o_orderkey
    tie-break makes the order total even under hash collisions."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
        .orderBy(F.md5(F.col("o_orderkey").cast("string")), "o_orderkey")
        .limit(SAMPLE_HASH_K)
    )


SAMPLE_BERNOULLI_MOD = 10
SAMPLE_BERNOULLI_KEEP = 2  # keep buckets {0,1} => a deterministic 20%


def _sample_bernoulli_oracle() -> str:
    """DuckDB twin of the seeded-Bernoulli sample: the bit-exact Spark
    xxhash64 pipeline (functions/xxhash_sql.py — the same generated-SQL
    substrate that oracle-backs the random walk, MinHash, and SimHash)
    re-derives every row's hash bucket, so the sampled row SET is
    engine-exact, not just statistically similar.

    AS MATERIALIZED on the pipeline wrapper is LOAD-BEARING: a WHERE
    over the pipe's output column otherwise gets pushed down through
    all ~100 inline CTE levels, re-substituting the hash expression
    chain at each level (measured: instant with the barrier, hangs
    without). Same class of DuckDB landmine as the unrolled-loop
    oracles' AS MATERIALIZED rounds."""
    from neo_olap_spark.functions.xxhash_sql import xxhash64_sql

    mod, keep = SAMPLE_BERNOULLI_MOD, SAMPLE_BERNOULLI_KEEP
    pipe = xxhash64_sql(
        "orders",
        ["o_orderkey", "o_custkey", "o_totalprice"],
        [("o_orderkey", "long")],
        "h",
    )
    return f"""
    WITH base AS MATERIALIZED ({pipe})
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price,
           CAST(((h % {mod}) + {mod}) % {mod} AS BIGINT) AS bucket
    FROM base
    WHERE ((h % {mod}) + {mod}) % {mod} < {keep}
    """


@query("q_sample_bernoulli", oracle=_sample_bernoulli_oracle())
def q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded Bernoulli sampling: keep a row iff
    pmod(xxhash64(key), M) < K — the reproducible complement of
    q_sample's engine-specific PRNG sample. Unlike q_sample_hash's
    exact-k top-by-hash (which needs a top-K merge), this is a pure
    per-row PROJECTION+FILTER: zero shuffle, embarrassingly parallel,
    and the membership decision for any row is stable across engines,
    runs, partitionings, and cluster sizes — the property a 100 TB
    pipeline needs so that re-running a stage (or re-sharding the
    input) reproduces the identical sample. This is how training-data
    holdout splits and audit samples stay pinned across recomputes.

    Oracle-backed end to end via the generated xxhash64 DuckDB
    pipeline (functions/xxhash_sql.py) — the third consumer of the
    cross-engine hash substrate after the seeded walk and the
    MinHash/SimHash twins. Reference analog: OlapRunner.java:60-69
    rejection sampling, made deterministic."""
    o = load(spark, sf_dir, "orders")
    bucket = F.pmod(
        F.xxhash64("o_orderkey"), F.lit(SAMPLE_BERNOULLI_MOD)
    ).cast("bigint")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < SAMPLE_BERNOULLI_KEEP)
    )


@query(
    "q_window_ratio",
    oracle=f"""
    WITH g AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           {floor_round_sql(
               "CAST(cents AS DOUBLE)"
               " / CAST(SUM(cents) OVER (PARTITION BY o_orderstatus) AS DOUBLE)",
               4,
           )} AS share_of_status,
           {floor_round_sql(
               "CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE)", 4
           )} AS share_of_total
    FROM g
    """,
)
def q_window_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total windows (ratio_to_report): each group's revenue
    as a share of its status stratum and of the grand total — the
    standard contribution-analysis shape.

    Both denominators run over the ALREADY-AGGREGATED relation (15
    rows), not the base table: the only full-data shuffle is the
    groupBy. The grand total is a broadcast 1-row aggregate (the
    q_subquery_scalar pattern) rather than an unpartitioned window —
    same value, no single-partition WindowExec."""
    o = load(spark, sf_dir, "orders")
    # shares computed from INTEGER cents sums: exact numerators and
    # denominators regardless of summation order, then one
    # floor-shifted division (repo money rule)
    g = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(cents("o_totalprice")).alias("cents")
    )
    w_status = W.partitionBy("o_orderstatus")
    total = g.agg(F.sum("cents").alias("_tot"))
    return g.join(F.broadcast(total)).select(
        "o_orderstatus",
        "o_orderpriority",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        floor_round(
            F.col("cents").cast("double")
            / F.sum("cents").over(w_status).cast("double"),
            4,
        ).alias("share_of_status"),
        floor_round(
            F.col("cents").cast("double") / F.col("_tot").cast("double"), 4
        ).alias("share_of_total"),
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    SELECT event_id, user_id, nearest_orderkey FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS nearest_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                        o.o_orderdate, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey
    ) WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event as-of join: each event matched to the user's
    closest order in TIME, either direction (ties -> the earlier
    order; same-date ties -> max orderkey). The oracle's theta join
    materializes every (event, order) pair per user — quadratic; here
    the backward and forward candidates come from TWO running windows
    over ONE unioned, user_id-partitioned relation (the q_join_asof
    union-and-window trick, run in both sort directions over the same
    Exchange), then a pure-expression argmin picks the winner.
    O(n log n) per user, no pair blow-up."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("okey"),
        F.lit(0).alias("is_order"),
        "event_id",
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.col("o_orderkey").alias("okey"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ostruct = F.when(
        F.col("is_order") == 1,
        F.struct(F.col("t").alias("ot"), F.col("okey").alias("ok")),
    )
    w_back = (
        W.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("okey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy(F.col("t").desc(), F.col("is_order").desc(), F.col("okey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    res = (
        ev.unionByName(o)
        .withColumn("cb", F.last(ostruct, ignorenulls=True).over(w_back))
        .withColumn("cf", F.last(ostruct, ignorenulls=True).over(w_fwd))
        .where(F.col("is_order") == 0)
    )
    diff_b = F.expr("timestampdiff(MICROSECOND, cb.ot, t)")
    diff_f = F.expr("timestampdiff(MICROSECOND, t, cf.ot)")
    nearest = (
        F.when(F.col("cb").isNull(), F.col("cf.ok"))
        .when(F.col("cf").isNull(), F.col("cb.ok"))
        .when(diff_f < diff_b, F.col("cf.ok"))
        .otherwise(F.col("cb.ok"))  # smaller-or-tied backward: earlier date wins
    )
    return res.select("event_id", "user_id", nearest.alias("nearest_orderkey"))


STRATA_K = 20  # exact sample size per stratum


@query(
    "q_sample_exact_stratified",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey, o_custkey
    FROM (
      SELECT o_orderpriority, o_orderkey, o_custkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= {STRATA_K}
    """,
)
def q_sample_exact_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sampling: the k lowest
    md5-of-key rows within every group — the balanced eval-split /
    per-source audit-sample primitive a training-data pipeline needs
    (sampleBy gives only APPROXIMATE per-stratum counts, and seeded
    Bernoulli output is engine-specific; both stay as the rows-only
    q_sample keys).

    Plan: rank-then-filter compiles to WindowGroupLimit — at most k
    rows per stratum survive each partial phase before the single
    group-keyed Exchange, so the shuffle carries O(k·strata), not the
    table."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= STRATA_K)
        .drop("rn")
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderstatus END AS k
      FROM orders
    ),
    b AS (
      SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderstatus END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_b
      FROM orders GROUP BY 1
    )
    SELECT a.o_orderkey, COALESCE(CAST(a.k AS VARCHAR), '<null>') AS k_label,
           b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi join (``<=>`` ≡ IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently vanishing — the semantics a
    dimension join needs when 'unknown' is itself a category. A plain
    equi join here would drop every 'P'-derived row on the floor with
    no error, the classic silent-data-loss bug. Spark plans <=> as an
    ordinary hash join (NULL hashes like any value under null-safe
    equality), so the scale shape is identical to q_join_inner."""
    o = load(spark, sf_dir, "orders")
    k = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    a = o.select("o_orderkey", k.alias("k"))
    b = (
        o.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_b"))
        .withColumnRenamed("k", "kb")
    )
    return (
        a.join(F.broadcast(b), a.k.eqNullSafe(F.col("kb")))
        .select(
            "o_orderkey",
            F.coalesce(F.col("k"), F.lit("<null>")).alias("k_label"),
            "n_b",
        )
    )


# ---------------------------------------------------------------------------
# q_window_cume — distribution-rank windows (percent_rank / cume_dist)
# ---------------------------------------------------------------------------


@query(
    "q_window_cume",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
             {cents_sql("l_extendedprice")} AS cents
      FROM lineitem WHERE l_orderkey < 2000
    )
    SELECT flag, l_orderkey, l_linenumber, cents,
           {cents_sql("percent_rank() OVER w", 6)}
             AS pct_rank_micro,
           {cents_sql("cume_dist() OVER w", 6)}
             AS cume_dist_micro
    FROM c
    WINDOW w AS (PARTITION BY flag ORDER BY cents, l_orderkey, l_linenumber)
    """,
)
def q_window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family — percent_rank (relative rank
    in [0,1]) and cume_dist (fraction of partition at-or-below) per
    return flag: the score-normalization shape behind percentile
    features and fair cross-segment comparisons.

    Exactness: the window ORDER BY is total (cents, orderkey,
    linenumber — unique), so ranks are engine-identical; both
    functions are small-integer ratios ((rank-1)/(n-1), rank_le/n)
    computed in doubles from identical ints, micro-quantized with the
    shared FLOOR rule. Scale shape: ONE Exchange on the partition key
    serving both functions (same window spec); the pushed orderkey
    filter bounds the demo slice, and at 100 TB the sort is per-flag
    partition-local — the same cost class as any ranked window."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    c = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_orderkey",
        "l_linenumber",
        cents("l_extendedprice").alias("cents"),
    )
    w = W.partitionBy("flag").orderBy("cents", "l_orderkey", "l_linenumber")
    return c.select(
        "flag",
        "l_orderkey",
        "l_linenumber",
        "cents",
        cents(F.percent_rank().over(w), 6).alias("pct_rank_micro"),
        cents(F.cume_dist().over(w), 6).alias("cume_dist_micro"),
    )
