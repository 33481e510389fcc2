"""The derived graph over the star schema, defined once for Spark and
for the DuckDB oracles.

The reference's data model is an untyped, undirected edge list accessed
by dense long IDs (SURVEY.md §1.1; Runner.java:40-56,
RandomWalkingRunner.java:21-22). Spark-native equivalent: vertex/edge
DataFrames. We derive a bipartite-ish graph from the star schema:

- customer nodes:  node_id = c_custkey
- order nodes:     node_id = ORDER_OFFSET + o_orderkey
- part nodes:      node_id = PART_OFFSET + p_partkey
- edges: customer->order (from orders), order->part (from lineitem)

Undirected traversal (node.getRelationships() with no direction,
RandomWalkingRunner.java:21) maps to symmetrizing the edge list once.
ID offsets keep the node-ID space disjoint and dense-ish, preserving
the reference's "address by long ID" model (Runner.java:55-56) so ID
range predicates (OlapRunner.java:41-43) stay meaningful.

Every oracle that reads the derived graph composes the ``ORACLE_*``
fragments below instead of re-typing its SQL, so the edge, node and
weighted-edge definitions exist once per engine, in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo_olap_spark.tables import load, parquet_row_count

# Offsets keep the three node-id ranges disjoint. 2^40 apart: a table
# would need a trillion rows before ranges could collide (1e6-style
# offsets silently merge order and part ids at TPC-H sf~0.7).
ORDER_OFFSET = 1 << 40
PART_OFFSET = 2 << 40


def customer_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edges customer -> order."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
    )


def order_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edges order -> part (distinct: one edge per pair)."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.select(
        (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
    ).distinct()


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full directed edge list of the derived graph."""
    return customer_order_edges(spark, sf_dir).unionAll(order_part_edges(spark, sf_dir))


def edges_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list WITHOUT the order->part distinct. For consumers that
    dedup anyway (collect_set adjacency, groupBy) this skips a full
    600k-row-per-SF shuffle."""
    lineitem = load(spark, sf_dir, "lineitem")
    op = lineitem.select(
        (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
    )
    return customer_order_edges(spark, sf_dir).unionAll(op)


def all_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every node id of the derived graph (customers, orders, parts).
    Duplicate-free by construction: keys are unique within each table
    and the three offset ranges are disjoint — no distinct needed."""
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("node"))
    o = load(spark, sf_dir, "orders").select(
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("node")
    )
    p = load(spark, sf_dir, "part").select((F.lit(PART_OFFSET) + F.col("p_partkey")).alias("node"))
    return c.unionAll(o).unionAll(p)


def weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted edge list over the derived graph: customer→order
    edges carry weight 1; order→part edges carry the order's MIN line
    quantity for that part (1..50, integral by construction) — a
    deterministic per-edge cost with real variance. Returned
    directed; callers symmetrize."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.min("l_quantity").cast("long").alias("w"))
        .select(
            (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
            (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
            "w",
        )
    )
    return o.unionAll(li)


def edge_count_estimate(spark: SparkSession, sf_dir: str) -> int:
    """Cheap upper bound on the symmetrized edge count, for sizing
    iteration-loop shuffles: 2 × (|orders| + |lineitem|), read from
    the parquet footers (tables.parquet_row_count): no Spark job, and
    no order→part distinct (the exact count would cost a full shuffle
    before the loop even starts)."""
    n_o = parquet_row_count(sf_dir, "orders")
    n_l = parquet_row_count(sf_dir, "lineitem")
    return 2 * (n_o + n_l)


def symmetrize(e: DataFrame) -> DataFrame:
    """Undirected view: each edge appears in both directions.

    Spark analog of the reference's direction-free getRelationships()
    (RandomWalkingRunner.java:21-22).
    """
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def degrees(e: DataFrame) -> DataFrame:
    """Undirected degree per node: groupBy + count (partial agg map-side).

    Exact, shuffle-based replacement for the reference's racy shared
    int[] increments (OlapRunner.java:55, SURVEY.md §1.2/O4).
    """
    return symmetrize(e).groupBy(F.col("src").alias("node_id")).agg(F.count("*").alias("degree"))


# DuckDB oracle fragments: CTE bodies without a leading WITH, so they
# compose into any WITH or WITH RECURSIVE list.

# the directed edge list (edges() above)
ORACLE_EDGES = f"""
    SELECT o_custkey AS src, {ORDER_OFFSET} + o_orderkey AS dst FROM orders
    UNION ALL
    SELECT {ORDER_OFFSET} + l_orderkey AS src, {PART_OFFSET} + l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
"""

# customer→order edges weigh 1, order→part edges the order's min line
# quantity for the part (weighted_edges above)
ORACLE_WEIGHTED_EDGES = f"""
    SELECT o_custkey AS src, {ORDER_OFFSET} + o_orderkey AS dst,
           CAST(1 AS BIGINT) AS w
    FROM orders
    UNION ALL
    SELECT {ORDER_OFFSET} + l_orderkey, {PART_OFFSET} + l_partkey,
           CAST(MIN(l_quantity) AS BIGINT)
    FROM lineitem GROUP BY 1, 2
"""

# every node id: customers, orders, parts (all_nodes above)
ORACLE_NODES = f"""
    SELECT c_custkey AS node FROM customer
    UNION ALL SELECT {ORDER_OFFSET} + o_orderkey FROM orders
    UNION ALL SELECT {PART_OFFSET} + p_partkey FROM part
"""


# symmetrize() over a CTE named e, plain and weighted
ORACLE_SYM = "SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e"
ORACLE_WEIGHTED_SYM = (
    "SELECT src, dst, w FROM e UNION ALL SELECT dst AS src, src AS dst, w FROM e"
)

ORACLE_SYM_EDGES = f"""
    WITH e AS ({ORACLE_EDGES}),
    sym AS ({ORACLE_SYM})
"""
