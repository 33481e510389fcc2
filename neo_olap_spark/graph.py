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
Every graph loop caches one edge frame defined here (``sym_edges``,
``weighted_sym_edges``, ``directed_edges``): raw rows, partitioned on
src and deduped in place, one exchange per build.
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


def _order_part_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order -> part, one row per lineitem line (an order that buys a
    part on several lines repeats the edge), weighted by the line's
    quantity."""
    return load(spark, sf_dir, "lineitem").select(
        (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full directed edge list of the derived graph, one row per edge."""
    op = _order_part_lines(spark, sf_dir).select("src", "dst").distinct()
    return customer_order_edges(spark, sf_dir).unionAll(op)


def edges_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list WITHOUT the order->part distinct: the base every
    graph loop's edge frame dedupes in place, and the walk's adjacency
    dedupes inside its collect_set."""
    op = _order_part_lines(spark, sf_dir).select("src", "dst")
    return customer_order_edges(spark, sf_dir).unionAll(op)


# The edge frames the graph loops cache. Each is built as raw rows ->
# repartition("src") -> dedupe in place: hash(src) satisfies the
# dedupe's (src, dst) clustering, so the build plans ONE exchange and
# the frame comes out src-partitioned, as every round's join needs it.
# Deduping after symmetrize equals symmetrizing the deduped list: the
# derived graph has no reversed duplicates (its edges run one way
# between disjoint id ranges).


def sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """symmetrize(edges()) as a multiset, src-partitioned."""
    return symmetrize(edges_raw(spark, sf_dir)).repartition("src").distinct()


def directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edges() as a multiset, src-partitioned."""
    return edges_raw(spark, sf_dir).repartition("src").distinct()


def weighted_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted undirected edge list, src-partitioned: customer<->order
    edges weigh 1; order<->part edges the order's MIN line quantity
    for that part (1..50, integral by construction) — a deterministic
    per-edge cost with real variance."""
    co = customer_order_edges(spark, sf_dir).withColumn("w", F.lit(1).cast("long"))
    return (
        symmetrize(co.unionAll(_order_part_lines(spark, sf_dir)))
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )


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
    """Undirected view: each edge appears in both directions; columns
    after (src, dst), such as a weight, ride along.

    Spark analog of the reference's direction-free getRelationships()
    (RandomWalkingRunner.java:21-22).
    """
    rest = e.columns[2:]
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest))


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
# quantity for the part (weighted_sym_edges above, before symmetrize)
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
