"""Subquery shapes: scalar subqueries and correlated subqueries,
expressed as the decorrelated plans Spark should run at scale.

The reference has no subquery machinery (its queries are imperative
Java loops), but any engine a warehouse user would switch to needs the
two canonical shapes:

- scalar subquery   -> aggregate-to-one-row + broadcast join (the
  1-row "subquery result" ships to every executor; the fact table
  never shuffles for the comparison);
- correlated subquery -> decorrelation into a window aggregate over
  the correlation key (one shuffle on the key, vs naive per-row
  re-execution). This is the rewrite Catalyst itself applies to
  `spark.sql` correlated subqueries; we express it directly so the
  plan is visible and testable.

Both oracle-checked against DuckDB's native subquery execution, so the
decorrelated plans are verified equivalent to the textbook semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import cents, cents_sql
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load, register_views


@query(
    "q_subquery_scalar",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority,
             {cents_sql("o_totalprice")} AS cents
      FROM orders
    ),
    t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot, COUNT(*) AS n FROM c)
    SELECT o_orderpriority,
           COUNT(*) AS n_above,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS sum_above
    FROM c, t WHERE c.cents * t.n > t.tot
    GROUP BY o_orderpriority
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders priced above the global average,
    aggregated by priority.

    Scale shape: the scalar (a 1-row aggregate) is computed with a
    full map-side partial + single-row final, then broadcast; the
    orders scan is read twice but never shuffled for the comparison —
    the filter is a broadcast nested-loop over one row, fused into the
    scan's codegen stage. The only real shuffle is the tiny final
    groupBy on priority (5 groups).
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "cents", cents("o_totalprice")
    )
    # landmine (h): the ROW SET must not depend on a double AVG's
    # accumulation order — compare in exact integers instead
    # (price > mean  <=>  cents * n > total_cents)
    totals = o.agg(
        F.sum("cents").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    return (
        o.join(F.broadcast(totals))
        .where(F.col("cents") * F.col("_n") > F.col("_tot"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_above"),
            (F.sum("cents").cast("double") / 100.0).alias("sum_above"),
        )
    )


@query(
    "q_subquery_correlated",
    oracle=f"""
    WITH c AS (
      SELECT o_custkey,
             {cents_sql("o_totalprice")} AS cents
      FROM orders
    ),
    w AS (
      SELECT o_custkey, cents,
             CAST(SUM(cents) OVER (PARTITION BY o_custkey) AS BIGINT) AS tot,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM c
    )
    SELECT o_custkey,
           COUNT(*) AS n_above,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS sum_above
    FROM w WHERE cents * n > tot
    GROUP BY o_custkey
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their own
    customer's average order price, aggregated per customer.

    Decorrelation: the per-row correlated aggregate becomes a window
    average over the correlation key (`o_custkey`). One shuffle keyed
    on the customer; the subsequent groupBy reuses that partitioning
    (Exchange reuse — no second shuffle), vs the naive plan's
    per-order re-aggregation. Customers whose every order ties the
    average (single-order customers) drop out in both engines: avg of
    one value equals the value, and the comparison is strict.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "cents", cents("o_totalprice")
    )
    wc = W.partitionBy("o_custkey")
    # landmine (h): integer cross-multiplication instead of a double
    # window AVG — the row set is engine-exact by construction
    return (
        o.withColumn("_tot", F.sum("cents").over(wc))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .where(F.col("cents") * F.col("_n") > F.col("_tot"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_above"),
            (F.sum("cents").cast("double") / 100.0).alias("sum_above"),
        )
    )


# ---------------------------------------------------------------------------
# q_sql_lateral — correlated LATERAL subquery (top-1-per-key via lateral)
# ---------------------------------------------------------------------------

LATERAL_SQL = f"""
SELECT c_custkey, c_mktsegment,
       t.o_orderkey AS top_orderkey,
       {cents_sql("t.o_totalprice")} AS top_price_cents
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
) t
"""


@query("q_sql_lateral", oracle=LATERAL_SQL)
def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the third canonical subquery
    shape next to the scalar and correlated-predicate keys: a per-row
    dependent SUBTABLE (each customer's single most expensive order,
    the top-1-per-key idiom SQL:2016 writes as LATERAL and engines
    without it emulate with window functions). IDENTICAL SQL text runs
    on both engines; the ORDER BY carries the orderkey tie-break so
    the selected row is a total order, and the price ships as exact
    cents.

    Scale shape: Catalyst DECORRELATES the lateral — the plan is a
    rank-over-custkey window with a partial WindowGroupLimit below the
    Exchange (only the per-key top row crosses the shuffle), then one
    join back to customer: per-row re-execution never happens, and
    the same rewrite is what makes the query safe at 100 TB
    (plan-pinned in tests/test_plans.py)."""
    register_views(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(LATERAL_SQL)
