"""TPC-H completion: the 14 queries not already covered elsewhere.

Together with Q1/Q6 (analytics.py), Q3 (q_sql_surface), Q4/Q10/Q14/Q19
(analytics.py) and Q5 (q_join_multiway), this module completes the full
22-query TPC-H suite — the lingua franca a reference user would expect
any replacement OLAP engine to run. The reference itself has no SQL
surface (its two analytics are imperative Java loops, Runner.java /
OlapRunner.java); the suite is here because "a user of the reference
could switch to this repo and run every query they run today" includes
the warehouse queries any OLAP engine is judged by.

Schema adaptations (the driver's star schema is TPC-H-ish, not full
TPC-H — no partsupp, no l_shipmode/commitdate/receiptdate, no
c_phone/comment columns):

- Q2/Q11/Q16/Q20: the part-supplier catalog (partsupp) is derived from
  ``SELECT DISTINCT l_partkey, l_suppkey FROM lineitem``; supply cost /
  availqty stand-ins use s_acctbal and shipped quantity.
- Q12/Q21: "late" is l_shipdate > o_orderdate + INTERVAL N DAY (no
  commit/receipt dates); Q12 groups by l_linestatus (no l_shipmode).
- Q13: the comment anti-filter becomes an o_orderpriority filter.
- Q22: cntrycode is MOD(c_nationkey, 10) (no c_phone) and "no orders"
  is time-windowed (every customer has *some* order in this data);
  the balance threshold is 0.5*MAX rather than AVG so the cutoff is
  bit-identical across engines (a double AVG's value depends on
  summation order; MAX does not).

Every query is ONE SQL text shared verbatim by Spark and the DuckDB
oracle, so each key also proves dialect portability. Money and
rounding compose the engine-exact pairs in neo_olap_spark.functions
(``cents_sql``, ``money_sum_sql``, ``floor_round_sql``; NEXT.md
landmines (a) and (e)): per-row integer cents summed as integers,
exact to 2^53 ≈ 9e15 cents (~$90T per group). Ratios divide two
cents-sums. Counts come from COUNT/COUNT FILTER (BIGINT in both
engines); every ORDER BY ... LIMIT carries a total-order tie-break.

Scale notes are per-query in the docstrings; the common shape: date
and dimension filters sit directly on the scanned tables (pushed to
parquet row-group pruning), dims broadcast, and the only real
shuffles are fact-fact joins on their keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from neo_olap_spark.functions import cents_sql, floor_round_sql, money_sum_sql
from neo_olap_spark.registry import query
from neo_olap_spark.tables import register_views


def _sql(spark: SparkSession, sf_dir: str, text: str, names: tuple[str, ...]) -> DataFrame:
    register_views(spark, sf_dir, names=names)
    return spark.sql(text)


TPCH_Q2_SQL = f"""
WITH offers AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, n_name, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM part JOIN offers ON p_partkey = l_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size <= 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
)
SELECT p_partkey, p_name, s_name, n_name, {floor_round_sql("s_acctbal", 2)} AS acctbal
FROM ranked WHERE rn = 1 ORDER BY acctbal DESC, p_partkey LIMIT 100
"""


@query("q_sql_tpch_q2", oracle=TPCH_Q2_SQL)
def q_sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (best supplier per part). The correlated MIN-cost
    subquery of the original decorrelates to a per-part window rank —
    one shuffle on p_partkey — instead of a per-row re-aggregation;
    the supplier/nation/region dims broadcast. The DISTINCT offers
    derivation is one shuffle on (partkey, suppkey); at 100 TB it is
    the only lineitem-wide exchange and is reused by the rank via AQE.
    ROW_NUMBER's (s_acctbal DESC, s_suppkey) order makes the per-part
    winner deterministic cross-engine even on acctbal ties."""
    return _sql(spark, sf_dir, TPCH_Q2_SQL,
                ("part", "lineitem", "supplier", "nation", "region"))


TPCH_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(SUM(volume_cents) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
       COUNT(*) AS n_rows
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             {cents_sql("l_extendedprice * (1 - l_discount)")} AS volume_cents
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
              AND n2.n_name IN ('NATION_4', 'NATION_5', 'NATION_6'))
          OR (n1.n_name IN ('NATION_4', 'NATION_5', 'NATION_6')
              AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')))
        AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01') shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q_sql_tpch_q7", oracle=TPCH_Q7_SQL)
def q_sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between nation groups). The
    supplier/customer/nation sides all broadcast (dims); the one real
    shuffle is lineitem⋈orders on orderkey. The disjunctive
    nation-pair predicate evaluates post-join in codegen — it cannot
    prune the fact scan, but the shipdate range can and does.
    EXTRACT(YEAR) is cast to BIGINT so both engines agree on the
    grouping key's type."""
    return _sql(spark, sf_dir, TPCH_Q7_SQL,
                ("supplier", "lineitem", "orders", "customer", "nation"))


TPCH_Q8_SQL = f"""
SELECT o_year,
       {floor_round_sql(
           "CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS BIGINT)"
           " / CAST(SUM(volume_cents) AS BIGINT)",
           4,
       )} AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             {cents_sql("l_extendedprice * (1 - l_discount)")} AS volume_cents,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01'
        AND p_type = 'ECONOMY') all_nations
GROUP BY o_year ORDER BY o_year
"""


@query("q_sql_tpch_q8", oracle=TPCH_Q8_SQL)
def q_sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share). 8-way join where everything
    but lineitem⋈orders broadcasts; the share is a conditional-sum /
    sum ratio per year. The ratio rounds via floor_round_sql(x, 4) —
    NOT ROUND(x, 4) — because the two engines' round-half rules differ
    and a ratio can land exactly on a half (NEXT.md landmine (a));
    floor-shift is identical in both."""
    return _sql(spark, sf_dir, TPCH_Q8_SQL,
                ("part", "supplier", "lineitem", "orders", "customer",
                 "nation", "region"))


TPCH_Q9_SQL = f"""
SELECT nation, o_year, CAST(CAST(SUM(amount_cents) AS BIGINT) AS DOUBLE) / 100.0 AS sum_profit
FROM (SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             {cents_sql(
                 "(l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity)"
             )} AS amount_cents
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%gear%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year
"""


@query("q_sql_tpch_q9", oracle=TPCH_Q9_SQL)
def q_sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit by nation and year). Supply cost
    (ps_supplycost, no partsupp here) is proxied by 0.6*p_retailprice.
    The LIKE filter on part prunes the broadcast side BEFORE the join,
    which in turn prunes lineitem rows at the join — at 100 TB the
    fact scan is full-width but the join discards ~7/8 of it before
    the orderkey shuffle."""
    return _sql(spark, sf_dir, TPCH_Q9_SQL,
                ("part", "supplier", "lineitem", "orders", "nation"))


TPCH_Q11_SQL = f"""
WITH partvalue AS (
  SELECT l_partkey,
         CAST(SUM({cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS value_cents
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY l_partkey)
SELECT l_partkey AS partkey, CAST(value_cents AS DOUBLE) / 100.0 AS part_value
FROM partvalue
WHERE value_cents > (SELECT 2.5 * AVG(value_cents) FROM partvalue)
ORDER BY part_value DESC, partkey
"""


@query("q_sql_tpch_q11", oracle=TPCH_Q11_SQL)
def q_sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important-stock identification): per-part shipped
    value for one nation's suppliers, kept where above 2.5× the mean
    part value. The threshold is a scalar subquery over the same CTE —
    a 1-row broadcast against the per-part aggregate, so the plan is
    one lineitem shuffle on partkey plus a free scalar. The 2.5×-AVG
    threshold is self-scaling across SFs (the original's 0.0001/SF
    fraction needs the scale factor as input, which shared SQL text
    can't see)."""
    return _sql(spark, sf_dir, TPCH_Q11_SQL, ("lineitem", "supplier", "nation"))


TPCH_Q12_SQL = """
SELECT l_linestatus,
       COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


@query("q_sql_tpch_q12", oracle=TPCH_Q12_SQL)
def q_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (late shipments by priority class; l_linestatus
    stands in for the absent l_shipmode, ship-vs-order lateness for
    the absent commit/receipt dates). The year filter pushes to the
    lineitem scan; the lateness predicate is a non-equi condition
    evaluated inside the orderkey equi-join, so it adds zero extra
    shuffles. COUNT FILTER (not SUM CASE) keeps both engines at
    BIGINT — DuckDB's SUM over integers is HUGEINT (NEXT.md landmine
    (c))."""
    return _sql(spark, sf_dir, TPCH_Q12_SQL, ("orders", "lineitem"))


TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey) c_orders
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


@query("q_sql_tpch_q13", oracle=TPCH_Q13_SQL)
def q_sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution; the comment
    anti-filter becomes a priority filter). The LEFT JOIN keeps
    order-less customers at count 0 — dropping the join's filter into
    the ON clause (not WHERE) is what preserves them. Shape at scale:
    one custkey shuffle for join+count (same partitioning reused),
    then a tiny distribution groupBy over ≤ a few hundred distinct
    counts."""
    return _sql(spark, sf_dir, TPCH_Q13_SQL, ("customer", "orders"))


TPCH_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({cents_sql("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_cents
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(revenue_cents AS DOUBLE) / 100.0 AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND revenue_cents = (SELECT MAX(revenue_cents) FROM revenue)
ORDER BY s_suppkey
"""


@query("q_sql_tpch_q15", oracle=TPCH_Q15_SQL)
def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier of the quarter). The MAX scalar is a
    1-row broadcast over the per-supplier aggregate; each engine
    compares its own aggregate values to its own max, so the
    double-equality is internally consistent — cross-engine agreement
    only needs the argmax supplier to coincide, which ulp-level sum
    differences cannot flip unless two suppliers tie to <1 ulp.
    ORDER BY s_suppkey makes multi-way ties deterministic."""
    return _sql(spark, sf_dir, TPCH_Q15_SQL, ("supplier", "lineitem"))


TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (1, 3, 7, 14, 23, 36, 45, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("q_sql_tpch_q16", oracle=TPCH_Q16_SQL)
def q_sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (supplier breadth per part segment; the supplier
    complaint anti-join is dropped with the absent comment column).
    The part filters prune the broadcast side before the join;
    COUNT(DISTINCT) expands to a two-level aggregate — partial
    distinct on (brand, type, size, suppkey), then count — one
    shuffle each, both tiny after the segment filter."""
    return _sql(spark, sf_dir, TPCH_Q16_SQL, ("part", "lineitem"))


TPCH_Q17_SQL = f"""
SELECT CAST(FLOOR(CAST(SUM({cents_sql("l_extendedprice")})
                      AS DOUBLE) / 7.0 + 0.5) AS DOUBLE) / 100.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#13' AND p_type = 'MEDIUM'
  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


@query("q_sql_tpch_q17", oracle=TPCH_Q17_SQL)
def q_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue). The correlated
    per-part AVG decorrelates (Catalyst does this rewrite) into an
    aggregate-then-join on partkey — one extra lineitem aggregate, not
    a per-row subquery. Cross-engine exactness: l_quantity is
    integer-valued, and sums of integers ≤2^53 are EXACT in double
    regardless of summation order, so the 0.5*AVG threshold is
    bit-identical in both engines (unlike price averages)."""
    return _sql(spark, sf_dir, TPCH_Q17_SQL, ("lineitem", "part"))


TPCH_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, {floor_round_sql("o_totalprice", 2)} AS totalprice,
       {floor_round_sql("SUM(l_quantity)", 2)} AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
"""


@query("q_sql_tpch_q18", oracle=TPCH_Q18_SQL)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers). The IN subquery plans as a
    LEFT SEMI join on orderkey; the HAVING aggregate and the outer
    join share the same orderkey partitioning (one Exchange reused).
    The quantity HAVING is exact cross-engine (integer-valued
    quantities sum exactly in double). LIMIT rides on
    TakeOrderedAndProject with an (o_totalprice DESC, o_orderkey)
    total order — no global sort, deterministic top-100."""
    return _sql(spark, sf_dir, TPCH_Q18_SQL, ("customer", "orders", "lineitem"))


TPCH_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier, nation
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem, part
                    WHERE l_partkey = p_partkey AND p_type = 'PROMO'
                      AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
                    GROUP BY l_suppkey HAVING SUM(l_quantity) > 500)
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
ORDER BY s_suppkey
"""


@query("q_sql_tpch_q20", oracle=TPCH_Q20_SQL)
def q_sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (suppliers with excess movement of promo parts;
    shipped quantity stands in for partsupp availqty). The nested IN
    is a semi-join against a filtered-and-aggregated lineitem — the
    aggregate side shrinks to ≤ |suppliers| rows and BROADCASTS into
    the supplier scan, so the outer side never shuffles. Integer
    quantity HAVING: exact cross-engine."""
    return _sql(spark, sf_dir, TPCH_Q20_SQL,
                ("supplier", "nation", "lineitem", "part"))


TPCH_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_3', 'NATION_4', 'NATION_8')
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
"""


@query("q_sql_tpch_q21", oracle=TPCH_Q21_SQL)
def q_sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who alone held up multi-supplier orders;
    lateness = shipped >30 days after order date, standing in for the
    absent receipt/commit dates). The EXISTS/NOT EXISTS pair plans as
    a semi + anti join, both on l_orderkey — the same key as the
    orders join, so all three joins share one orderkey Exchange on
    the fact. The NOT EXISTS correlates on BOTH l1 and orders
    (o_orderdate), the canonical multi-outer-reference decorrelation
    test."""
    return _sql(spark, sf_dir, TPCH_Q21_SQL,
                ("supplier", "lineitem", "orders", "nation"))


TPCH_Q22_SQL = f"""
SELECT cntrycode, COUNT(*) AS numcust,
       {money_sum_sql("c_acctbal")} AS totacctbal
FROM (SELECT MOD(c_nationkey, 10) AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE c_acctbal > (SELECT 0.5 * MAX(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= '1999-01-01')) custsale
GROUP BY cntrycode ORDER BY cntrycode
"""


@query("q_sql_tpch_q22", oracle=TPCH_Q22_SQL)
def q_sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (rich-but-dormant customers; cntrycode from
    nationkey, dormancy = no orders since 1999 because every customer
    here has some order). The balance scalar uses 0.5*MAX — exact and
    order-independent in double, where the original's AVG threshold
    depends on summation order and could flip boundary rows between
    engines. NOT EXISTS is an anti join on custkey against the
    date-filtered orders (filter pushed to the orders scan); the
    scalar broadcasts."""
    return _sql(spark, sf_dir, TPCH_Q22_SQL, ("customer", "orders"))
