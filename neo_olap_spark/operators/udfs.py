"""UDF surface demo (SURVEY.md §2.3 / §7.4 policy).

Policy: built-ins first, always — they get whole-stage codegen and
pushdown. When Python is genuinely needed, the only acceptable shape is
an Arrow-batched ``pandas_udf`` (vectorized over numpy, ~10-100× faster
than row-at-a-time Python UDFs). This module is the demo key proving
the engine's UDF plumbing: a vectorized numeric kernel whose result is
still oracle-checkable because the math is deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from neo_olap_spark.functions import cents, cents_sql, floor_round_sql
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load


def logistic_score_udf():
    """Vectorized logistic scoring kernel: sigmoid(10·discount − 5·tax).

    Arrow moves the columns as numpy arrays; the whole batch is one
    numpy expression — no per-row Python. Built lazily because
    ``pandas_udf`` resolves its return type against the active session.
    """

    @pandas_udf("double")
    def logistic_score(discount: pd.Series, tax: pd.Series) -> pd.Series:
        z = 10.0 * discount.to_numpy() - 5.0 * tax.to_numpy()
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    return logistic_score


@query(
    "q_udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(1.0 / (1.0 + exp(-(10.0 * l_discount - 5.0 * l_tax))), 6) AS score
    FROM lineitem WHERE l_orderkey < 2000
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF over lineitem — the one sanctioned UDF
    shape (SURVEY.md §7.4). The filter still pushes down to the scan;
    only the surviving rows cross the JVM↔Arrow boundary."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    score = logistic_score_udf()
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(score(F.col("l_discount"), F.col("l_tax")), 6).alias("score"),
    )


OLS_SCALE = 1_000_000  # slope emitted at 1e-6 precision via floor-shift


@query(
    "q_udf_grouped_ols",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hr,
             {cents_sql("value")} AS cents
      FROM events
    ),
    based AS (
      SELECT event_type,
             hr - MIN(hr) OVER (PARTITION BY event_type) AS x,
             cents AS y
      FROM ev
    ),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM based GROUP BY event_type
    )
    SELECT event_type, n AS n_rows,
           {floor_round_sql(
               "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)", 6
           )} AS slope_cents_per_hour
    FROM s
    """,
)
def q_udf_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (``applyInPandas``) — the second
    sanctioned UDF shape beside the scalar ``pandas_udf``: each group
    arrives as ONE Arrow-backed pandas DataFrame, here fitting a
    per-event-type OLS trend of value over time.

    Exactly oracle-checkable despite being a regression: hours and
    cents are INTEGERS (per-row floor, bit-identical across engines),
    the normal-equation sums run in arbitrary-precision Python ints
    (DuckDB mirrors with HUGEINT sums), hours are rebased to the
    group minimum so every term stays below 2^53 — at which point the
    final single division is the same double in both engines and the
    floor-shift emits it identically. The general lesson (tpch.py
    cents rule, applied to ML-ish math): push the
    order-dependent-float risk out of the aggregate and into one
    per-group division of exact integers.

    Scale shape: one shuffle on the group key; each group streams
    through pandas as Arrow batches. Groups here are event types
    (bounded); a per-entity regression at 100 TB would key on the
    entity id — same plan, millions of small groups, which is exactly
    what applyInPandas parallelizes."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("hr"),
        cents("value").alias("cents"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = (pdf["hr"] - pdf["hr"].min()).to_numpy()
        y = pdf["cents"].to_numpy()
        # Python-int sums: exact regardless of magnitude (the numpy
        # int64 path would silently wrap past 2^63)
        n = len(pdf)
        sx, sy = int(x.sum()), int(y.sum())
        sxy, sxx = int((x * y).sum()), int((x * x).sum())
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        import math

        # degenerate group (all observations in one hour bucket):
        # slope is undefined — emit NULL, matching the oracle's
        # x/0 -> NULL instead of crashing the worker
        slope = (
            math.floor(num / den * OLS_SCALE + 0.5) / OLS_SCALE
            if den != 0
            else None
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_rows": [n],
                "slope_cents_per_hour": [slope],
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        fit, "event_type string, n_rows long, slope_cents_per_hour double"
    )


# UDTF chunk size: one installment row per started 50 000.00 of total
INSTALLMENT_CHUNK_CENTS = 5_000_000


def installment_rows(cents: int):
    """The UDTF's row generator, module-level so it is unit- and
    property-testable without a session: split an exact cents total
    into full chunks plus a remainder row. Invariants (hypothesis-
    tested): rows sum back to cents, row count = ceil(cents/chunk),
    every amount is in (0, chunk]."""
    k, rem = divmod(int(cents), INSTALLMENT_CHUNK_CENTS)
    for i in range(k):
        yield (i, INSTALLMENT_CHUNK_CENTS)
    if rem:
        yield (k, rem)


@query(
    "q_udf_udtf",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey,
             {cents_sql("o_totalprice")} AS cents
      FROM orders WHERE o_orderkey < 2000
    ),
    n AS (
      SELECT o_orderkey,
             cents // {INSTALLMENT_CHUNK_CENTS} AS k,
             cents % {INSTALLMENT_CHUNK_CENTS} AS rem
      FROM o
    )
    SELECT n.o_orderkey,
           CAST(gs.i AS INT) AS installment_no,
           CAST(CASE WHEN gs.i < n.k THEN {INSTALLMENT_CHUNK_CENTS}
                     ELSE n.rem END AS BIGINT) AS amount_cents
    FROM n, LATERAL (
      SELECT UNNEST(generate_series(
        0, CAST(n.k + CASE WHEN n.rem > 0 THEN 1 ELSE 0 END - 1 AS BIGINT)
      )) AS i
    ) gs
    """,
)
def q_udf_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (the third sanctioned UDF shape, SURVEY.md §2.3):
    a table function with VARIABLE fan-out — each order row expands
    into one installment row per started 50k-chunk of its total, so
    one input row yields 1..N typed output rows. That variable-arity
    one-to-many is what distinguishes a UDTF from explode-of-builtin
    (a fixed computed array) and from scalar/grouped pandas UDFs.

    Exactly oracle-checkable: amounts are integer cents (repo money
    rule), chunk arithmetic is divmod on exact longs, and DuckDB
    re-derives the fan-out with generate_series.

    Scale shape: evaluated per-partition behind the scan with the
    o_orderkey filter still pushed down (only surviving rows cross the
    Python boundary); Arrow-batched evaluation is pinned on
    (pythonUDTF.arrow.enabled) and plan-asserted in tests — the row
    stream never funnels through the driver, and the lateral
    correlation adds no shuffle."""
    from pyspark.sql.functions import udtf

    # pin Arrow evaluation for THIS plan only — the conf is read when
    # the lateral join is analyzed, so it can be restored as soon as
    # the (lazy) DataFrame exists; leaving it flipped would silently
    # override a session that chose otherwise
    conf_key = "spark.sql.execution.pythonUDTF.arrow.enabled"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:

        @udtf(returnType="installment_no int, amount_cents long")
        class Installments:
            def eval(self, cents: int):
                yield from installment_rows(cents)

        # a DataFrame lateral join: nothing is registered in the
        # session, so repeated builds leave its catalog unchanged
        o = (
            load(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") < 2000)
            .select(
                "o_orderkey",
                cents("o_totalprice").alias("cents"),
            )
        )
        return o.lateralJoin(Installments(F.col("cents").outer())).select(
            "o_orderkey", "installment_no", "amount_cents"
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
