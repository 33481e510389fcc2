"""Warehouse-lifecycle operators: SCD2 dimension builds, funnel
analysis, and incremental aggregate maintenance — the shapes a
production warehouse runs around the core query surface.

All oracle-checked. The common scale theme: each operator is keyed on
one entity column (customer / user / group key), so every stage reuses
a single partitioning and the plans hold at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import cents, cents_sql, money_sum_sql
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load


@query(
    "q_scd2_build",
    oracle="""
    SELECT o_custkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS valid_from,
           CAST(epoch(LEAD(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS BIGINT)
             AS valid_to,
           ROUND(o_totalprice, 2) AS price,
           LEAD(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL
             AS is_current
    FROM orders
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: turn a change log
    (orders per customer) into validity intervals — each row is valid
    from its own date until the next change, the latest row is open
    (NULL valid_to, is_current=true).

    One window over (custkey, date, orderkey) = one shuffle; the
    orderkey tie-break makes interval assignment deterministic for
    same-date changes. This is the standard dimension-history
    materialization every warehouse maintains; at 100 TB it
    partitions by the dimension key and never compares rows across
    customers."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        # NTZ-safe epoch projection: cast through timestamp (session TZ
        # is UTC) — the repo-wide pattern for date columns
        F.col("o_orderdate").cast("timestamp").cast("long").alias("valid_from"),
        nxt.cast("timestamp").cast("long").alias("valid_to"),
        F.round("o_totalprice", 2).alias("price"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                WHEN s.user_id IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s ON u.user_id = s.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: per user, the furthest stage reached
    in signup -> click -> purchase where each step must occur strictly
    AFTER the previous step's first occurrence (the product-analytics
    staple; SQL needs three dependent aggregations, which is why
    match_recognize exists — this is the join-decomposed form).

    Every stage (the three firsts and the final assembly) is keyed on
    user_id: one Exchange establishes the partitioning and the
    per-stage joins/aggregations reuse it. The event scan is read per
    stage with the event_type filter pushed down, so each pass touches
    only its own slice."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(s, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .when(F.col("t_signup").isNotNull(), 1)
            .otherwise(0)
            .alias("funnel_stage"),
        )
    )


ATTRIBUTION_HORIZON_US = 7 * 86_400_000_000  # last-touch lookback: 7 days
_US_PER_DAY = 86_400_000_000


@query(
    "q_events_attribution",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, event_id, value,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT *,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN us END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS click_us
      FROM e
    ),
    p AS (
      SELECT CASE WHEN click_us IS NOT NULL
                   AND us - click_us <= {ATTRIBUTION_HORIZON_US}
                  THEN click_us // {_US_PER_DAY} ELSE -1 END AS attr_day,
             {cents_sql("value")} AS cents
      FROM w WHERE event_type = 'purchase'
    )
    SELECT attr_day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS credit_cents
    FROM p GROUP BY attr_day
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent click within a 7-day lookback, rolled up to credit per
    click-day (epoch day; -1 = unattributed — no click, or the click
    aged out). The marketing-analytics staple next to q_funnel: funnel
    asks how far users get, attribution asks which touchpoint gets the
    revenue.

    Shape: ONE window over (user_id, ts, event_id) — last(click ts,
    ignorenulls) with an explicit ROWS frame carries the latest click
    forward to each purchase row (the unique (ts, event_id) composite
    makes RANGE-vs-ROWS peer semantics moot, but the frame is pinned
    ROWS in BOTH engines anyway), then one partial-aggregable groupBy
    on the attributed day. The horizon compare and the day bucket are
    pure integer µs arithmetic (`div`, the PSI-midpoint lesson); value
    integerizes to cents so the credit sums are engine-exact.

    Scale: the window partitions by user (millions of independent
    partitions, no skew hub), credit rows are day-cardinality-sized,
    and the type filter is pushed into the scan."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_type",
            "event_id",
            "value",
            F.unix_micros("ts").alias("us"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    clicked = ev.withColumn(
        "click_us",
        F.last(
            F.when(F.col("event_type") == "click", F.col("us")),
            ignorenulls=True,
        ).over(w),
    )
    attributed = clicked.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("click_us").isNotNull()
            & (F.col("us") - F.col("click_us") <= ATTRIBUTION_HORIZON_US),
            F.expr(f"click_us div {_US_PER_DAY}"),
        )
        .otherwise(F.lit(-1))
        .alias("attr_day"),
        cents("value").alias("cents"),
    )
    return attributed.groupBy("attr_day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").cast("long").alias("credit_cents"),
    )


# incremental-maintenance split point: ship dates before/after this are
# the "already materialized base" vs the "newly arrived delta"
INCR_SPLIT_DATE = "1997-01-01"


@query(
    "q_incremental_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           {money_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the base partition (shipdate
    < split) is aggregated once as the 'materialized view'; the delta
    partition arrives later and only ITS partial aggregate is computed
    and merged (count/sum are mergeable, so merge = groupBy-sum over
    the union of partials). The oracle recomputes over the full table
    — proving the incremental path yields the identical view, which is
    the whole contract of continuous-aggregate systems.

    At 100 TB this is the difference between re-scanning the world and
    scanning only the new partition: the merge input is two tiny
    partial-aggregate relations, never raw rows. The split predicate
    pushes down to both scans (disjoint row groups)."""
    li = load(spark, sf_dir, "lineitem")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("p_n"),
            F.sum("l_quantity").alias("p_qty"),
            # partials carry exact integer CENTS so the base+delta
            # merge is order-independent (repo money rule)
            F.sum(cents("l_extendedprice")).alias("p_cents"),
        )

    base = partial(li.where(F.col("l_shipdate") < INCR_SPLIT_DATE))
    delta = partial(li.where(F.col("l_shipdate") >= INCR_SPLIT_DATE))
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_n").alias("n_rows"),
            F.round(F.sum("p_qty"), 2).alias("sum_qty"),
            (F.sum("p_cents").cast("double") / 100.0).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q_snapshot_diff — CDC-style diff between two table snapshots
# ---------------------------------------------------------------------------


@query(
    "q_snapshot_diff",
    oracle=f"""
    WITH old_snap AS (
      SELECT o_orderkey, o_orderstatus,
             {cents_sql("o_totalprice")} AS cents
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new_snap AS (
      SELECT o_orderkey, o_orderstatus,
             {cents_sql(
                 "(CASE WHEN o_orderkey % 3 = 0"
                 " THEN o_totalprice * 1.1 ELSE o_totalprice END)"
             )} AS cents
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                ELSE 'changed' END AS change_type,
           o.cents AS old_cents, n.cents AS new_cents
    FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus OR o.cents <> n.cents
    ORDER BY o_orderkey
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the CDC primitive): given yesterday's and
    today's version of a table, emit every added, deleted, and
    changed row — what a data platform computes to publish a change
    feed from full-table snapshots. The two snapshots are
    deterministic derivations of orders (modular membership + a
    price bump) so both engines see identical inputs.

    Scale shape: ONE full-outer sort-merge join on the primary key —
    the lower bound for diffing two unsorted snapshots; column
    comparison is per-row codegen on the joined row. At 100 TB both
    snapshots bucket/sort by PK on write, making the diff a
    zero-exchange merge; unchanged rows (the overwhelming majority)
    are filtered before anything is emitted."""
    o = load(spark, sf_dir, "orders")
    # money-cents integerization (functions.cents): deterministic
    # cross-engine where round-half is not
    old_snap = o.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("old_status"),
        cents("o_totalprice").alias("old_cents"),
    )
    bumped = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
    ).otherwise(F.col("o_totalprice"))
    new_snap = o.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("new_status"),
        cents(bumped).alias("new_cents"),
    )
    joined = old_snap.join(new_snap, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("old_cents").isNull() & F.col("old_status").isNull(), "added")
        .when(F.col("new_cents").isNull() & F.col("new_status").isNull(), "deleted")
        .otherwise("changed")
    )
    return (
        joined.withColumn("change_type", change)
        .where(
            (F.col("change_type") != "changed")
            | (F.col("old_status") != F.col("new_status"))
            | (F.col("old_cents") != F.col("new_cents"))
        )
        .select("o_orderkey", "change_type", "old_cents", "new_cents")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# q_scd2_asof — point-in-time lookup over SCD2 validity intervals
# ---------------------------------------------------------------------------

SCD2_ASOF_EPOCH = 820540800  # 1996-01-02 00:00 UTC — mid-history probe instant


@query(
    "q_scd2_asof",
    oracle=f"""
    WITH hist AS (
      SELECT o_custkey,
             CAST(epoch(o_orderdate) AS BIGINT) AS valid_from,
             CAST(epoch(LEAD(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS BIGINT)
               AS valid_to,
             {cents_sql("o_totalprice")} AS price_cents
      FROM orders
    )
    SELECT o_custkey, valid_from, price_cents
    FROM hist
    WHERE valid_from <= {SCD2_ASOF_EPOCH}
      AND (valid_to IS NULL OR valid_to > {SCD2_ASOF_EPOCH})
    ORDER BY o_custkey, valid_from
    """,
)
def q_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) read over the SCD2 dimension history:
    for a fixed probe instant, select each customer's row whose
    validity interval contains it — the consumption side of
    q_scd2_build, and what every temporal-table query compiles to.

    One window (the same partitioning the build pays) + a per-row
    interval predicate; no join at all, because interval containment
    against a CONSTANT instant is a filter. A probe against a column
    of instants would become q_join_asof's union-and-window shape.
    Ties on (custkey, date) are broken by orderkey in the interval
    construction, so at most one interval per customer contains the
    probe... except same-timestamp changes, where each gets a
    zero-length or duplicate-from interval — both engines construct
    them identically, so the hash agrees."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = o.select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").cast("long").alias("valid_from"),
        F.lead("o_orderdate")
        .over(w)
        .cast("timestamp")
        .cast("long")
        .alias("valid_to"),
        cents("o_totalprice").alias("price_cents"),
    )
    return (
        hist.where(
            (F.col("valid_from") <= SCD2_ASOF_EPOCH)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > SCD2_ASOF_EPOCH))
        )
        .select("o_custkey", "valid_from", "price_cents")
        .orderBy("o_custkey", "valid_from")
    )


# ---------------------------------------------------------------------------
# q_scd2_join — transaction-time dimension lookup (AS-OF join over SCD2)
# ---------------------------------------------------------------------------


@query(
    "q_scd2_join",
    oracle=f"""
    WITH hist AS (
      SELECT o_custkey,
             CAST(epoch(o_orderdate) AS BIGINT) AS valid_from,
             CAST(epoch(LEAD(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) AS BIGINT)
               AS valid_to,
             {cents_sql("o_totalprice")} AS price_cents
      FROM orders
    ),
    ev AS (
      SELECT event_id, user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch
      FROM events
    )
    SELECT e.event_id, e.user_id, e.ts_epoch,
           h.valid_from AS version_from, h.price_cents
    FROM ev e LEFT JOIN hist h
      ON e.user_id = h.o_custkey
     AND e.ts_epoch >= h.valid_from
     AND (h.valid_to IS NULL OR e.ts_epoch < h.valid_to)
    """,
)
def q_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-time dimension lookup: every event joined to the
    customer's SCD2 version valid AT THE EVENT'S OWN TIMESTAMP — the
    per-row generalization of q_scd2_asof's constant-instant filter,
    and the single most common temporal-warehouse join ("what did
    this customer's record say when the event happened?").

    Spark-first shape: NOT an interval join. Dimension-change rows
    and event rows UNION into one relation, one window per customer
    ordered by (time, kind, change-ordinal), and each event reads the
    last non-null dimension attributes before it — the q_join_asof
    union-and-window pattern, so the whole lookup costs ONE Exchange
    keyed on the dimension key, independent of how many versions an
    interval join would bin-pack. Version rows sort BEFORE events at
    the same instant (a version is valid from its own timestamp,
    inclusive), and same-timestamp version ties resolve by orderkey —
    exactly the intervals q_scd2_build constructs.

    The oracle is deliberately the OTHER formulation (a genuine
    interval join over the derived validity intervals): the two
    implementations cross-validate; zero-length same-date intervals
    exclude themselves there precisely as the window's tie-break does
    here. Events before a customer's first version keep NULL
    attributes (left-join semantics on both sides)."""
    o = load(spark, sf_dir, "orders")
    ev = load(spark, sf_dir, "events")
    dim = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("t"),
        F.lit(0).alias("kind"),
        F.col("o_orderkey").alias("ord"),
        cents("o_totalprice").alias("price_cents"),
        F.lit(None).cast("long").alias("event_id"),
    )
    evu = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("t"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("ord"),
        F.lit(None).cast("long").alias("price_cents"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "kind", "ord")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # version_from must come from the SAME row as the price: carry the
    # dim row's own t and take the last non-null of both
    dim_t = F.when(F.col("kind") == 0, F.col("t"))
    merged = dim.unionByName(evu).select(
        "user_id",
        "t",
        "kind",
        "event_id",
        F.last(dim_t, ignorenulls=True).over(w).alias("version_from"),
        F.last("price_cents", ignorenulls=True).over(w).alias("price_at"),
    )
    return merged.where(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.col("t").alias("ts_epoch"),
        "version_from",
        F.col("price_at").alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# q_incremental_join_view — delta maintenance of a join materialization
# ---------------------------------------------------------------------------


@query(
    "q_incremental_join_view",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
           {cents_sql("l.l_extendedprice")} AS price_cents,
           (o.o_orderdate < DATE '{INCR_SPLIT_DATE}') AS order_is_base,
           (l.l_shipdate  < DATE '{INCR_SPLIT_DATE}') AS line_is_base
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialization — the join
    half of IVM (q_incremental_agg covers the aggregate half). The
    stored view is O_base |><| L_base (orders placed / lines shipped
    before the split date). When the delta partitions arrive, the view
    is NOT recomputed: the update is the three delta quadrants
      (O_delta |><| L_base) + (O_base |><| L_delta) + (O_delta |><| L_delta)
    appended to the stored view — valid because the four quadrants
    PARTITION O x L (every joined pair lands in exactly one). An old
    order shipping a new lineitem lands in the O_base x L_delta
    quadrant — the realistic case that makes join IVM non-trivial.
    The oracle recomputes the full join, proving base + deltas = world.

    Scale shape: the stored quadrant is a read, never a join; each
    delta quadrant joins a DELTA (a day's arrivals at 100 TB — orders
    of magnitude smaller than the base) against one base table on the
    join key, broadcast- or co-partition-friendly. Recompute cost
    tracks the delta size, not the table size — the entire point of
    incremental view maintenance."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        (F.col("o_orderdate") < INCR_SPLIT_DATE).alias("order_is_base"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        cents("l_extendedprice").alias("price_cents"),
        (F.col("l_shipdate") < INCR_SPLIT_DATE).alias("line_is_base"),
    )
    o_base, o_delta = o.where("order_is_base"), o.where("NOT order_is_base")
    l_base, l_delta = li.where("line_is_base"), li.where("NOT line_is_base")

    def quadrant(os_, ls_):
        return os_.join(ls_, os_.o_orderkey == ls_.l_orderkey).select(
            "l_orderkey", "l_linenumber", "o_custkey", "price_cents",
            "order_is_base", "line_is_base",
        )

    stored = quadrant(o_base, l_base)  # the materialization (here: derived)
    return (
        stored
        .unionByName(quadrant(o_delta, l_base))
        .unionByName(quadrant(o_base, l_delta))
        .unionByName(quadrant(o_delta, l_delta))
    )


# ---------------------------------------------------------------------------
# q_events_funnel_time — time-to-convert distribution per signup cohort
# ---------------------------------------------------------------------------


@query(
    "q_events_funnel_time",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(MIN(FLOOR(epoch(ts))) AS BIGINT) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             CAST(MIN(FLOOR(epoch(e.ts))) AS BIGINT) AS t_purchase,
             CAST(ANY_VALUE(s.t_signup) AS BIGINT) AS t_signup
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND FLOOR(epoch(e.ts)) > s.t_signup
      GROUP BY e.user_id
    ),
    conv AS (
      SELECT user_id,
             CAST(FLOOR(t_signup / 604800) AS BIGINT) AS cohort_week,
             t_purchase - t_signup AS secs
      FROM p
    ),
    r AS (
      SELECT cohort_week, secs,
             CAST(ROW_NUMBER() OVER (PARTITION BY cohort_week
                    ORDER BY secs, user_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY cohort_week) AS BIGINT) AS n
      FROM conv
    )
    SELECT cohort_week,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN secs END) AS BIGINT)
             AS median_secs,
           CAST(MIN(CASE WHEN rn = GREATEST(1, (n * 9) // 10) THEN secs END)
                AS BIGINT) AS p90_secs,
           CAST(MIN(secs) AS BIGINT) AS min_secs,
           CAST(MAX(secs) AS BIGINT) AS max_secs
    FROM r GROUP BY cohort_week
    """,
)
def q_events_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per signup cohort — the companion
    readout to q_funnel's WHO-converted: HOW LONG conversion takes
    (first signup → first subsequent purchase), summarized per weekly
    signup cohort with exact rank-pick median and p90 (the
    q_anomaly_mad discipline — never interpolated percentiles, so no
    float crosses the engine boundary). The product question this
    answers ("is activation getting slower for newer cohorts?") is
    the standard growth-team weekly.

    Exactness: epoch seconds are exact integers; cohort week is an
    integer division of the signup epoch; median rank (n+1)/2 and p90
    rank max(1, 9n/10) are integer expressions; ties on seconds break
    on user_id — a total order.

    Scale shape: every stage keys on user_id (two filtered scans with
    the event_type filter pushed down, each aggregated map-side), the
    convert join reuses the user partitioning, and the rank-pick
    windows partition by cohort week — bounded per cohort, the same
    shape as the per-series MAD windows. Output is one row per
    cohort week."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("long")).alias("t_signup"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts").cast("long") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("long")).alias("t_purchase"),
            F.first("t_signup").alias("t_signup"),
        )
    )
    conv = p.select(
        "user_id",
        F.floor(F.col("t_signup") / 604800).cast("long").alias("cohort_week"),
        (F.col("t_purchase") - F.col("t_signup")).alias("secs"),
    )
    wk = W.partitionBy("cohort_week")
    r = conv.select(
        "cohort_week",
        "secs",
        F.row_number().over(wk.orderBy("secs", "user_id")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wk).cast("long").alias("n"),
    )
    return r.groupBy("cohort_week").agg(
        F.first("n").alias("n_converted"),
        F.min(
            F.when(
                F.col("rn") == F.expr("CAST((n + 1) div 2 AS BIGINT)"),
                F.col("secs"),
            )
        )
        .cast("long")
        .alias("median_secs"),
        F.min(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.expr("CAST((n * 9) div 10 AS BIGINT)")),
                F.col("secs"),
            )
        )
        .cast("long")
        .alias("p90_secs"),
        F.min("secs").cast("long").alias("min_secs"),
        F.max("secs").cast("long").alias("max_secs"),
    )
