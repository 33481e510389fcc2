"""Data-quality, layout, and pipeline-hygiene operators.

The operational layer a 100 TB warehouse runs *around* its queries:
constraint audits (q_dq_audit), join-key skew diagnostics
(q_skew_profile), incremental cross-batch dedup (q_dedup_incremental),
character-entropy quality scoring (q_text_entropy), and Z-order
multi-dimensional layout (q_zorder_layout).

Scale theme: every operator here is either a single-scan aggregate
(audit, entropy — pure codegen expressions fused into the parquet
scan), one hash shuffle on a content key (incremental dedup), or one
range exchange (Z-order sort — exactly the shuffle a layout rewrite
must pay). Nothing is quadratic; nothing collects unbounded state to
the driver.

Reference provenance: the reference has no data-quality layer; these
keys extend the driver-mandated training-pipeline surface (SURVEY.md
§2.3) the same way llm_pipeline.py does. The Z-order key is the batch
analog of the reference's ID-range locality rounds (Runner.java:269-274
— restrict work to a dense ID window so the working set fits cache):
both map a multi-dimensional access pattern onto a 1-D layout that
prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import cents, cents_sql, floor_round_sql, prefix_sum
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load

# ---------------------------------------------------------------------------
# q_dq_audit — constraint audit as a single-pass violation ledger
# ---------------------------------------------------------------------------


@query(
    "q_dq_audit",
    oracle="""
    SELECT 'lineitem_null_key' AS check_name,
           CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_flag_domain',
           CAST(COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_orphan_fk',
           CAST(COUNT(*) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ORDER BY check_name
    """,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit: one row per check with its
    violation count — null keys, domain violations, range violations,
    duplicate primary keys, and foreign-key orphans.

    Scale shape: the four row-level lineitem checks fuse into ONE
    scan (a single aggregate of count_if expressions — whole-stage
    codegen, no shuffle beyond the final 1-row reduce). The PK check
    is one count-distinct on orders; the FK-orphan check is a
    left-anti join, the only exchange keyed on o_orderkey. At 100 TB
    this is exactly the audit you can afford to run on every
    ingestion batch: no check reads the data twice."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    row_checks = li.agg(
        F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias("null_key"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("bad_qty"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).alias("bad_disc"),
        F.count(F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1)).alias(
            "bad_flag"
        ),
        F.count(F.lit(1)).alias("n_li"),
    )
    pk = o.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("dup_pk"),
        F.count(F.lit(1)).alias("n_o"),
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    # Three bounded (1-row) aggregates cross-joined into the ledger —
    # each input is a scalar, so the "cross join" is a literal fold.
    combined = row_checks.crossJoin(pk).crossJoin(orphans)
    ledger = combined.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lineitem_null_key").alias("check_name"),
                    F.col("null_key").alias("violations"),
                    F.col("n_li").alias("checked"),
                ),
                F.struct(
                    F.lit("lineitem_nonpositive_qty").alias("check_name"),
                    F.col("bad_qty").alias("violations"),
                    F.col("n_li").alias("checked"),
                ),
                F.struct(
                    F.lit("lineitem_discount_range").alias("check_name"),
                    F.col("bad_disc").alias("violations"),
                    F.col("n_li").alias("checked"),
                ),
                F.struct(
                    F.lit("lineitem_flag_domain").alias("check_name"),
                    F.col("bad_flag").alias("violations"),
                    F.col("n_li").alias("checked"),
                ),
                F.struct(
                    F.lit("orders_duplicate_pk").alias("check_name"),
                    F.col("dup_pk").alias("violations"),
                    F.col("n_o").alias("checked"),
                ),
                F.struct(
                    F.lit("lineitem_orphan_fk").alias("check_name"),
                    F.col("n_orphans").alias("violations"),
                    F.col("n_li").alias("checked"),
                ),
            )
        ).alias("c")
    ).select("c.check_name", "c.violations", "c.checked")
    return ledger.orderBy("check_name")


# ---------------------------------------------------------------------------
# q_skew_profile — join-key skew diagnostics
# ---------------------------------------------------------------------------

SKEW_TOP = 10


@query(
    "q_skew_profile",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM per_key
    )
    SELECT p.user_id AS key, CAST(p.cnt AS BIGINT) AS cnt,
           CAST(FLOOR(p.cnt * 10000.0 / s.total) AS BIGINT) AS share_bp,
           CAST(CEIL(s.max_cnt * s.n_keys * 1.0 / s.total) AS BIGINT)
             AS salt_factor
    FROM per_key p, stats s
    ORDER BY p.cnt DESC, p.user_id
    LIMIT {SKEW_TOP}
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top heavy-hitter keys with
    their row counts, share of the table in basis points, and the
    recommended salt factor (max-key rows / average-key rows, rounded
    up) — the number a salted join (q_join_salted) would use.

    Scale shape: one groupBy shuffle on the key (map-side partial
    counts), then a broadcast 1-row stats scalar and a bounded top-N
    (TakeOrderedAndProject — no global sort materialization). This is
    the diagnostic you run BEFORE a big join to decide broadcast vs
    salt vs AQE-skew; all derived columns are integer-exact
    (floor/ceil on integer ratios) so the oracle is bit-stable."""
    e = load(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_key.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    out = (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            F.col("user_id").alias("key"),
            F.col("cnt"),
            F.floor(F.col("cnt") * 10000.0 / F.col("total")).alias("share_bp"),
            F.ceil(
                F.col("max_cnt") * F.col("n_keys") * F.lit(1.0) / F.col("total")
            ).alias("salt_factor"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(SKEW_TOP)
    )
    return out


# ---------------------------------------------------------------------------
# q_dedup_incremental — cross-batch dedup against a content registry
# ---------------------------------------------------------------------------


@query(
    "q_dedup_incremental",
    oracle="""
    WITH registry AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
    ),
    novel AS (
      SELECT b.doc_id, b.h FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM registry r WHERE r.h = b.h)
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, h AS content_hash,
           COUNT(*) AS n_in_batch
    FROM novel GROUP BY h
    ORDER BY keep_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) dedup: an arriving batch (doc_id %
    10 == 0 stands in for "today's crawl") is deduped against the
    accumulated content-hash registry (everything else), then within
    itself — the shape every continuously-ingesting training pipeline
    runs per batch.

    Scale shape: the registry never rematerializes documents — only
    md5 digests shuffle. One anti-join on the 32-byte hash + one
    groupBy on the same key, so both stages reuse a single hash
    partitioning. At 100 TB the registry is a compacted parquet of
    digests (tiny relative to text) and each new batch pays
    O(batch + registry-probe), never O(corpus²)."""
    d = load(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    registry = hashed.filter(F.col("doc_id") % 10 != 0).select("h").distinct()
    batch = hashed.filter(F.col("doc_id") % 10 == 0)
    novel = batch.join(registry, "h", "left_anti")
    return (
        novel.groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_in_batch"),
        )
        .select("keep_id", F.col("h").alias("content_hash"), "n_in_batch")
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# q_text_entropy — character-class entropy quality signal
# ---------------------------------------------------------------------------

# Fixed symbol alphabet: the 26 ASCII letters, space, and an implicit
# "other" bucket. Counting via length(x) - length(replace(x, s, ''))
# keeps the whole computation inside per-row codegen expressions —
# no explode, no shuffle — which is what makes it affordable as an
# always-on quality column at corpus scale.
_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]


def _count_expr_sql(sym: str) -> str:
    lit = "' '" if sym == " " else f"'{sym}'"
    return f"(length(t) - length(replace(t, {lit}, '')))"


@query(
    "q_text_entropy",
    oracle=f"""
    WITH lowered AS (
      SELECT doc_id, lower(text) AS t FROM documents
    ),
    counts AS (
      SELECT doc_id, length(t) AS n,
             {", ".join(f"{_count_expr_sql(s)} AS c{i}" for i, s in enumerate(_ALPHABET))}
      FROM lowered
    ),
    with_other AS (
      SELECT *, n - ({" + ".join(f"c{i}" for i in range(len(_ALPHABET)))}) AS c_other
      FROM counts
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           ROUND(-(
             {" + ".join(
                 f"CASE WHEN c{i} > 0 THEN (c{i} * 1.0 / n) * ln(c{i} * 1.0 / n) ELSE 0 END"
                 for i in range(len(_ALPHABET))
             )}
             + CASE WHEN c_other > 0 THEN (c_other * 1.0 / n) * ln(c_other * 1.0 / n) ELSE 0 END
           ) / ln(2), 4) AS entropy_bits
    FROM with_other
    WHERE n > 0
    ORDER BY doc_id
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class Shannon entropy per document over a fixed
    27+1-symbol alphabet (a-z, space, other) — the cheap quality
    signal that separates natural text (~4 bits) from boilerplate,
    base64 blobs, and single-char spam (~0 bits).

    Scale shape: symbol counts come from length(replace(...)) — 27
    pure string expressions per row, fused into the scan by
    whole-stage codegen; entropy is arithmetic over those counts.
    ZERO shuffles, zero Python: the operator is a projection, so at
    100 TB it costs exactly one read pass and vectorizes."""
    d = load(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    n = F.length(t)
    counts = [F.length(t) - F.length(F.replace(t, F.lit(s), F.lit(""))) for s in _ALPHABET]
    c_other = n - sum(counts[1:], counts[0])
    ln2 = F.log(F.lit(2.0))

    def term(c):
        p = c * F.lit(1.0) / n
        return F.when(c > 0, p * F.log(p)).otherwise(F.lit(0.0))

    ent = -(sum((term(c) for c in counts[1:]), term(counts[0])) + term(c_other)) / ln2
    return (
        d.select(
            "doc_id",
            n.alias("n_chars"),
            F.round(ent, 4).alias("entropy_bits"),
        )
        .filter(F.col("n_chars") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_zorder_layout — Z-order (Morton curve) multi-dimensional layout
# ---------------------------------------------------------------------------

ZBITS = 8  # 8 bits per dimension -> 16-bit z-values
ZFILES = 16  # target layout files


def _interleave_sql(a: str, b: str) -> str:
    """Bit-interleave two {ZBITS}-bit ints: a's bit i -> bit 2i+1,
    b's bit i -> bit 2i. Plain integer arithmetic so the identical
    expression runs on Spark and DuckDB."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"(((({a} >> {i}) & 1)) * {1 << (2 * i + 1)})")
        terms.append(f"(((({b} >> {i}) & 1)) * {1 << (2 * i)})")
    return "(" + " + ".join(terms) + ")"


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH bucketed AS (
      SELECT p_partkey,
             CAST(p_size AS BIGINT) % {1 << ZBITS} AS da,
             CAST(FLOOR(p_retailprice) AS BIGINT) % {1 << ZBITS} AS db
      FROM part
    ),
    zvals AS (
      SELECT p_partkey, da, db, {_interleave_sql("da", "db")} AS zval
      FROM bucketed
    ),
    filed AS (
      SELECT *, CAST(FLOOR(({ZFILES} * 1.0) *
               (ROW_NUMBER() OVER (ORDER BY zval, p_partkey) - 1)
               / (SELECT COUNT(*) FROM zvals)) AS BIGINT) AS file_id
      FROM zvals
    )
    SELECT file_id, COUNT(*) AS n_rows,
           CAST(MIN(da) AS BIGINT) AS min_size, CAST(MAX(da) AS BIGINT) AS max_size,
           CAST(MIN(db) AS BIGINT) AS min_price, CAST(MAX(db) AS BIGINT) AS max_price
    FROM filed GROUP BY file_id ORDER BY file_id
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout: interleave the bits of two bucketized
    dimensions (p_size, floor(p_retailprice)) into a Morton z-value,
    sort the table along the curve, cut it into equal files, and
    report each file's min/max per dimension — the zone map a
    z-ordered rewrite buys. Because the curve preserves locality in
    BOTH dimensions, a predicate on either column prunes most files
    (verified by the bounded min/max spans per file).

    Batch analog of the reference's ID-range locality rounds
    (Runner.java:269-274): map the access pattern onto a 1-D order so
    each unit of work touches a bounded region.

    Scale shape: the z-value is per-row integer arithmetic (fused
    into the scan); the sort is ONE range exchange — the same
    shuffle any layout rewrite must pay — and file assignment is
    rank arithmetic inside it. At 100 TB this runs as
    repartitionByRange(zval).sortWithinPartitions + write; here the
    file cut is computed exactly (global row_number) so the oracle
    can check the zone map bit-for-bit."""
    p = load(spark, sf_dir, "part")
    b = p.select(
        "p_partkey",
        (F.col("p_size").cast("long") % (1 << ZBITS)).alias("da"),
        (F.floor("p_retailprice").cast("long") % (1 << ZBITS)).alias("db"),
    )
    z = b.withColumn("zval", F.expr(_interleave_sql("da", "db")))
    # Distributed curve ranking (functions.prefix_sum, by=None — the
    # shared range-partition/offset pattern): a bounded-scalar
    # collect instead of the single-task global window that would
    # funnel the table at scale.
    ranked = prefix_sum(z, ["zval", "p_partkey"], "rk", n_parts=ZFILES)
    filed = ranked.withColumn(
        "file_id",
        F.floor(F.lit(float(ZFILES)) * (F.col("rk") - 1) / F.col("_total")),
    )
    return (
        filed.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("da").alias("min_size"),
            F.max("da").alias("max_size"),
            F.min("db").alias("min_price"),
            F.max("db").alias("max_price"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# q_join_cardinality — pre-flight join output estimation
# ---------------------------------------------------------------------------

CARD_TOP = 10


@query(
    "q_join_cardinality",
    oracle=f"""
    WITH l AS (SELECT l_orderkey AS k, COUNT(*) AS nl FROM lineitem GROUP BY 1),
    o AS (SELECT o_orderkey AS k, COUNT(*) AS no FROM orders GROUP BY 1),
    m AS (
      SELECT l.k, l.nl, o.no, CAST(l.nl * o.no AS BIGINT) AS out_rows
      FROM l JOIN o USING (k)
    ),
    tot AS (SELECT CAST(SUM(out_rows) AS BIGINT) AS total_out FROM m)
    SELECT m.k AS key, m.nl, m.no, m.out_rows, t.total_out
    FROM m, tot t
    ORDER BY m.out_rows DESC, m.k
    LIMIT {CARD_TOP}
    """,
)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join cardinality estimate for lineitem ⋈ orders:
    exact per-key output contributions (n_left × n_right) plus the
    total output row count — the reconnaissance that decides whether
    a join is safe to run, needs a key-level cap, or signals a data
    bug (a key with out_rows ≫ mean is the classic accidental many-to-many).

    Scale shape: two map-side-combined groupBys (each input reduced
    to per-key counts BEFORE any join — the count tables are orders
    of magnitude smaller than the data), one equi-join of count
    tables, a broadcast 1-row total, and a bounded
    TakeOrderedAndProject. The estimate costs a scan of each side's
    join column, never the join itself."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    l_cnt = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    o_cnt = o.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("no")
    )
    m = l_cnt.join(o_cnt, "key").withColumn(
        "out_rows", (F.col("nl") * F.col("no")).cast("long")
    )
    tot = m.agg(F.sum("out_rows").cast("long").alias("total_out"))
    return (
        m.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("out_rows"), "key")
        .limit(CARD_TOP)
        .select("key", "nl", "no", "out_rows", "total_out")
    )


# ---------------------------------------------------------------------------
# q_privacy_kanon — k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

KANON_K = 5


@query(
    "q_privacy_kanon",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) AS class_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT COUNT(*) AS n_classes,
           CAST(COUNT(*) FILTER (WHERE class_size < {KANON_K}) AS BIGINT)
             AS n_violating_classes,
           CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < {KANON_K}), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(SUM(class_size) AS BIGINT) AS n_rows
    FROM classes
    """,
)
def q_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group the table by its quasi-identifier
    tuple (nation, market segment, account-balance band) and report
    how many equivalence classes fall below k={KANON_K} members and
    how many rows those classes expose — the re-identification-risk
    check a dataset must pass before release or training use.

    Scale shape: one map-side-combined groupBy on the QI tuple, then
    a 1-row aggregate over the (much smaller) class table. The
    balance band is floor-integerized so the banding is engine-exact.
    At 100 TB the class table is bounded by the QI domain product,
    not the row count."""
    c = load(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    small = F.when(F.col("class_size") < KANON_K, F.col("class_size"))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.count(small).alias("n_violating_classes"),
        F.coalesce(F.sum(small), F.lit(0)).cast("long").alias("n_rows_at_risk"),
        F.min("class_size").alias("min_class_size"),
        F.sum("class_size").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q_privacy_erase — right-to-be-forgotten deletion sweep
# ---------------------------------------------------------------------------

ERASE_MOD = 97  # user_id % ERASE_MOD == 0 stands in for the deletion list


@query(
    "q_privacy_erase",
    oracle=f"""
    WITH del AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {ERASE_MOD} = 0
    ),
    marked AS (
      SELECT e.user_id, e.event_id,
             (d.user_id IS NOT NULL) AS to_erase
      FROM events e LEFT JOIN del d ON e.user_id = d.user_id
    )
    SELECT CAST(COUNT(*) FILTER (WHERE to_erase) AS BIGINT) AS n_erased,
           CAST(COUNT(*) FILTER (WHERE NOT to_erase) AS BIGINT) AS n_kept,
           CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_subjects,
           CAST(MIN(CASE WHEN NOT to_erase THEN user_id END) AS BIGINT)
             AS min_kept_user,
           md5(string_agg(CAST(event_id AS VARCHAR), ','
               ORDER BY event_id) FILTER (WHERE to_erase)) AS erased_digest
    FROM marked
    """,
)
def q_privacy_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep: given a deletion list (user_id %
    {ERASE_MOD} == 0 stands in for the legal request queue), account
    for every event to erase vs keep, and emit an order-canonical
    digest of the erased event ids — the audit artifact a GDPR/CCPA
    erasure run must produce BEFORE the destructive rewrite.

    Scale shape: the deletion list is tiny and broadcasts; the sweep
    is one scan with a broadcast-semi membership flag. The digest is
    md5 over the sorted erased ids, so two independent runs (or two
    engines) prove they would delete the IDENTICAL row set. The
    subsequent rewrite is the anti-join side of the same plan."""
    e = load(spark, sf_dir, "events")
    del_list = (
        e.where(F.col("user_id") % ERASE_MOD == 0).select("user_id").distinct()
    )
    marked = e.join(
        F.broadcast(del_list.withColumn("to_erase", F.lit(True))),
        "user_id",
        "left",
    ).select(
        "user_id",
        "event_id",
        F.coalesce("to_erase", F.lit(False)).alias("to_erase"),
    )
    # ONE aggregate pass over the marked events: counts, subject count,
    # and the canonical digest (collect_list skips the NULLs the when()
    # leaves for kept rows; sort_array makes the order partition-proof)
    erased_id = F.when(F.col("to_erase"), F.col("event_id"))
    erased_user = F.when(F.col("to_erase"), F.col("user_id"))
    return marked.agg(
        F.count(erased_id).alias("n_erased"),
        F.count(F.when(~F.col("to_erase"), 1)).alias("n_kept"),
        F.count_distinct(erased_user).alias("n_subjects"),
        F.min(F.when(~F.col("to_erase"), F.col("user_id"))).alias("min_kept_user"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(erased_id)),
                    lambda v: v.cast("string"),
                ),
            )
        ).alias("erased_digest"),
    ).select("n_erased", "n_kept", "n_subjects", "min_kept_user", "erased_digest")


# ---------------------------------------------------------------------------
# q_time_backfill_gaps — missing-partition detection
# ---------------------------------------------------------------------------


@query(
    "q_time_backfill_gaps",
    oracle="""
    WITH bounds AS (
      SELECT CAST(epoch(date_trunc('day', MIN(ts))) AS BIGINT) AS lo,
             CAST(epoch(date_trunc('day', MAX(ts))) AS BIGINT) AS hi
      FROM events
    ),
    expected AS (
      SELECT UNNEST(range(lo, hi + 86400, 86400)) AS day_epoch FROM bounds
    ),
    present AS (
      SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch
      FROM events
    )
    SELECT (SELECT COUNT(*) FROM expected) AS n_expected,
           (SELECT COUNT(*) FROM present) AS n_present,
           CAST(COUNT(*) AS BIGINT) AS n_missing,
           CAST(COALESCE(MIN(e.day_epoch), -1) AS BIGINT) AS first_missing
    FROM expected e
    WHERE NOT EXISTS (SELECT 1 FROM present p WHERE p.day_epoch = e.day_epoch)
    """,
)
def q_time_backfill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-partition detection: compare the calendar of days the
    table SHOULD contain (min..max of the data) against the days
    actually present, and report the backfill work list size — the
    first question an on-call asks when a dashboard dips.

    Scale shape: presence reduces to one distinct-day aggregate
    (map-side combined, output bounded by the calendar); the expected
    calendar generates from two scalars via sequence(); the anti join
    runs on day keys — hundreds of rows however big the table is."""
    e = load(spark, sf_dir, "events")
    days = e.select(
        F.date_trunc("day", "ts").cast("long").alias("day_epoch")
    )
    bounds = days.agg(
        F.min("day_epoch").alias("lo"), F.max("day_epoch").alias("hi")
    )
    expected = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(86400))
        ).alias("day_epoch")
    )
    present = days.distinct()
    missing = expected.join(present, "day_epoch", "left_anti")
    n_expected = expected.agg(F.count(F.lit(1)).alias("n_expected"))
    n_present = present.agg(F.count(F.lit(1)).alias("n_present"))
    return (
        missing.agg(
            F.count(F.lit(1)).alias("n_missing"),
            F.coalesce(F.min("day_epoch"), F.lit(-1)).alias("first_missing"),
        )
        .crossJoin(F.broadcast(n_expected))
        .crossJoin(F.broadcast(n_present))
        .select("n_expected", "n_present", "n_missing", "first_missing")
    )


# ---------------------------------------------------------------------------
# q_privacy_mask — deterministic pseudonymization + generalization
# ---------------------------------------------------------------------------


@query(
    "q_privacy_mask",
    oracle="""
    SELECT SUBSTRING(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS pseudo_id,
           'cust-' || SUBSTRING(md5(c_name), 1, 12) AS name_mask,
           c_nationkey,
           c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
    FROM customer
    """,
)
def q_privacy_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level masking — the REMEDIATION for what q_privacy_kanon
    audits: direct identifiers are pseudonymized with a deterministic
    keyed digest (md5 here; production swaps an HMAC with a vaulted
    key — same plan shape), and the sensitive numeric generalizes to
    a band. Deterministic pseudonyms preserve joinability: two tables
    masked the same way still join on pseudo_id, which is why masking
    beats dropping the column for analytics use.

    Scale shape: a pure per-row projection — zero shuffles, whole-
    stage codegen, trivially parallel at any size. The oracle proves
    the mask is engine-exact (md5 of the same UTF-8 bytes), i.e. the
    pseudonymization is a FUNCTION of the data, not of the engine."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16).alias(
            "pseudo_id"
        ),
        F.concat(
            F.lit("cust-"), F.substring(F.md5(F.col("c_name")), 1, 12)
        ).alias("name_mask"),
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )


# ---------------------------------------------------------------------------
# q_quality_psi — population-stability-index drift detection
# ---------------------------------------------------------------------------

PSI_BIN_CENTS = 2_000  # $20-wide value bins (~28 observed bins)


@query(
    "q_quality_psi",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {cents_sql("value")} // {PSI_BIN_CENTS} AS bin,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
    ),
    b AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM c),
    counts AS (
      SELECT event_type, bin,
             CAST(COUNT(*) FILTER (WHERE us <  (SELECT mid FROM b)) AS BIGINT) AS na,
             CAST(COUNT(*) FILTER (WHERE us >= (SELECT mid FROM b)) AS BIGINT) AS nb
      FROM c GROUP BY event_type, bin
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
             CAST(COUNT(*) AS BIGINT) AS nbins
      FROM counts GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type, t.ta, t.tb,
             (CAST(c.na + 1 AS DOUBLE) / CAST(t.ta + t.nbins AS DOUBLE)) AS p,
             (CAST(c.nb + 1 AS DOUBLE) / CAST(t.tb + t.nbins AS DOUBLE)) AS q
      FROM counts c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           MIN(ta) AS n_first_half, MIN(tb) AS n_second_half,
           {floor_round_sql("SUM((p - q) * ln(p / q))", 6)} AS psi
    FROM terms GROUP BY event_type
    """,
)
def q_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event series: the standard
    training-serving / period-over-period DRIFT detector — split the
    stream at its time midpoint, histogram the metric into fixed $20
    bins, and score Σ (p−q)·ln(p/q) between the two periods' bin
    shares (rule of thumb: <0.1 stable, >0.25 drifted). This is what a
    feature pipeline runs before retraining and what an ingest monitor
    alerts on when an upstream change shifts a distribution without
    breaking any schema.

    Engine-exactness: the midpoint split and the bin ids are pure
    integer arithmetic; bin counts are exact integers; Laplace
    smoothing ((n_i+1)/(N+B), B = observed bin count) keeps every
    bin's share positive without dropping bins present in only one
    period — p and q are then exact-rational doubles and the ln tail
    follows the tfidf/bigram-LM precedent (cross-engine log terms have
    hash-matched since round 2; an irrational sum never lands on a
    representable rounding half). Quantized at 1e-6.

    Scale shape: ONE partial-aggregable groupBy over (type, bin) with
    conditional counts — the midpoint is an aggregate-sized scalar,
    the per-type totals and the PSI reduction are bin-cardinality
    work. At 100 TB the histogram shuffle carries types × bins rows,
    nothing else."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(cents("value") / PSI_BIN_CENTS).cast("long").alias("bin"),
        F.unix_micros("ts").alias("us"),
    )
    # `div` is Spark's integer division — exact BIGINT semantics shared
    # with the oracle's `(MIN+MAX)//2`. A double `/2` then cast would
    # lose exactness once min(us)+max(us) exceeds 2^53 (µs epochs past
    # ~2112), silently diverging the split row-membership (ADVICE r7).
    b = ev.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid")
    )
    counts = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("event_type", "bin")
        .agg(
            F.sum((F.col("us") < F.col("mid")).cast("long")).alias("na"),
            F.sum((F.col("us") >= F.col("mid")).cast("long")).alias("nb"),
        )
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("nbins"),
    )
    p = (F.col("na") + 1).cast("double") / (F.col("ta") + F.col("nbins")).cast(
        "double"
    )
    q = (F.col("nb") + 1).cast("double") / (F.col("tb") + F.col("nbins")).cast(
        "double"
    )
    terms = counts.join(tot, "event_type").select(
        "event_type", "ta", "tb", p.alias("p"), q.alias("q")
    )
    return terms.groupBy("event_type").agg(
        F.min("ta").alias("n_first_half"),
        F.min("tb").alias("n_second_half"),
        F.expr(
            floor_round_sql("SUM((p - q) * ln(p / q))", 6)
        ).alias("psi"),
    )


# ---------------------------------------------------------------------------
# q_quality_ks — two-sample Kolmogorov-Smirnov drift test (PSI's twin)
# ---------------------------------------------------------------------------


@query(
    "q_quality_ks",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             {cents_sql("value")} AS cents,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
      WHERE value IS NOT NULL
    ),
    b AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM c),
    counts AS (
      SELECT event_type, cents,
             CAST(COUNT(*) FILTER (WHERE us <  (SELECT mid FROM b)) AS BIGINT) AS na,
             CAST(COUNT(*) FILTER (WHERE us >= (SELECT mid FROM b)) AS BIGINT) AS nb
      FROM c GROUP BY event_type, cents
    ),
    cum AS (
      SELECT event_type, cents,
             CAST(SUM(na) OVER w AS HUGEINT) AS ca,
             CAST(SUM(nb) OVER w AS HUGEINT) AS cb
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY cents)
    ),
    tot AS (
      SELECT event_type, MAX(ca) AS ta, MAX(cb) AS tb
      FROM cum GROUP BY event_type
    ),
    d AS (
      SELECT cum.event_type,
             MAX(ABS(cum.ca * t.tb - cum.cb * t.ta)) AS d_num
      FROM cum JOIN tot t USING (event_type)
      GROUP BY cum.event_type
    )
    SELECT t.event_type,
           CAST(t.ta AS BIGINT) AS n_first_half,
           CAST(t.tb AS BIGINT) AS n_second_half,
           CASE WHEN t.ta > 0 AND t.tb > 0
                THEN CAST((d.d_num * 1000000) // (t.ta * t.tb) AS BIGINT)
           END AS ks_ppm
    FROM tot t JOIN d USING (event_type)
    """,
)
def q_quality_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event series — the
    binning-free twin of q_quality_psi: split the stream at its exact
    integer time midpoint and report D = max_x |F_first(x) - F_second(x)|
    over the empirical CDFs of the cents-integerized metric. KS
    complements PSI exactly where PSI is weakest: it needs no bin
    width, detects shape shifts inside one bin, and is the classic
    distribution-equality test a feature store runs per column per
    release.

    Engine-exactness: D is a RATIONAL number — the maximum over
    observed levels of |ca·tb − cb·ta| / (ta·tb) with every term an
    exact integer. Both the cross-multiplied numerator (up to n² —
    accumulated as decimal(38,0)/HUGEINT, the q_agg_skew_kurtosis
    128-bit rule) and the final scaled quotient use INTEGER arithmetic
    only: ks_ppm = ⌊d_num·10⁶ / (ta·tb)⌋ via Spark `div` / DuckDB `//`
    — no float ever crosses the engine boundary (stronger than the
    FLOOR(x·10⁶+0.5) tail PSI needs for its logs).

    Scale shape: one partial-aggregable groupBy to per-(type, level)
    conditional counts, then ONE window pass per type over the
    DISTINCT VALUE LEVELS (bounded by the metric's domain — cents
    levels, not rows), then a per-type max. The evaluation grid is the
    union of observed levels, which is exactly where the empirical-CDF
    gap attains its max.

    NULL metric rows are filtered BEFORE the window on both sides (a
    NULL level is meaningless for a CDF) — latent-divergence guard:
    Spark's window ORDER BY sorts NULLS FIRST ascending while DuckDB
    defaults NULLS LAST, so an unfiltered NULL cents would silently
    shift the cumulative counts cross-engine (round-8 ADVICE)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            cents("value").alias("cents"),
            F.unix_micros("ts").alias("us"),
        )
    )
    b = ev.agg(F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid"))
    counts = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("event_type", "cents")
        .agg(
            F.sum((F.col("us") < F.col("mid")).cast("long")).alias("na"),
            F.sum((F.col("us") >= F.col("mid")).cast("long")).alias("nb"),
        )
    )
    w = W.partitionBy("event_type").orderBy("cents")
    cum = counts.select(
        "event_type",
        F.sum("na").over(w).cast("decimal(19,0)").alias("ca"),
        F.sum("nb").over(w).cast("decimal(19,0)").alias("cb"),
    )
    tot = cum.groupBy("event_type").agg(
        F.max("ca").alias("ta"), F.max("cb").alias("tb")
    )
    d = (
        cum.join(tot, "event_type")
        .select(
            "event_type",
            "ta",
            "tb",
            F.abs(
                F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")
            ).alias("num"),
        )
        .groupBy("event_type")
        .agg(
            F.min("ta").alias("ta"),
            F.min("tb").alias("tb"),
            F.max("num").alias("d_num"),
        )
    )
    # the degenerate one-sided series (ta or tb = 0 — every row on one
    # side of the midpoint) yields NULL, guarded EXPLICITLY: Spark's
    # ANSI `div` RAISES on a zero divisor while DuckDB `//` NULLs
    # (round-8 self-review probe) — the CASE makes both engines share
    # the NULL contract instead of diverging crash-vs-NULL
    return d.select(
        "event_type",
        F.col("ta").cast("long").alias("n_first_half"),
        F.col("tb").cast("long").alias("n_second_half"),
        F.expr(
            "CASE WHEN ta > 0 AND tb > 0 "
            "THEN (d_num * 1000000) div (ta * tb) END"
        ).cast("long").alias("ks_ppm"),
    )


# ---------------------------------------------------------------------------
# q_quality_benford — first-significant-digit law audit (fraud/DQ screen)
# ---------------------------------------------------------------------------


@query(
    "q_quality_benford",
    oracle=f"""
    WITH c AS (
      SELECT {cents_sql("value")} AS cents
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT CAST(substring(CAST(ABS(cents) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM c WHERE cents <> 0 GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d)
    SELECT d.digit, d.n,
           CAST((d.n * 1000000) // t.total AS BIGINT) AS obs_ppm,
           {cents_sql("ln(1.0 + 1.0 / d.digit) / ln(10.0)", 6)} AS benford_ppm,
           CAST((d.n * 1000000) // t.total
                - {cents_sql("ln(1.0 + 1.0 / d.digit) / ln(10.0)", 6)}
                AS BIGINT) AS dev_ppm
    FROM d CROSS JOIN t
    """,
)
def q_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over the metric
    stream — the classic fabricated-data / fraud screen, and the
    third drift tier next to q_quality_psi (binned, vs a prior period)
    and q_quality_ks (binning-free, vs a prior period): Benford
    compares against a FIXED law, so it needs no reference window and
    fires on day one.

    Exactness: the first significant digit is extracted from the
    STRING form of the exact integer cents (never via float log10,
    whose boundary behavior at exact powers of ten is engine-
    dependent); observed shares are integer-division ppm. The Benford
    expectation ln(1+1/d)/ln(10) is the one float tail — a per-digit
    constant quantized with the FLOOR(x*1e6+0.5) micro rule (the
    PSI/tfidf ln precedent; the nine constants sit far from rounding
    boundaries).

    Scale shape: one partial-aggregable groupBy to AT MOST nine digit
    rows, a 1-row broadcast total — aggregate-sized output regardless
    of row count."""
    c = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(cents("value").alias("cents"))
        .where(F.col("cents") != 0)
    )
    d = (
        c.groupBy(
            F.substring(F.abs(F.col("cents")).cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # the ≤9-row digit table feeds TWO consumers (the total and
        # the final projection) — checkpoint it so the events scan +
        # aggregate run once (the shared-subtree rule, r9)
        .localCheckpoint()
    )
    t = d.agg(F.sum("n").cast("long").alias("total"))
    benford = cents_sql("ln(1.0 + 1.0 / digit) / ln(10.0)", 6)
    return d.crossJoin(F.broadcast(t)).selectExpr(
        "digit",
        "n",
        "CAST((n * 1000000) div total AS BIGINT) AS obs_ppm",
        f"{benford} AS benford_ppm",
        f"CAST((n * 1000000) div total - {benford} AS BIGINT) AS dev_ppm",
    )


# ---------------------------------------------------------------------------
# q_layout_compaction — small-file compaction planner (layout family)
# ---------------------------------------------------------------------------

COMPACT_TARGET_ROWS = 4000  # rows per compacted output file


@query(
    "q_layout_compaction",
    oracle=f"""
    WITH files AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
               AS part_month,
             CAST(l_suppkey % 16 AS BIGINT) AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1, 2
    )
    SELECT part_month, file_id, n_rows,
           CAST(COALESCE(SUM(n_rows) OVER (
                  PARTITION BY part_month ORDER BY n_rows, file_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) // {COMPACT_TARGET_ROWS} AS BIGINT) AS compact_group,
           n_rows < {COMPACT_TARGET_ROWS} // 4 AS is_small_file
    FROM files
    """,
)
def q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the layout-maintenance job that
    keeps a 100 TB table scannable: per partition (ship month), take
    the file inventory (here simulated as supplier-sharded row-count
    stats — at scale this comes from the table's file metadata, not a
    data scan) and greedily bin-pack files into compaction groups so
    each merged output lands near the target size. Greedy
    cumulative-sum packing: order files smallest-first (file_id
    tie-break), group = floor(rows-before-this-file / target) — files
    sharing a (partition, group) are rewritten as one. The
    smallest-first order means tiny files — the ones actually hurting
    the scan — merge together first, and the plan is a pure window
    cumsum: deterministic, integer-exact, one exchange on the
    partition key.

    Companion to q_zorder_layout (which orders rows WITHIN files) and
    q_skew_profile (which sizes the shuffle); is_small_file flags the
    read-amplification tail (< target/4)."""
    files = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("long")
            .alias("part_month"),
            (F.col("l_suppkey") % 16).cast("long").alias("file_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    return files.select(
        "part_month",
        "file_id",
        "n_rows",
        # integer `div`, never float /: the cumsum stays integer-exact
        F.expr(
            "CAST(coalesce(sum(n_rows) OVER ("
            "  PARTITION BY part_month ORDER BY n_rows, file_id"
            "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
            f"), 0) div {COMPACT_TARGET_ROWS} AS BIGINT)"
        ).alias("compact_group"),
        (F.col("n_rows") < COMPACT_TARGET_ROWS // 4).alias("is_small_file"),
    )


# ---------------------------------------------------------------------------
# q_privacy_ldiversity — l-diversity audit (privacy family)
# ---------------------------------------------------------------------------

LDIV_L = 3


@query(
    "q_privacy_ldiversity",
    oracle=f"""
    WITH rows_ AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
      FROM customer
    ),
    groups_ AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS n_sensitive
      FROM rows_ GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n_rows, n_sensitive,
           n_sensitive >= {LDIV_L} AS l_diverse
    FROM groups_
    """,
)
def q_privacy_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion check to q_privacy_kanon:
    k-anonymity alone fails when an equivalence class is large but
    every member shares the SAME sensitive value (the homogeneity
    attack); l-diversity demands each quasi-identifier group contain
    at least l={LDIV_L} distinct sensitive values (here the
    floor-integerized account-balance band, the kanon banding).

    Scale shape: one groupBy on the QI tuple with COUNT and
    COUNT(DISTINCT sensitive) — the distinct runs as the standard
    two-phase expand (partial per (QI, band), then per QI), both
    phases map-side combined; output is bounded by the QI domain
    product. Groups below l are flagged, not dropped — the caller
    decides suppress-vs-generalize."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("n_sensitive"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "n_rows",
        "n_sensitive",
        (F.col("n_sensitive") >= LDIV_L).alias("l_diverse"),
    )


# ---------------------------------------------------------------------------
# q_quality_freshness — per-series freshness / volume-drop audit
# ---------------------------------------------------------------------------

FRESH_STALE_DAYS = 2  # a series whose last event is older is stale
FRESH_WINDOW_DAYS = 7  # trailing vs prior volume comparison window


@query(
    "q_quality_freshness",
    oracle=f"""
    WITH byday AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    anchor AS (SELECT CAST(MAX(day) AS BIGINT) AS max_day FROM byday),
    g AS (
      SELECT event_type,
             CAST(MAX(day) AS BIGINT) AS last_day,
             CAST(ANY_VALUE(max_day) - MAX(day) AS BIGINT) AS lag_days,
             CAST(COALESCE(SUM(n) FILTER (
               WHERE day > max_day - {FRESH_WINDOW_DAYS}), 0) AS BIGINT)
               AS n_last7,
             CAST(COALESCE(SUM(n) FILTER (
               WHERE day <= max_day - {FRESH_WINDOW_DAYS}
                 AND day > max_day - {2 * FRESH_WINDOW_DAYS}), 0) AS BIGINT)
               AS n_prev7
      FROM byday CROSS JOIN anchor
      GROUP BY event_type
    )
    SELECT event_type, last_day, lag_days,
           lag_days >= {FRESH_STALE_DAYS} AS is_stale,
           n_last7, n_prev7,
           CAST(CASE WHEN n_prev7 > 0 THEN (n_last7 * 1000000) // n_prev7
                END AS BIGINT) AS volume_ratio_ppm
    FROM g
    """,
)
def q_quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series freshness and volume-drop audit — the on-call's
    second question after q_time_backfill_gaps' "which partitions are
    missing": has any event series gone QUIET (last event ≥
    {FRESH_STALE_DAYS} days before the feed's global high-water mark)
    or DROPPED (trailing {FRESH_WINDOW_DAYS}-day volume vs the prior
    window, as an integer ppm ratio)? Anchoring on the feed's own max
    day — never wall-clock now() — keeps the audit deterministic and
    engine-exact (and is what a backfill-safe monitor wants anyway:
    lag measured against the freshest data that DID arrive).

    Scale shape: ONE fact groupBy to the (series, day)-bounded daily
    table (localCheckpointed — it feeds the 1-row anchor AND the
    per-series rollup, the shared-subtree rule), a broadcast of the
    anchor, then a series-bounded aggregate with FILTER clauses — no
    second fact scan, output bounded by the series count. The ratio
    guards its zero denominator identically in both engines (ANSI div
    raises; DuckDB // NULLs — landmine g)."""
    byday = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()  # feeds the anchor AND the rollup
    )
    anchor = byday.agg(F.max("day").alias("max_day"))
    last7 = F.when(
        F.col("day") > F.col("max_day") - FRESH_WINDOW_DAYS, F.col("n")
    )
    prev7 = F.when(
        (F.col("day") <= F.col("max_day") - FRESH_WINDOW_DAYS)
        & (F.col("day") > F.col("max_day") - 2 * FRESH_WINDOW_DAYS),
        F.col("n"),
    )
    g = (
        byday.crossJoin(F.broadcast(anchor))
        .groupBy("event_type")
        .agg(
            F.max("day").alias("last_day"),
            (F.first("max_day") - F.max("day")).alias("lag_days"),
            F.coalesce(F.sum(last7), F.lit(0)).cast("long").alias("n_last7"),
            F.coalesce(F.sum(prev7), F.lit(0)).cast("long").alias("n_prev7"),
        )
    )
    return g.select(
        "event_type",
        "last_day",
        "lag_days",
        (F.col("lag_days") >= FRESH_STALE_DAYS).alias("is_stale"),
        "n_last7",
        "n_prev7",
        F.expr(
            "CAST(CASE WHEN n_prev7 > 0 THEN (n_last7 * 1000000) div n_prev7 "
            "END AS BIGINT)"
        ).alias("volume_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# q_privacy_tcloseness — t-closeness audit (privacy family, third leg)
# ---------------------------------------------------------------------------

TCLOSE_T_PCT = 35  # groups whose sensitive distribution is further than
                   # t = 0.35 (total variation distance) from the global
                   # distribution fail the audit


@query(
    "q_privacy_tcloseness",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n_gb
      FROM customer GROUP BY 1, 2, 3
    ),
    bands AS (SELECT bal_band, CAST(SUM(n_gb) AS BIGINT) AS n_b
              FROM cells GROUP BY bal_band),
    total AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM bands),
    groups_ AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(n_gb) AS BIGINT) AS n_g
      FROM cells GROUP BY 1, 2
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(ANY_VALUE(n_g) AS BIGINT) AS n_g,
             CAST(ANY_VALUE(n) AS BIGINT) AS n,
             CAST(SUM(ABS(n_gb * n - n_b * n_g)) AS BIGINT) AS vd_present,
             CAST(SUM(n_b * n_g) AS BIGINT) AS covered
      FROM cells
      JOIN bands USING (bal_band)
      JOIN groups_ USING (c_nationkey, c_mktsegment)
      CROSS JOIN total
      GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n_g,
           CAST(vd_present + (n_g * n - covered) AS BIGINT) AS vd_x,
           CAST((vd_present + (n_g * n - covered)) * 500000 // (n_g * n)
                AS BIGINT) AS tvd_ppm,
           (vd_present + (n_g * n - covered)) * 50
             <= {TCLOSE_T_PCT} * n_g * n AS t_close
    FROM g
    """,
)
def q_privacy_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the release-gate privacy
    trio: q_privacy_kanon bounds group SIZE, q_privacy_ldiversity
    demands sensitive-value VARIETY, but a group can pass both while
    its sensitive DISTRIBUTION still leaks (the skewness attack — 90%
    of one band in a group vs 10% globally). t-closeness bounds the
    total variation distance TVD(P_group, P_global) = ½·Σ_bands
    |p_gb − p_b| at t = {TCLOSE_T_PCT}/100. Same QI tuple and
    banded-sensitive column as the sibling audits.

    Exactness: cross-multiplied integers throughout — per present
    band, |n_gb·N − n_b·N_g|; bands ABSENT from a group contribute
    Σ_absent n_b·N_g = N·N_g − Σ_present n_b·N_g exactly, so the
    absent combinations are NEVER generated (no band-domain×QI-domain
    expansion). The flag compares 50·vd ≤ t_pct·N_g·N (ppm output is
    positive-only integer division). Bounds: the flag and vd_x need
    N_g·N < 9.2e18 (any table under ~3e9 rows per QI group); the
    tvd_ppm column is stricter — vd_x·5e5 wants N_g·N ≲ 9e12 — so at
    extreme scale keep the flag and re-derive the ppm with
    DECIMAL(38,0) sums.

    Scale shape: ONE fact groupBy to the (QI×band)-domain-bounded
    cell table, localCheckpointed (FOUR consumers: band totals, group
    sizes via re-aggregation, the scalar N, the cell join); every
    downstream aggregate and join runs on domain-bounded frames; band
    totals broadcast. Output is one row per QI group."""
    c = load(spark, sf_dir, "customer")
    cells = (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_gb"))
        .localCheckpoint()  # domain-bounded; four consumers below
    )
    bands = cells.groupBy("bal_band").agg(F.sum("n_gb").cast("long").alias("n_b"))
    total = bands.agg(F.sum("n_b").cast("long").alias("n"))
    groups = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_gb").cast("long").alias("n_g")
    )
    joined = (
        cells.join(F.broadcast(bands), "bal_band")
        .join(groups, ["c_nationkey", "c_mktsegment"])
        .crossJoin(F.broadcast(total))
    )
    g = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.first("n_g").alias("n_g"),
        F.first("n").alias("n"),
        F.sum(F.abs(F.col("n_gb") * F.col("n") - F.col("n_b") * F.col("n_g")))
        .cast("long")
        .alias("vd_present"),
        F.sum(F.col("n_b") * F.col("n_g")).cast("long").alias("covered"),
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "n_g",
        (F.col("vd_present") + (F.col("n_g") * F.col("n") - F.col("covered")))
        .cast("long")
        .alias("vd_x"),
        F.expr(
            "CAST((vd_present + (n_g * n - covered)) * 500000"
            " div (n_g * n) AS BIGINT)"
        ).alias("tvd_ppm"),
        (
            (F.col("vd_present") + (F.col("n_g") * F.col("n") - F.col("covered")))
            * 50
            <= TCLOSE_T_PCT * F.col("n_g") * F.col("n")
        ).alias("t_close"),
    )


# ---------------------------------------------------------------------------
# q_quality_abtest — two-proportion chi-square A/B significance test
# ---------------------------------------------------------------------------

# Pearson chi-square (1 dof, 2x2) from exact integer cells, cast to
# double ONCE each inside one shared expression text: chi2 =
# n * (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)), micro-quantized. d1 is
# computed exactly in 128-bit first (a*d alone wraps int64 at
# warehouse scale), then the single division happens in doubles.
_CHI2_MICRO = cents_sql("n * d1 * d1 / (ra * rb * ca * cb)", 6)
CHI2_95_MICRO = 3_841_459  # chi2_{1,0.95} = 3.841459 in micro units


@query(
    "q_quality_abtest",
    oracle=f"""
    WITH cells AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE o_custkey % 2 = 0
               AND o_orderpriority = '1-URGENT') AS BIGINT) AS a,
        CAST(COUNT(*) FILTER (WHERE o_custkey % 2 = 0
               AND o_orderpriority <> '1-URGENT') AS BIGINT) AS b,
        CAST(COUNT(*) FILTER (WHERE o_custkey % 2 = 1
               AND o_orderpriority = '1-URGENT') AS BIGINT) AS c,
        CAST(COUNT(*) FILTER (WHERE o_custkey % 2 = 1
               AND o_orderpriority <> '1-URGENT') AS BIGINT) AS d
      FROM orders
    ),
    m AS (
      SELECT a, b, c, d,
             CAST(a + b + c + d AS DOUBLE) AS n,
             CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c
                  AS DOUBLE) AS d1,
             CAST(a + b AS DOUBLE) AS ra, CAST(c + d AS DOUBLE) AS rb,
             CAST(a + c AS DOUBLE) AS ca, CAST(b + d AS DOUBLE) AS cb
      FROM cells
    )
    SELECT a AS succ_ctl, b AS fail_ctl, c AS succ_trt, d AS fail_trt,
           CAST((a * 1000000) // (a + b) AS BIGINT) AS rate_ctl_ppm,
           CAST((c * 1000000) // (c + d) AS BIGINT) AS rate_trt_ppm,
           {_CHI2_MICRO} AS chi2_micro,
           {_CHI2_MICRO} > {CHI2_95_MICRO} AS significant_95
    FROM m
    """,
)
def q_quality_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test — the experimentation
    readout every growth warehouse runs: did the treatment arm's
    conversion rate differ beyond chance? Pearson's chi-square on the
    2×2 (variant × converted) table, 1 dof, tested at 95%
    (chi² > 3.841459). The deterministic customer-parity split
    (custkey % 2) stands in for the experiment's hash-bucket
    assignment; conversion is the urgent-priority order flag (the
    q_feature_woe target).

    Exactness: the four cells are exact integers from ONE conditional
    aggregate; ad−bc forms in 128-bit (it wraps int64 at warehouse
    scale), every factor casts to double once, and the statistic is
    ONE shared expression text micro-quantized — the significance
    flag compares integers, so the verdict is engine-identical.

    Scale shape: a single scan with four codegen-fused conditional
    counts partial-aggregated map-side — the only thing that crosses
    the wire is one 4-integer combine row per partition. The 100 TB
    plan and the 60 kB plan are the same plan."""
    o = load(spark, sf_dir, "orders")
    ctl = F.col("o_custkey") % 2 == 0
    urgent = F.col("o_orderpriority") == "1-URGENT"
    cells = o.agg(
        F.count_if(ctl & urgent).cast("long").alias("a"),
        F.count_if(ctl & ~urgent).cast("long").alias("b"),
        F.count_if(~ctl & urgent).cast("long").alias("c"),
        F.count_if(~ctl & ~urgent).cast("long").alias("d"),
    )
    m = cells.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("double")
        .alias("n"),
        (
            F.col("a").cast("decimal(38,0)") * F.col("d")
            - F.col("b").cast("decimal(38,0)") * F.col("c")
        )
        .cast("double")
        .alias("d1"),
        (F.col("a") + F.col("b")).cast("double").alias("ra"),
        (F.col("c") + F.col("d")).cast("double").alias("rb"),
        (F.col("a") + F.col("c")).cast("double").alias("ca"),
        (F.col("b") + F.col("d")).cast("double").alias("cb"),
    )
    return m.selectExpr(
        "a AS succ_ctl",
        "b AS fail_ctl",
        "c AS succ_trt",
        "d AS fail_trt",
        "CAST((a * 1000000) div (a + b) AS BIGINT) AS rate_ctl_ppm",
        "CAST((c * 1000000) div (c + d) AS BIGINT) AS rate_trt_ppm",
        f"{_CHI2_MICRO} AS chi2_micro",
        f"{_CHI2_MICRO} > {CHI2_95_MICRO} AS significant_95",
    )


# ---------------------------------------------------------------------------
# q_profile_entropy — categorical balance profile (Shannon entropy/column)
# ---------------------------------------------------------------------------

# H = ln(N) − (Σ c·ln c)/N, carried exactly: each cell contributes the
# INTEGER c · micro-quantized ln(c) (product ≤ ~3e16 at 1.5e9-row
# cells — ln in micro units caps the factor at ~21e6), so S sums
# order-free; the two divisions are positive-only integer division
# and one shared double ln. Scientific literals per the BM25 landmine.
_ENTROPY_MICRO = cents_sql("ln(n * 1.0e0)", 6) + " - CAST(s div n AS BIGINT)"


def _entropy_cte(table: str, col: str) -> str:
    return f"""
      SELECT '{col}' AS column_name,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c * {cents_sql("ln(c * 1.0e0)", 6)}) AS BIGINT) AS s
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM {table}
            GROUP BY {col})
    """


@query(
    "q_profile_entropy",
    oracle=f"""
    WITH cols AS (
      {_entropy_cte("orders", "o_orderpriority")}
      UNION ALL
      {_entropy_cte("customer", "c_mktsegment")}
      UNION ALL
      {_entropy_cte("lineitem", "l_returnflag")}
    )
    SELECT column_name, n, n_distinct,
           {_ENTROPY_MICRO} AS entropy_micro,
           CAST(CASE WHEN n_distinct > 1 THEN
             (({_ENTROPY_MICRO}) * 1000000)
               div {cents_sql("ln(n_distinct * 1.0e0)", 6)}
             ELSE 0 END AS BIGINT) AS balance_ppm
    FROM cols
    """.replace(" div ", " // "),
)
def q_profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical balance profile — Shannon entropy per categorical
    column, plus the normalized balance H/ln(n_distinct) in ppm (1e6 =
    perfectly uniform, →0 = one value dominates): the column-profiling
    statistic a feature pipeline reads before one-hot/target encoding
    (a near-zero-balance column carries no signal; a near-uniform
    high-cardinality one explodes the encoding), complementing
    q_profile_stats' numeric profile and q_agg_mutual_info's pairwise
    dependence with the single-column distribution view.

    Exactness: H = ln N − (Σ c·ln c)/N with each cell's ln c
    micro-quantized BEFORE multiplying by the integer count (product
    bounded, sum order-free); the divisions are positive-only integer
    division and the only raw float op is one shared ln per output
    row. The oracle is the SAME expression text with `div` spelled
    `//` (positive operands — the freshness precedent).

    Scale shape: one map-side-combined groupBy per column to its
    domain-bounded cell table, a 1-row summary each, 3-row union —
    nothing fact-sized ever crosses the wire. Adding a column adds
    one scan (columns profile independently; a multi-column single
    scan would couple their schedules for no shuffle savings)."""
    def profile(table: str, col: str) -> DataFrame:
        cells = (
            load(spark, sf_dir, table)
            .groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        return cells.agg(
            F.lit(col).alias("column_name"),
            F.sum("c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(
                F.col("c")
                * F.expr(cents_sql("ln(c * 1.0e0)", 6))
            )
            .cast("long")
            .alias("s"),
        ).select("column_name", "n", "n_distinct", "s")

    cols = (
        profile("orders", "o_orderpriority")
        .unionAll(profile("customer", "c_mktsegment"))
        .unionAll(profile("lineitem", "l_returnflag"))
    )
    return cols.selectExpr(
        "column_name",
        "n",
        "n_distinct",
        f"{_ENTROPY_MICRO} AS entropy_micro",
        f"""CAST(CASE WHEN n_distinct > 1 THEN
             (({_ENTROPY_MICRO}) * 1000000)
               div {cents_sql("ln(n_distinct * 1.0e0)", 6)}
             ELSE 0 END AS BIGINT) AS balance_ppm""",
    )
