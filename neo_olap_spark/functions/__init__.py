"""Reusable column-expression kernels (all built-in functions, JVM-side).

UDF policy (SURVEY.md §7.4): built-ins first — these kernels are pure
Catalyst expressions, so they get whole-stage codegen and run at scale
with zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two ArrayType(Float/Double) columns, accumulated
    in double with left-to-right fold (matches DuckDB's sequential
    accumulation, so oracle comparisons agree to the last bits)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (trim first so no empty edge tokens)."""
    return F.split(F.trim(text), r"\s+")


def shingles(tokens: Column, k: int = 3) -> Column:
    """Distinct k-gram word shingles of a token array (1-indexed
    element_at, matching DuckDB list indexing in the oracles).

    Guarded for short docs: Spark's sequence(1, 0) yields a DESCENDING
    [1, 0] — unguarded it would index element 0 and error."""
    idx = F.when(
        F.size(tokens) >= k, F.sequence(F.lit(1), F.size(tokens) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, (i + j).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(gram)


def bounded_sequence(n: Column, lo: int = 1) -> Column:
    """sequence(lo, n) that is EMPTY when n < lo (Spark's sequence
    descends when start > stop — a footgun for window indexing)."""
    return F.when(n >= lo, F.sequence(F.lit(lo), n)).otherwise(
        F.array().cast("array<int>")
    )


def bigrams(tokens: Column) -> Column:
    """Adjacent-pair bigram strings of a token array — NON-distinct
    (occurrence counts matter for repetition / LM scoring), unlike
    ``shingles``. Empty for arrays shorter than 2.

    The caller must barrier the token array (``localCheckpoint``)
    before this lambda indexes into it: computed-array lambdas
    re-inline their upstream per element (NEXT.md landmine #1)."""
    idx = bounded_sequence(F.size(tokens) - 1)
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(tokens, i.cast("int")),
            F.element_at(tokens, (i + 1).cast("int")),
        ),
    )


def local_rows_frame(spark, rows, schema):
    """JVM LocalRelation from a SMALL driver-side row list, via Arrow.

    ``spark.createDataFrame(list, schema)`` builds a Python-RDD-backed
    scan; a job that file-writes such a frame (every bench key ends in
    a sink write) re-pays Python-worker setup on EVERY write — worker
    reuse covers collect-type jobs but not the write path (measured on
    this host: a 2-row frame's parquet/noop write costs ~4.5 s, every
    time, vs 0.2 s through Arrow). Routing the rows through a pandas
    frame makes createDataFrame emit an Arrow-backed LocalRelation
    evaluated entirely in the JVM — no Python worker in any consumer.

    ``dtype=object`` keeps None cells as None (a float column would
    coerce them to NaN); Arrow then casts per the EXPLICIT schema, so
    values and nullability match the plain-createDataFrame path
    exactly. Only for driver-small row lists (scalars, sentinels,
    dimension snapshots) — the same bound the old call sites already
    guaranteed."""
    import pandas as pd
    from pyspark.sql.types import StructType

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = [f.name for f in st.fields]
    pdf = pd.DataFrame(
        [tuple(r) for r in rows] or None, columns=names, dtype=object
    )
    return spark.createDataFrame(pdf, st)


def numbered_sample(df, n: int, order_col: str, idx_name: str):
    """The n lowest-``order_col`` rows of ``df``, numbered 0..n-1 as
    IntegerType (int, not long: seeded trajectories hash the id with
    xxhash64, which is TYPE-sensitive — int-vs-bigint ids produce
    different hashes and silently different "deterministic" runs).

    The set is bounded by n (TopN-pruned before numbering), so the
    numbering runs in ONE sorted partition via
    ``monotonically_increasing_id`` — no WindowExec at all. A
    ``partitionBy(lit(0))`` window does NOT silence Spark's "no
    partition defined" warning: Catalyst constant-folds the foldable
    partition key away and plans an unpartitioned window anyway.
    ``coalesce(1)`` is load-bearing: it is what makes
    monotonically_increasing_id start at 0 with no partition offsets."""
    return (
        df.orderBy(order_col)
        .limit(n)
        .coalesce(1)
        .sortWithinPartitions(order_col)
        .withColumn(idx_name, F.monotonically_increasing_id().cast("int"))
    )


def loop_checkpoint(df, eager: bool = True):
    """Lineage cut for ITERATIVE-LOOP state: ``localCheckpoint``.

    Every graph-loop state frame goes through here: the round driver
    (operators.graph_algos._iterate) checkpoints each round's frames
    lazily, and the loops checkpoint their initial state and outputs
    with it too. A local checkpoint keeps executor-local,
    non-replicated blocks: cheap, and it bounds plan depth, but it is
    not durable. A lost block fails the loop with Spark's "Checkpoint
    block ... not found" instead of returning wrong rows (pinned in
    tests/test_checkpoints.py). The one durable policy is the loop
    driver's ``ckpt_dir``: parquet round snapshots that survive lost
    blocks and resume across processes (neo_olap_spark.checkpoints)."""
    return df.localCheckpoint(eager=eager)


def scaled_parts(
    spark,
    n_rows: int | None = None,
    rows_per_part: int = 2_000_000,
    floor: int | None = None,
) -> int:
    """Partition count for distributed rank/prefix passes, derived
    from CLUSTER WIDTH (defaultParallelism) and, when known, the row
    count — never a hardcoded constant (VERDICT r13 item 3: a fixed 32
    re-creates the bounded-parallelism problem the distributed passes
    exist to kill, just 32× later). Capped at 10k like
    graph_algos._graph_loop."""
    base = max(floor or 0, spark.sparkContext.defaultParallelism)
    if n_rows is not None:
        base = max(base, (n_rows + rows_per_part - 1) // rows_per_part)
    return min(10_000, base)


# The one window-vs-distributed volume gate (see prefix_sum).
WINDOW_MAX_ROWS = 2_000_000


def prefix_sum(df, order, name, value=1, by=None, n_rows=None, n_parts=None):
    """Running sum of ``value`` in ``(by, *order)`` order, the current
    row included, as column ``name``, plus ``_total``: the sum over
    the ``by`` group, or over the whole frame when ``by`` is None.
    ``value=1`` makes ``name`` the 1-based rank. ``order`` holds column
    names or Columns (``F.col(c).desc()``); ``value`` is an int, a
    column name or a Column. Returns df's columns plus both.

    Two physical forms, one volume gate. With ``by`` given and
    ``n_rows <= WINDOW_MAX_ROWS``: a ROWS running window plus a total
    window on ``partitionBy(by)`` — one Exchange on the group key, and
    Catalyst prunes either window when the caller drops its column.
    Above the gate each group's WHOLE row set funnels through ONE task
    (one task per group, whatever the volume): q_agg_spearman measured
    exponent 1.9 from sf0.1 to sf0.2 on that form. Every other case is
    DISTRIBUTED in two passes: range-partition on ``(by, *order)``,
    partial running sums within each partition, then a broadcast join
    of per-(partition, group) offsets and group totals (at most
    n_parts x groups scalars reach the driver). Range order within a
    group follows partition id because the group leads the range key,
    so a partition that spans a group boundary gets a separate offset
    per group. No task sorts more than ~rows/n_parts rows. Below the
    gate the window form wins: at sf0.1 (r13) q_agg_spearman took
    2.0 s warm on windows vs 4.1 s distributed.

    The offset and total types are read from df's schema (what
    ``F.sum(value)`` produces; the group key's own type), so integer
    and decimal sums are type- and bit-identical in both forms.
    ``n_parts=None`` derives the width from the cluster and
    ``n_rows`` (scaled_parts), never a fixed constant."""
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.window import Window as W

    v = F.lit(value) if isinstance(value, int) else (
        F.col(value) if isinstance(value, str) else value
    )
    if by is not None and n_rows is not None and n_rows <= WINDOW_MAX_ROWS:
        grp = W.partitionBy(by)
        run = grp.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
        if isinstance(value, int) and value == 1:
            # a rank: row_number() runs faster than sum(1) over the same
            # frame (q_agg_spearman at sf0.1, SCALING.md)
            cum = F.row_number().over(run).cast("long")
        else:
            cum = F.sum(v).over(run)
        return df.withColumn(name, cum).withColumn(
            "_total", F.sum(v).over(grp)
        )
    if n_parts is None:
        n_parts = scaled_parts(df.sparkSession, n_rows, floor=32)
    keys = [by] if by is not None else []
    parts = (
        df.repartitionByRange(n_parts, *keys, *order)
        .sortWithinPartitions(*keys, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin partition ids across the two passes
    )
    sums = parts.groupBy("_pid", *keys).agg(F.sum(v).alias("_s"))
    # pid order is range order inside every group: accumulating in pid
    # order gives each (partition, group) the sum of its group's
    # earlier rows
    acc, offs = {}, []
    for r in sorted(sums.collect(), key=lambda r: r["_pid"]):
        g = tuple(r[k] for k in keys)
        offs.append((r["_pid"], g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + r["_s"]
    *head, sum_t = sums.schema.fields  # _pid, the group key, the sum
    off_df = local_rows_frame(
        df.sparkSession,
        [(p, *g, o, acc[g]) for p, g, o in offs],
        StructType([
            *head,
            StructField("_off", sum_t.dataType),
            StructField("_total", sum_t.dataType),
        ]),
    )
    w = (
        W.partitionBy("_pid", *keys)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        parts.join(F.broadcast(off_df), ["_pid", *keys])
        .withColumn(name, F.sum(v).over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def _col(col) -> Column:
    return col if isinstance(col, Column) else F.col(col)


# Engine-exact floor-shift idioms, each defined once as a Spark Column
# builder and a SQL-text builder that compute the same value in Spark
# and DuckDB (NEXT.md landmines (a) and (e)). ``col`` is a column name
# or Column, ``x_sql`` SQL text, ``k`` the decimal scale 10^k. The SQL
# half is 0.5e0, a DOUBLE in both engines: a bare 0.5 is DECIMAL and
# would pull a non-double ``x_sql`` into decimal arithmetic whose rules
# differ cross-engine.


def cents(col, k: int = 2) -> Column:
    """Per-row floor-shift of a double to an exact BIGINT at scale
    10^k (k=2: integer cents, k=6: the micro quantization): round half
    up the same way in both engines, where ROUND's half rule and a
    double SUM's accumulation order are engine-specific."""
    return F.floor(_col(col) * 10**k + F.lit(0.5)).cast("long")


def cents_sql(x_sql: str, k: int = 2) -> str:
    """SQL text of ``cents``: CAST(FLOOR(x * 10^k + 0.5) AS BIGINT)."""
    return f"CAST(FLOOR({x_sql} * {10**k} + 0.5e0) AS BIGINT)"


def money_sum(col) -> Column:
    """Order-independent money sum (landmine (e)): per-row ``cents``,
    SUM the integers, divide once. A double SUM's accumulation order
    is engine- and partitioning-dependent, so ROUND(SUM(double), 2) is
    a coin flip whenever a group lands on a half-cent. Accepts a
    column name or any Column expression (e.g. price * (1 - discount)).
    The SQL twin is ``money_sum_sql``."""
    return F.sum(cents(col)).cast("double") / 100.0


def money_sum_sql(x_sql: str) -> str:
    """SQL text of ``money_sum``; the inner BIGINT cast narrows
    DuckDB's HUGEINT sum (a no-op in Spark)."""
    return f"CAST(CAST(SUM({cents_sql(x_sql)}) AS BIGINT) AS DOUBLE) / 100.0"


def floor_round(col, k: int) -> Column:
    """A double rounded half up to k decimals, FLOOR(x * 10^k + 0.5)
    / 10^k (landmine (a)): an AVG can land exactly on a half, where
    Spark's and DuckDB's ROUND disagree."""
    return F.floor(_col(col) * 10**k + F.lit(0.5)) / 10**k


def floor_round_sql(x_sql: str, k: int) -> str:
    """SQL text of ``floor_round``."""
    return f"FLOOR({x_sql} * {10**k} + 0.5e0) / {10**k}"


def trunc_div_sql(num: str, den: str, div: str) -> str:
    """Integer division truncated TOWARD ZERO as shared SQL text —
    DuckDB ``//`` floors (so negatives diverge) while Spark ANSI
    ``div`` truncates; the negate-divide-negate form computes the
    identical value under either semantic. ``div`` is the dialect's
    operator: ``'div'`` for Spark expressions, ``'//'`` for DuckDB
    oracles. ONE definition for every consumer (kmeans update,
    seasonal decomposition — round-10 self-review)."""
    return (
        f"CAST(CASE WHEN {num} >= 0 THEN ({num}) {div} ({den}) "
        f"ELSE -((-({num})) {div} ({den})) END AS BIGINT)"
    )
