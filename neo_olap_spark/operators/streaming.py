"""Streaming operators over the ``events`` table (SURVEY.md §2.3).

Every query is built by a *mode-agnostic expression builder* that takes
an events DataFrame — static (batch, DuckDB-oracle-checkable) or a
Structured Streaming source — and returns the same logical plan
(SURVEY.md §7.3: one builder, two modes, so the oracle checks the
exact expressions the stream runs). The streaming variants add
watermarks and run under micro-batch triggers.

Sources: ``stream_events`` streams the events fixture in place — the
path ``tables.load`` reads, a single file or a directory of part
files — with the footer-checked declared schema. The three phased
replays (late data, outer-join flush, CDC apply) stage their phase
frames as time-ordered files (``_phased_replay``) and read them back
with the frames' own schema. No read here infers a schema or counts
rows in Spark: state partitions are sized from parquet footers and
sink reads pass the schema the sink was written with.

Runners: every query drains its stream once through ``_drain``
(``availableNow`` trigger, ``processAllAvailable``, stop) into a
memory sink (aggregate-sized results), a foreachBatch parquet sink
(fact-sized results, read back lazily) or a checkpointed parquet sink.

Reference provenance: the LMAX Disruptor dependency (pom.xml:55-59)
signals stream-processing intent that the reference never wired up —
Structured Streaming is the Spark-native realization (SURVEY.md §2.2).
The checkpointed parquet sink is the stream form of the reference's
checkpointed round loop (Runner.java:67-88).

Scale notes: windowed aggregations shuffle on (window, key) with
partial aggregation map-side; state store size is bounded by the
watermark horizon, not stream length.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import (
    cents,
    cents_sql,
    local_rows_frame,
    money_sum,
    money_sum_sql,
)
from neo_olap_spark.operators.io_sources import generational_sink_dir
from neo_olap_spark.registry import query
from neo_olap_spark.tables import (
    _enable_nanos_as_long,
    _normalize_events_ts,
    load,
    parquet_row_count,
    read_schema,
)

# ---------------------------------------------------------------------------
# Mode-agnostic builders
# ---------------------------------------------------------------------------


def build_tumbling(events: DataFrame) -> DataFrame:
    """1-hour tumbling window aggregate per event_type."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def build_sliding(events: DataFrame) -> DataFrame:
    """1-hour window sliding every 15 minutes (each event in 4 windows)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("long").alias("window_start"), "event_type", "n_events")
    )


def build_session(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def build_interval_join(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """Per-user interval join: each click paired with that user's
    purchases in the following 10 minutes. The join key is (user_id
    equality + event-time range) — in streaming mode the range bound is
    what lets Spark expire join state once the watermark passes
    click_ts + 10 min, so state is bounded by the time horizon, not the
    stream length. ``how='left_outer'`` keeps unmatched clicks with a
    NULL purchase_id (ONE builder for both variants, so the
    outer-matched-rows == inner-rows test invariant holds by
    construction)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (c.c_user == p.p_user)
        & (p.p_ts >= c.c_ts)
        & (p.p_ts <= c.c_ts + F.expr("INTERVAL 10 MINUTES"))
    )
    return c.join(p, cond, how).select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id")
    )


def build_dedup(events: DataFrame) -> DataFrame:
    """Distinct (user_id, event_type) pairs — the deterministic core of
    stateful dedup; the streaming variant bounds state with a watermark."""
    return events.select("user_id", "event_type").dropDuplicates()


# ---------------------------------------------------------------------------
# Batch-mode registered queries (oracle-checked)
# ---------------------------------------------------------------------------


@query(
    "q_stream_tumbling",
    oracle=f"""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n_events, {money_sum_sql("value")} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window / type (batch twin of the streaming agg)."""
    return build_tumbling(load(spark, sf_dir, "events"))


@query(
    "q_stream_sliding",
    oracle="""
    WITH offs AS (SELECT * FROM (VALUES (0), (900), (1800), (2700)) AS t(off))
    SELECT CAST(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - off AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m window / type. Oracle expands each event into its
    4 epoch-aligned windows explicitly."""
    return build_sliding(load(spark, sf_dir, "events"))


@query(
    "q_stream_session",
    oracle=f"""
    WITH lagd AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM lagd
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events, {money_sum_sql("value")} AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30m gap. Oracle = lag/gap/cumsum sessionization;
    a gap of exactly 30m starts a new session (Spark's session_window
    end bound is exclusive)."""
    return build_session(load(spark, sf_dir, "events"))


@query("q_stream_dedup", oracle="SELECT DISTINCT user_id, event_type FROM events")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup, batch twin (dropDuplicates)."""
    return build_dedup(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Streaming sources & runners (exercised in tests/test_streaming.py)
# ---------------------------------------------------------------------------


STATE_ROWS_PER_PARTITION = 50_000
# Python-stateful operators (applyInPandasWithState / transformWith
# State) pay a per-GROUP Python function call + state get/update, so
# their wall time is governed by groups-per-Python-worker, not by
# state-store commit files — the OPPOSITE pressure from the JVM-state
# interval joins. Measured on the 100k-row / 7.5k-group sf0.1 replay:
# 3 partitions 11.0 s, 8 → 4.1 s, 16 → 3.0 s, 32 → 2.8 s. A smaller
# divisor keeps these keys at (near-)session width while tiny replays
# still shrink.
PY_STATE_ROWS_PER_PARTITION = 3_000


@contextmanager
def _replay_state_partitions(
    spark: SparkSession,
    sf_dir: str,
    rows_per_partition: int = STATE_ROWS_PER_PARTITION,
):
    """Size stream-STATE partitioning to the replay volume (measured:
    the 100k-row interval-join replay spends 11.8 s at 32 state
    partitions vs 2.1 s at 2 — identical output; each shuffle partition
    of a stateful operator owns state-store instances whose per-commit
    file cost is fixed, so partitions beyond the data volume buy pure
    overhead). The partition count is chosen ONCE per query from the
    events table's row count in its parquet footers
    (``tables.parquet_row_count``: no Spark job; the phased replays
    stream the same rows, re-cut) and clamped to the session default
    as ceiling, so a 100 TB replay still gets the full session width;
    a stream's state partitioning is fixed at first start, which is
    why this must be decided before .start() and why each invocation
    uses a fresh checkpoint generation.

    Same principle as graph_algos._graph_loop: shuffle
    width should track data volume, not a global constant."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    n_rows = parquet_row_count(sf_dir, "events")
    parts = max(2, min(int(prev), n_rows // rows_per_partition + 1))
    spark.conf.set(key, str(parts))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """Structured Streaming source over the events table at ``path`` —
    the path tables.load reads (``{sf_dir}/events.parquet``), a single
    parquet file or a directory of part files, streamed in place.

    Mirrors tables.load: the footer is checked against the declared
    events schema (no inference job), and ts — TIMESTAMP_NTZ, or long
    nanos — is normalized to a proper timestamp before any windowing.
    The file source takes a directory, not a file ("Option 'basePath'
    must be a directory"), so it reads a one-character glob of the
    path (``events.parque[t]``): the glob matches the path itself, a
    file or a directory whose part files are listed, and a glob source
    sets no basePath.
    """
    schema = read_schema(path, "events")
    _enable_nanos_as_long(spark)
    path = path.rstrip("/")
    stream = spark.readStream.schema(schema).parquet(f"{path[:-1]}[{path[-1]}]")
    return _normalize_events_ts(stream)


@contextmanager
def _phased_replay(spark: SparkSession, phases: list[DataFrame]):
    """Yield a file stream that replays ``phases`` one frame per
    micro-batch, in list order (q_stream_late's straggler phases,
    q_stream_join_outer's sentinel flushes, q_stream_cdc_apply's
    changelog terciles). Each frame is staged as a single part file
    (coalesce(1)) under a stable name with an explicit mtime — the
    file source orders batches by modification time, so the mtimes ARE
    the replay schedule — and read back with maxFilesPerTrigger=1 and
    the frames' own schema (no inference job). The staging directory
    is removed on exit."""
    replay_dir = tempfile.mkdtemp(prefix="neo_olap_replay_")
    files_dir = os.path.join(replay_dir, "files")
    try:
        os.makedirs(files_dir)
        now = time.time()
        for i, phase in enumerate(phases):
            stage = os.path.join(replay_dir, f"w{i}")
            phase.coalesce(1).write.mode("overwrite").parquet(stage)
            dst = os.path.join(files_dir, f"{i:02d}.parquet")
            shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], dst)
            mtime = now - 100 * (len(phases) - i)
            os.utime(dst, (mtime, mtime))
        yield (
            spark.readStream.schema(phases[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(files_dir)
        )
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


def _drain(writer: DataStreamWriter) -> None:
    """Run a configured stream writer over everything its sources hold
    now (availableNow trigger), then stop it — the one start/drain/stop
    sequence every runner here shares."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_stream_once(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming DataFrame to completion into a memory sink."""
    _drain(df.writeStream.outputMode(output_mode).format("memory").queryName(name))


def _collect_stream(
    spark: SparkSession, sf_dir: str, df: DataFrame, output_mode: str
) -> DataFrame:
    """Drain ``df`` into a fresh memory sink, with state partitions
    sized to the events replay, and return the sink's rows as a
    driver-local frame — for aggregate-sized results only (the
    event-granularity keys go through the foreachBatch parquet sink)."""
    name = f"t_stream_{uuid.uuid4().hex}"
    with _replay_state_partitions(spark, sf_dir):
        run_stream_once(df, name, output_mode)
    final = spark.table(name)
    return local_rows_frame(spark, final.collect(), final.schema)


def streaming_tumbling_with_watermark(spark: SparkSession, events_path: str) -> DataFrame:
    """The real streaming path: watermark + tumbling window. Late rows
    beyond 10 minutes are dropped; state is bounded by the watermark."""
    ev = stream_events(spark, events_path).withWatermark("ts", "10 minutes")
    return build_tumbling(ev)


def streaming_dedup_with_watermark(spark: SparkSession, events_path: str) -> DataFrame:
    """Stateful streaming dedup on event_id with BOUNDED state:
    dropDuplicatesWithinWatermark evicts each key once the watermark
    passes its event time. Plain dropDuplicates(["event_id"]) would
    keep one state entry per distinct id forever (the watermark only
    bounds state when the event-time column is part of the key set)."""
    ev = stream_events(spark, events_path).withWatermark("ts", "10 minutes")
    return ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )


def streaming_interval_join(
    spark: SparkSession, events_path: str, how: str = "inner"
) -> DataFrame:
    """The real stream-stream join: two file streams over the same
    events feed (clicks / purchases), both watermarked, joined on
    user + 10-minute event-time range. Watermarks on BOTH sides plus
    the range condition are required for state eviction — without them
    each side's join state grows forever."""
    clicks = (
        stream_events(spark, events_path)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
    )
    purchases = (
        stream_events(spark, events_path)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
    )
    return build_interval_join(clicks, purchases, how)


JOIN_OUTPUT_SCHEMA = "click_id long, purchase_id long, user_id long"


@query(
    "q_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL stream-stream interval join (not a batch twin):
    events replay as two file streams, watermarked and joined in append
    mode; the parquet-sink rows must hash-match the batch theta join —
    the oracle.

    The sink is foreachBatch -> parquet (run_foreach_batch_to_parquet)
    and the return is the LAZY parquet read (join columns only —
    batch_id is sink-layout metadata): the output is
    event-granularity (every click->purchase pair), which at scale is
    itself a fact table — a memory sink / driver collect would funnel
    the whole pair set through one process. Each invocation writes a
    FRESH generation directory (fresh checkpoint => full replay) and
    prunes older generations only after its own write completes, so a
    previous invocation's lazy result stays consistent until this one
    is durable (generational_sink_dir's single-outstanding-result
    contract)."""
    base, promote = generational_sink_dir(spark, "stream_join")
    sink_dir = f"{base}/sink"
    with _replay_state_partitions(spark, sf_dir):
        run_foreach_batch_to_parquet(
            streaming_interval_join(spark, f"{sf_dir}/events.parquet"),
            sink_dir,
            f"{base}/ckpt",
        )
    return finalize_generational_sink(spark, sink_dir, promote, JOIN_OUTPUT_SCHEMA)


def streaming_interval_join_outer(spark: SparkSession, events_path: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (same builder as the
    inner variant, how='left_outer'). Null-extended rows for a click
    are emitted only once the watermark proves no matching purchase
    can still arrive (click_ts + 10 min < watermark) — so the tail of
    a bounded replay (the last watermark-delay's worth of clicks)
    stays unmatched-undecided and is NOT emitted. That is watermark
    semantics, not data loss: registered rows-only, with the
    inner-part equivalence asserted in tests."""
    return streaming_interval_join(spark, events_path, how="left_outer")


@query(
    "q_stream_join_outer",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL stream-stream left-outer interval join and
    hash-checks it against the full batch LEFT JOIN (VERDICT r6 item
    4 — this key was rows-only through round 6).

    Why it used to be rows-only: null-extended rows emit only once the
    watermark PROVES no matching purchase can still arrive
    (click_ts + 10 min < watermark), so a bounded replay leaves the
    last watermark-delay's worth of unmatched clicks undecided — the
    emitted set depended on where the final watermark landed, which no
    batch SQL reproduces.

    The q_stream_late replayed-watermark technique closes that gap:
    the replay is time-ordered files (_phased_replay) — first
    ALL real events, then two sentinel "flush" batches 10 and 20 days
    past the real maximum, each carrying one click and one purchase on
    negative user_ids that can match nothing. The first flush batch
    advances the watermark far beyond every real click's close time;
    the second forces another micro-batch so state eviction under that
    watermark runs (eviction lags a batch — the q_stream_late lesson).
    After the flush, EVERY unmatched real click has provably closed and
    emitted null-extended, so the append-mode output (minus sentinels,
    filtered by user_id >= 0 — real user_ids start at 0) is exactly the
    batch left-outer join: matched pairs plus one NULL row per
    matchless click. Watermarks advance on BOTH sides because each
    sentinel batch carries both event types (the global watermark is
    the minimum across sources; a click-only sentinel would stall the
    purchase side's watermark and nothing would flush).

    Scale shape: identical to q_stream_join — state bounded by the
    2×delay+range horizon per user, foreachBatch parquet sink with
    dynamic-partition idempotence, lazy fact-sized read. The sentinel
    flush is two 2-row files; its cost is two extra micro-batches."""
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m")).collect()[0].m

    def sentinels(day_offset: int, id0: int) -> DataFrame:
        t = mx + timedelta(days=day_offset)
        rows = [
            (id0, t, -1, "click", 0.0, None),
            (id0 - 1, t, -2, "purchase", 0.0, None),
        ]
        return local_rows_frame(spark, rows, ev.schema)

    base, promote = generational_sink_dir(spark, "stream_join_outer")
    sink_dir = f"{base}/sink"
    with _phased_replay(spark, [ev, sentinels(10, -1), sentinels(20, -3)]) as stream:

        def side(event_type: str) -> DataFrame:
            return stream.where(F.col("event_type") == event_type).withWatermark(
                "ts", "1 hour"
            )

        joined = build_interval_join(side("click"), side("purchase"), "left_outer")
        with _replay_state_partitions(spark, sf_dir):
            run_foreach_batch_to_parquet(joined, sink_dir, f"{base}/ckpt")
    return finalize_generational_sink(
        spark, sink_dir, promote, JOIN_OUTPUT_SCHEMA
    ).where(F.col("user_id") >= 0)


def finalize_generational_sink(
    spark: SparkSession, sink_dir: str, promote, schema: str
) -> DataFrame:
    """Shared tail of every foreachBatch-sink key (interval joins,
    join_outer, stateful, transform_state, dedup_state): promote the
    generation, then return the LAZY sink read with the ``schema`` the
    sink was written with (no inference job; the ``batch_id`` layout
    column is dropped) — or the TYPED empty frame when every
    micro-batch was empty (the partitioned writer leaves no part
    files). The promote-ordering and empty-sink contracts live in ONE
    place."""
    promote()
    if not glob.glob(f"{sink_dir}/batch_id=*/part-*"):
        return local_rows_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(sink_dir).drop("batch_id")


def _final_emission(emissions: DataFrame, *keys: str) -> DataFrame:
    """The last (= maximal) cumulative update-mode emission per key is
    the final state: a DISTRIBUTED window over the lazy sink read, so
    key-cardinality-sized state never funnels through the driver."""
    w = W.partitionBy(*keys).orderBy(F.col("n_events").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def run_foreach_batch_to_parquet(
    df: DataFrame, sink_dir: str, ckpt_dir: str, output_mode: str = "append"
) -> None:
    """foreachBatch sink: arbitrary per-micro-batch logic with the
    batch DataFrame API — the escape hatch for sinks Structured
    Streaming doesn't ship (JDBC upserts, MERGE, multi-table writes).
    Each batch lands in a batch_id=<n> partition, so re-delivered
    batches after a restart overwrite their own partition instead of
    duplicating — idempotence via dynamic partition overwrite, the
    standard exactly-once recipe for foreachBatch."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_dir)
        )

    _drain(
        df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt_dir)
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

STATEFUL_OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double"
STATEFUL_STATE_SCHEMA = "n long, s_cents long"


def _user_stats_fn(key, pdfs, state):
    """Per-user running (count, sum) held in Spark's state store across
    micro-batches; emits the cumulative row each batch (update mode).
    Arrow-batched: each micro-batch's rows for this key arrive as
    pandas DataFrames, accumulated with vectorized ops. The sum is
    held as exact integer CENTS (repo money rule): a float
    accumulator's value would depend on micro-batch arrival order."""
    import numpy as np
    import pandas as pd  # executor-side import

    n, s_cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s_cents += int(
            np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64).sum()
        )
    state.update((n, s_cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [s_cents / 100.0],
        }
    )


def streaming_user_stats(spark: SparkSession, events_path: str) -> DataFrame:
    """Custom stateful aggregation the built-in operators can't express
    (arbitrary per-key state machine): running per-user event count and
    value sum via applyInPandasWithState. State is one (long, long)
    pair per user (count + exact integer cents) — bounded by key
    cardinality, not stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = stream_events(spark, events_path)
    return ev.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=STATEFUL_OUTPUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Custom stateful operator on a composite key
# ---------------------------------------------------------------------------

TWS_OUTPUT_SCHEMA = "user_id long, event_type string, n_events long"


def _type_count_fn(key, pdfs, state):
    """Per-(user, event_type) running count held in Spark's state store
    across micro-batches; emits the cumulative total each time the key
    receives rows (update mode). Arrow-batched like _user_stats_fn."""
    import pandas as pd  # executor-side import

    (n,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame(
        {"user_id": [key[0]], "event_type": [key[1]], "n_events": [n]}
    )


def streaming_type_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Running per-(user, event_type) counts via applyInPandasWithState
    grouped on the COMPOSITE (user_id, event_type) key: one scalar
    count per state key instead of a per-user map of type counts, so
    state stays bounded by (users × event types), not stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = stream_events(spark, events_path)
    return ev.groupBy("user_id", "event_type").applyInPandasWithState(
        _type_count_fn,
        outputStructType=TWS_OUTPUT_SCHEMA,
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "q_stream_transform_state",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_events
    FROM events GROUP BY user_id, event_type
    """,
)
def q_stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives a REAL arbitrary-stateful streaming operator: events
    replay as a file stream; per-(user, type) running counts accumulate
    in the state store in update mode (applyInPandasWithState on the
    composite key); the maximal (= final) emission per (user, type)
    must equal the batch group-by — the oracle. Update-mode emissions
    land in the foreachBatch parquet sink and the final-state
    extraction is a distributed window over the LAZY sink read:
    (user × type) state is fact-sized at scale, so nothing funnels
    through the driver (same sink rule as q_stream_stateful)."""
    events_path = f"{sf_dir}/events.parquet"
    base, promote = generational_sink_dir(spark, "stream_transform_state")
    sink_dir = f"{base}/sink"
    stream = streaming_type_counts(spark, events_path)
    with _replay_state_partitions(spark, sf_dir, PY_STATE_ROWS_PER_PARTITION):
        run_foreach_batch_to_parquet(
            stream, sink_dir, f"{base}/ckpt", output_mode="update"
        )
    return _final_emission(
        finalize_generational_sink(spark, sink_dir, promote, TWS_OUTPUT_SCHEMA),
        "user_id",
        "event_type",
    )


def run_to_parquet_sink(df: DataFrame, sink_dir: str, ckpt_dir: str) -> None:
    """Drive a streaming DataFrame into a DURABLE parquet sink with a
    streaming checkpoint: offsets + sink commits live under ckpt_dir,
    so a restarted query resumes exactly where it stopped and the sink
    stays exactly-once across restarts (asserted in tests). This is
    the production shape of R10's checkpoint/resume for streams."""
    _drain(
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
    )


def streaming_enriched_segments(
    spark: SparkSession, events_path: str, customer: DataFrame
) -> DataFrame:
    """Stream-static join: each micro-batch of events is enriched with
    the static customer dim via broadcast — no stream state at all, the
    standard shape for dimension lookups on a 100 TB/day event feed."""
    ev = stream_events(spark, events_path)
    return (
        ev.join(F.broadcast(customer), ev.user_id == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
    )


@query(
    "q_stream_enrich",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_events, {money_sum_sql("value")} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL stream-static broadcast join: events replay as a
    file stream, enriched per micro-batch against the static customer
    dim, aggregated in complete mode; the final memory-sink table must
    hash-match the batch join — the oracle."""
    customer = load(spark, sf_dir, "customer")
    return _collect_stream(
        spark,
        sf_dir,
        streaming_enriched_segments(spark, f"{sf_dir}/events.parquet", customer),
        "complete",
    )


@query(
    "q_stream_stateful",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {money_sum_sql("value")} AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL applyInPandasWithState operator (not a batch
    twin): events replay through a file stream; update-mode emissions
    land in the foreachBatch parquet sink, and the final cumulative
    emission per user must equal the batch group-by — which is exactly
    the oracle.

    The final-state extraction (max n_events per user over all
    emissions) is a DISTRIBUTED window over the lazy sink read, and
    the return stays lazy: per-user state is user-cardinality-sized —
    at 100 TB that is itself a large relation, so nothing here may
    funnel through the driver (same sink rule as the stream-stream
    join keys)."""
    base, promote = generational_sink_dir(spark, "stream_stateful")
    sink_dir = f"{base}/sink"
    with _replay_state_partitions(spark, sf_dir, PY_STATE_ROWS_PER_PARTITION):
        run_foreach_batch_to_parquet(
            streaming_user_stats(spark, f"{sf_dir}/events.parquet"),
            sink_dir,
            f"{base}/ckpt",
            output_mode="update",
        )
    # sum_value is exact cents / 100 (_user_stats_fn)
    return _final_emission(
        finalize_generational_sink(spark, sink_dir, promote, STATEFUL_OUTPUT_SCHEMA),
        "user_id",
    )


@query(
    "q_stream_dedup_state",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL streaming stateful dedup (q_stream_dedup is the
    batch twin): events replay as a file stream and dropDuplicates
    holds the seen-key set in the state store ACROSS micro-batches,
    emitting each (user_id, event_type) exactly once, on first arrival
    — the exactly-once ingestion gate a 100 TB/day feed runs in front
    of its bronze table. Append-mode emissions land in the foreachBatch
    parquet sink (per-batch dynamic partition overwrite = idempotent
    redelivery) and the union of all batches must equal the batch
    DISTINCT — which is exactly the oracle, and holds regardless of
    replay order because only the KEY columns are emitted.

    State/scale: no watermark, so state = the distinct key set —
    bounded by the key domain, not the stream length (the honest
    semantics; dropDuplicatesWithinWatermark trades that bound for
    possible re-emission of keys whose duplicates outlive the horizon,
    which would break exact dedup). Keys hash-partition across the
    state store; the sink read stays lazy."""
    base, promote = generational_sink_dir(spark, "stream_dedup_state")
    sink_dir = f"{base}/sink"
    deduped = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    with _replay_state_partitions(spark, sf_dir):
        run_foreach_batch_to_parquet(
            deduped, sink_dir, f"{base}/ckpt", output_mode="append"
        )
    return finalize_generational_sink(
        spark, sink_dir, promote, "user_id long, event_type string"
    )


LATE_DELAY_US = 600_000_000  # the 10-minute watermark, in microseconds
LATE_STRAGGLER_LAG_US = 7_200_000_000  # stragglers are ≥2h late


def _late_phase_splits(lo_us: int, hi_us: int) -> tuple[int, int]:
    """(t1, t2) thirds of the event-time span — integer arithmetic only
    so the Spark driver and the DuckDB oracle compute identical cuts."""
    return lo_us + (hi_us - lo_us) // 3, lo_us + (hi_us - lo_us) * 2 // 3


@query(
    "q_stream_late",
    oracle=f"""
    WITH b AS (SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events),
    ev AS (
      SELECT epoch_us(ts) AS us, event_type, value,
             (event_id % 17 = 0) AND
             (epoch_us(ts) < (SELECT lo + (hi - lo) // 3 FROM b)
                             - {LATE_STRAGGLER_LAG_US}) AS is_straggler
      FROM events
    ),
    kept AS (SELECT * FROM ev WHERE NOT is_straggler),
    agg AS (
      SELECT (us // 3600000000) * 3600 AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             {money_sum_sql("value")} AS sum_value
      FROM kept GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, sum_value
    FROM agg
    WHERE (window_start + 3600) * 1000000
          <= (SELECT (hi // 1000) * 1000 - {LATE_DELAY_US} FROM b)
    """,
)
def q_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, driven through the REAL
    micro-batch engine and hash-checked: events replay as three
    time-ordered file batches (maxFilesPerTrigger=1) where a
    deterministic straggler subset (event_id % 17, ≥2h behind) is
    held back to the LAST batch — by then the 10-minute watermark has
    passed their windows, their state is evicted, and the engine
    drops them (observed via numRowsDroppedByWatermark). Append mode
    emits exactly the windows closed by the final watermark.

    The oracle replays the same algebra in DuckDB: drop the straggler
    set, emit windows whose end ≤ final watermark (max event time,
    ms-floored, minus the delay). The phase design makes the check
    exact without modeling the engine's eviction lag: stragglers are
    HOURS older than any watermark the stream could hold when they
    arrive (always dropped), and every on-time row is younger than
    the watermark of its own batch (never dropped) — so the kept set
    is invariant to which batch's watermark does the dropping.
    Cents-integerized sums keep per-window values engine-exact.

    Scale shape: this is the canonical production stream topology —
    state bounded by the watermark horizon (not stream length), late
    rows accounted rather than silently merged; the windowed
    aggregate shuffles on (window, event_type) with map-side
    partials, identical to q_stream_tumbling."""
    ev = load(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).collect()[0]
    t1, t2 = _late_phase_splits(b.lo, b.hi)
    us = F.unix_micros("ts")
    straggler = (F.col("event_id") % 17 == 0) & (us < t1 - LATE_STRAGGLER_LAG_US)
    phases = [
        ev.where((us <= t1) & ~straggler),
        ev.where((us > t1) & (us <= t2) & ~straggler),
        ev.where((us > t2) | straggler),
    ]
    with _phased_replay(spark, phases) as stream:
        out = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(cents("value")).alias("v_cents"),
            )
            .select(
                F.col("w.start").cast("long").alias("window_start"),
                "event_type",
                "n_events",
                (F.col("v_cents").cast("double") / 100.0).alias("sum_value"),
            )
        )
        return _collect_stream(spark, sf_dir, out, "append")


EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
VALUE_CAP = 200.0  # outlier threshold: ~p99 of the value distribution


def build_quality_audit(events: DataFrame) -> DataFrame:
    """Per-hour data-quality counters over the event stream: total
    rows, null keys, domain violations, and value outliers — the
    always-on ingest monitor every streaming pipeline runs next to
    its business aggregates. Mode-agnostic: same builder serves the
    batch twin and the live stream."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("user_id").isNull(), 1)).alias("null_user"),
            F.count(
                F.when(~F.col("event_type").isin(*EVENT_TYPES), 1)
            ).alias("bad_type"),
            F.count(F.when(F.col("value") < 0, 1)).alias("neg_value"),
            F.count(F.when(F.col("value") > VALUE_CAP, 1)).alias("outlier_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_rows",
            "null_user",
            "bad_type",
            "neg_value",
            "outlier_value",
        )
    )


@query(
    "q_stream_quality",
    oracle=f"""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           COUNT(*) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS null_user,
           CAST(COUNT(*) FILTER (WHERE event_type NOT IN
             ('signup', 'click', 'error', 'view', 'purchase')) AS BIGINT) AS bad_type,
           CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT) AS neg_value,
           CAST(COUNT(*) FILTER (WHERE value > {VALUE_CAP}) AS BIGINT)
             AS outlier_value
    FROM events GROUP BY 1
    """,
)
def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality audit, batch twin (the streaming path
    is driven in tests/test_streaming.py over a real stream): hourly
    violation counters as count_if expressions inside one windowed
    aggregate — at 100 TB/day this is one watermarked shuffle whose
    output is a few counters per hour, the cheapest possible
    always-on monitor. The oracle CASTs DuckDB's COUNT_IF HUGEINT to
    BIGINT (repo float-landmine (c))."""
    return build_quality_audit(load(spark, sf_dir, "events"))


def build_ohlc(events: DataFrame) -> DataFrame:
    """Hourly OHLC bars per event type — the streaming twin of
    analytics.q_time_ohlc: open/close are min_by/max_by SELECTIONS on
    the total (ts, event_id) order, so the aggregate is deterministic
    and partial-merge-able (each micro-batch's partials combine by
    re-selecting the extremum — exactly what the state store does)."""
    ordkey = F.struct("ts", "event_id")
    return events.groupBy(
        F.date_trunc("hour", "ts").cast("long").alias("window_start"),
        "event_type",
    ).agg(
        F.min_by("value", ordkey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordkey).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_stream_ohlc",
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
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives REAL streaming OHLC bars (complete mode): events replay
    as a file stream; per-(hour, type) open/high/low/close state
    merges across micro-batches in the state store, and the final
    memory-sink table must hash-match the batch bars — the oracle.
    The collected result is (hours x types)-sized: aggregate-sized by
    construction, so the memory sink is the right tool here (unlike
    the event-granularity join keys, which go through the parquet
    sink)."""
    return _collect_stream(
        spark,
        sf_dir,
        build_ohlc(stream_events(spark, f"{sf_dir}/events.parquet")),
        "complete",
    )


@query(
    "q_stream_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey AS custkey, o_orderkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS date_days,
             ROUND(o_totalprice, 2) AS price,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    )
    SELECT custkey, o_orderkey AS last_orderkey,
           date_days AS last_date_days, price AS last_price
    FROM ranked WHERE rn = 1
    """,
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — a changelog stream MERGEd into a keyed
    state table via foreachBatch, the standard pattern for keeping a
    warehouse dimension in sync from an upsert feed when the sink has
    no native MERGE (q_merge_upsert is the batch twin; this drives the
    real micro-batch engine).

    The changelog: every order is an upsert to its customer's
    latest-order state, replayed as three time-ordered files (orderdate
    terciles, maxFilesPerTrigger=1 — the q_stream_late replay shape).
    Each micro-batch applies last-writer-wins per key: state_g{b} =
    latest-per-custkey of (state_g{b-1} ∪ batch), the winner selected
    by one max(struct(date_days, orderkey, price)) aggregate — a
    total-order composite of integers plus a per-row rounded price, so
    the pick is engine-exact. Generations make redelivery idempotent:
    re-running batch b deterministically rewrites state_g{b} from
    state_g{b-1} + the batch, never double-applies.

    Scale shape: state is key-cardinality-sized and the per-batch merge
    is one partial-aggregable groupBy over state+delta — at 100 TB the
    state table would be bucketed by key and overwritten with dynamic
    partition overwrite so only touched buckets rewrite (the
    q_sink_partitioned idempotence pattern); a lakehouse table format
    would replace the generation dirs with MERGE INTO, same plan
    underneath. The final state must hash-match the batch
    last-writer-wins ranking — the oracle."""
    o = load(spark, sf_dir, "orders")
    changelog = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("date_days"),
        F.round("o_totalprice", 2).alias("price"),
    )
    b = changelog.agg(
        F.min("date_days").alias("lo"), F.max("date_days").alias("hi")
    ).collect()[0]
    t1 = b.lo + (b.hi - b.lo) // 3
    t2 = b.lo + (b.hi - b.lo) * 2 // 3
    phases = [
        changelog.where(F.col("date_days") <= t1),
        changelog.where((F.col("date_days") > t1) & (F.col("date_days") <= t2)),
        changelog.where(F.col("date_days") > t2),
    ]
    # the state has the changelog's columns: one winning change per key
    state_schema = changelog.schema
    base, promote = generational_sink_dir(spark, "stream_cdc_apply")

    def state_dir(batch_id: int) -> str:
        return os.path.join(base, f"state_g{batch_id:06d}")

    latest = F.max(F.struct("date_days", "orderkey", "price")).alias("w")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merged = batch_df
        prev = state_dir(batch_id - 1)
        if batch_id > 0 and os.path.exists(prev):
            merged = spark.read.schema(state_schema).parquet(prev).unionByName(batch_df)
        (
            merged.groupBy("custkey")
            .agg(latest)
            .select(
                "custkey",
                F.col("w.orderkey").alias("orderkey"),
                F.col("w.date_days").alias("date_days"),
                F.col("w.price").alias("price"),
            )
            .write.mode("overwrite")
            .parquet(state_dir(batch_id))
        )

    with _phased_replay(spark, phases) as stream:
        _drain(
            stream.writeStream.foreachBatch(apply_batch).option(
                "checkpointLocation", os.path.join(base, "ckpt")
            )
        )
    promote()
    finals = sorted(glob.glob(os.path.join(base, "state_g*")))
    return spark.read.schema(state_schema).parquet(finals[-1]).select(
        "custkey",
        F.col("orderkey").alias("last_orderkey"),
        F.col("date_days").alias("last_date_days"),
        F.col("price").alias("last_price"),
    )
