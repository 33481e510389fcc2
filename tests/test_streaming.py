"""Structured Streaming variants: the same builders that pass the batch
oracle must produce identical results when driven as a stream."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from neo_olap_spark.operators.streaming import (
    build_tumbling,
    run_stream_once,
    stream_events,
    streaming_dedup_with_watermark,
    streaming_tumbling_with_watermark,
)
from neo_olap_spark.tables import load


@pytest.fixture(scope="module")
def events_path(sf_dir):
    # stream_events streams the fixture in place, file or directory
    return f"{sf_dir}/events.parquet"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_tumbling_matches_batch(spark, sf_dir, events_path):
    batch = build_tumbling(load(spark, sf_dir, "events"))
    stream = build_tumbling(stream_events(spark, events_path))
    run_stream_once(stream, "t_tumbling", output_mode="complete")
    assert _rows(spark.sql("SELECT * FROM t_tumbling")) == _rows(batch)


def test_stream_tumbling_watermark_runs(spark, events_path):
    # append mode + watermark: emits only finalized windows; with a
    # single micro-batch nothing may finalize — the contract here is
    # that the plan is streamable and runs clean.
    df = streaming_tumbling_with_watermark(spark, events_path)
    run_stream_once(df, "t_wm", output_mode="append")
    assert spark.sql("SELECT * FROM t_wm").count() >= 0


def test_stream_sliding_matches_batch(spark, sf_dir, events_path):
    from neo_olap_spark.operators.streaming import build_sliding

    batch = build_sliding(load(spark, sf_dir, "events"))
    stream = build_sliding(stream_events(spark, events_path))
    run_stream_once(stream, "t_sliding_test", output_mode="complete")
    assert _rows(spark.sql("SELECT * FROM t_sliding_test")) == _rows(batch)


def test_stream_session_matches_batch(spark, sf_dir, events_path):
    """Session windows driven as a real stream (complete mode) must
    equal the batch sessionization."""
    from neo_olap_spark.operators.streaming import build_session

    batch = build_session(load(spark, sf_dir, "events"))
    stream = build_session(stream_events(spark, events_path))
    run_stream_once(stream, "t_session_test", output_mode="complete")
    assert _rows(spark.sql("SELECT * FROM t_session_test")) == _rows(batch)


def test_stream_dedup_matches_batch(spark, sf_dir, events_path):
    df = streaming_dedup_with_watermark(spark, events_path)
    run_stream_once(df, "t_dedup", output_mode="append")
    got = spark.sql("SELECT count(DISTINCT event_id) AS n, count(*) AS total FROM t_dedup").first()
    want = load(spark, sf_dir, "events").select(F.countDistinct("event_id")).first()[0]
    assert got.n == got.total == want


def test_stream_interval_join_matches_batch(spark, sf_dir, events_path):
    """Stream-stream interval join (watermarked both sides, append
    mode) must emit exactly the batch theta-join pairs."""
    from neo_olap_spark.operators.streaming import (
        build_interval_join,
        streaming_interval_join,
    )

    ev = load(spark, sf_dir, "events")
    batch = build_interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )
    stream = streaming_interval_join(spark, events_path)
    run_stream_once(stream, "t_ssjoin_test", output_mode="append")
    assert _rows(spark.sql("SELECT * FROM t_ssjoin_test")) == _rows(batch)


def test_stream_interval_join_outer_invariants(spark, sf_dir, events_path):
    """Outer stream-stream join: matched rows equal the inner join;
    null-extended rows are exactly clicks with no purchase in window
    whose outcome the final watermark could decide."""
    from neo_olap_spark.operators.streaming import (
        build_interval_join,
        streaming_interval_join_outer,
    )

    ev = load(spark, sf_dir, "events")
    inner_batch = build_interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )
    stream = streaming_interval_join_outer(spark, events_path)
    run_stream_once(stream, "t_ssjoin_outer_test", output_mode="append")
    got = spark.sql("SELECT * FROM t_ssjoin_outer_test")
    matched = got.where(F.col("purchase_id").isNotNull())
    assert _rows(matched) == _rows(inner_batch)
    # null-extended clicks overlap neither the matched set nor the
    # batch inner join (same-lineage joins misresolve — compare sets)
    null_ids = {r.click_id for r in got.where(F.col("purchase_id").isNull()).collect()}
    matched_ids = {r.click_id for r in inner_batch.collect()}
    assert not (null_ids & matched_ids)


def test_foreach_batch_sink_matches_batch(spark, sf_dir):
    """foreachBatch parquet sink: the union of all batch partitions
    equals the full projected stream content."""
    import pathlib

    from neo_olap_spark.operators.streaming import (
        run_foreach_batch_to_parquet,
        stream_events,
    )

    base = tempfile.mkdtemp(prefix="neo_olap_feb_")
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    try:
        out = stream_events(spark, f"{sf_dir}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        run_foreach_batch_to_parquet(out, sink, ckpt)
        got = spark.read.parquet(sink)
        want = load(spark, sf_dir, "events")
        assert got.count() == want.count()
        assert got.select("event_id").distinct().count() == want.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_transform_state_registered_in_every_environment(spark, sf_dir):
    """q_stream_transform_state registers unconditionally: it runs on
    applyInPandasWithState over the composite (user, type) key, which
    needs nothing beyond pyspark, so the surface is complete regardless
    of container packaging. The driven result must match the batch
    group-by (the oracle); parity is also covered by the registry-wide
    suite, so here the batch-twin row invariant is asserted directly."""
    from neo_olap_spark.operators.streaming import q_stream_transform_state
    from neo_olap_spark.registry import REGISTRY, queries

    queries()  # populate
    assert "q_stream_transform_state" in REGISTRY
    assert REGISTRY["q_stream_transform_state"].oracle is not None
    got = {
        (r.user_id, r.event_type): r.n_events
        for r in q_stream_transform_state(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_type): r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_parquet_sink_exactly_once_across_restart(spark, sf_dir):
    """Durable streaming checkpoint: stop the query, add new data,
    restart with the same checkpointLocation — every event lands in the
    sink exactly once (the reference's checkpoint/resume R10, stream
    form)."""
    import pathlib

    from neo_olap_spark.operators.streaming import run_to_parquet_sink, stream_events

    base = tempfile.mkdtemp(prefix="neo_olap_restart_")
    src_dir, sink_dir, ckpt_dir = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    try:
        ev = load(spark, sf_dir, "events")
        first = ev.where(F.col("event_id") % 2 == 0)
        second = ev.where(F.col("event_id") % 2 == 1)

        spark.read.parquet(f"{sf_dir}/events.parquet").limit(0)  # warm schema
        first.write.mode("overwrite").parquet(src_dir)
        raw_schema = spark.read.parquet(src_dir).schema

        def run_once():
            stream = spark.readStream.schema(raw_schema).parquet(src_dir)
            out = stream.select("event_id", "user_id", "value")
            run_to_parquet_sink(out, sink_dir, ckpt_dir)

        run_once()
        n_first = spark.read.parquet(sink_dir).count()
        assert n_first == first.count()

        # new files arrive while the query is DOWN; restart resumes
        second.write.mode("append").parquet(src_dir)
        run_once()

        sunk = spark.read.parquet(sink_dir)
        assert sunk.count() == ev.count()
        assert sunk.select("event_id").distinct().count() == ev.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_quality_matches_batch(spark, sf_dir, events_path):
    """The streaming quality audit over a REAL stream must agree with
    its batch twin, and the clean fixture must show zero violations
    in every window except the (intentional) value-outlier counter."""
    from neo_olap_spark.operators.streaming import build_quality_audit

    batch = build_quality_audit(load(spark, sf_dir, "events"))
    stream = build_quality_audit(stream_events(spark, events_path))
    run_stream_once(stream, "t_quality_test", output_mode="complete")
    got = _rows(spark.sql("SELECT * FROM t_quality_test"))
    assert got == _rows(batch)
    for (_, n_rows, null_user, bad_type, neg_value, outlier) in got:
        assert null_user == 0 and bad_type == 0 and neg_value == 0
        assert 0 <= outlier <= n_rows


def test_stream_join_replay_is_deterministic(spark, sf_dir):
    """Two independent replays of the foreachBatch-parquet stream-stream
    join must return IDENTICAL row sets — the property that lets the
    driver hash-check the key and lets a restarted pipeline trust its
    sink. (availableNow batching + watermark advancement are
    deterministic for a fixed source; the sink dir is wiped per run.)"""
    from neo_olap_spark.operators.streaming import q_stream_join

    a = sorted(map(tuple, q_stream_join(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_stream_join(spark, sf_dir).collect()))
    assert a == b
    assert len(a) > 0
