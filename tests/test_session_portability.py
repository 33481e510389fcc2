"""Events must be readable under ANY SparkSession, not just ours.

The driver harness builds its own bare SparkSession without our
builder-time configs (notably spark.sql.legacy.parquet.nanosAsLong,
required to read events.parquet's TIMESTAMP(NANOS) column). Round 1's
only two driver failures were exactly this. These tests simulate the
driver by UNSETTING the conf before invoking events-touching keys:
tables.load / stream_events must re-set it at read time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from neo_olap_spark.operators import analytics, relational, streaming
from neo_olap_spark.tables import load

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def bare_conf(spark):
    """Unset the nanos conf to mimic a driver-built session; restore after."""
    spark.conf.unset(NANOS_CONF)
    yield spark
    spark.conf.set(NANOS_CONF, "true")


def test_load_events_on_bare_session(bare_conf, sf_dir):
    ev = load(bare_conf, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    assert ev.limit(5).count() == 5


def test_time_rollup_on_bare_session(bare_conf, sf_dir):
    out = analytics.q_time_rollup(bare_conf, sf_dir)
    assert out.count() > 0


def test_sql_surface_on_bare_session(bare_conf, sf_dir):
    out = analytics.q_sql_surface(bare_conf, sf_dir)
    assert out.count() > 0


def test_join_asof_on_bare_session(bare_conf, sf_dir):
    out = relational.q_join_asof(bare_conf, sf_dir)
    assert out.count() > 0


def test_stream_events_on_bare_session(bare_conf, sf_dir):
    stream = streaming.stream_events(bare_conf, f"{sf_dir}/events.parquet")
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    assert stream.isStreaming


def test_stream_query_copy_path_on_bare_session(bare_conf, sf_dir):
    # the q_stream_* wrappers stream events.parquet in place — that
    # read must also survive a session without the conf
    out = streaming.q_stream_join(bare_conf, sf_dir)
    assert out.count() >= 0


def test_scd2_epoch_is_tz_proof(spark, sf_dir):
    """Date-epoch projections must not drift when the caller's session
    zone isn't UTC: load() pins UTC at read time for EVERY table, so
    q_scd2_build under a New-York session equals its DuckDB oracle."""
    from neo_olap_spark.registry import REGISTRY, queries
    from neo_olap_spark.testing import assert_parity

    queries()
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        q = REGISTRY["q_scd2_build"]
        assert_parity(q.fn(spark, sf_dir), q.oracle, sf_dir)
        # load() must have re-pinned UTC
        assert spark.conf.get(tz_key) == "UTC"
    finally:
        spark.conf.set(tz_key, prev)


def test_sessionize_epoch_is_tz_proof(spark, sf_dir):
    from neo_olap_spark.registry import REGISTRY, queries
    from neo_olap_spark.testing import assert_parity

    queries()
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        q = REGISTRY["q_sessionize"]
        assert_parity(q.fn(spark, sf_dir), q.oracle, sf_dir)
    finally:
        spark.conf.set(tz_key, prev)


def test_stream_events_pins_utc_on_nonutc_session(spark, sf_dir):
    """ADVICE r2 (medium): stream_events normalizes events.ts via the
    session-TZ-sensitive NTZ->timestamp cast. On a bare NON-UTC driver
    session every streaming timestamp would drift by the zone offset;
    the nanos guard now folds in the UTC pin, so building a stream
    source must re-pin the zone even when no tables.load ran first."""
    from neo_olap_spark.operators.streaming import stream_events

    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        stream = stream_events(spark, f"{sf_dir}/events.parquet")
        assert spark.conf.get(tz_key) == "UTC"
        assert stream.isStreaming
    finally:
        spark.conf.set(tz_key, prev)


def test_new_time_keys_on_bare_session(bare_conf, sf_dir):
    """Round-3 second-wave events-touching keys must also survive a
    session without the nanos conf (the driver's shape)."""
    from neo_olap_spark.registry import queries

    qs = queries()
    for key in ("q_time_interpolate", "q_window_streak", "q_udf_grouped_ols"):
        assert qs[key](bare_conf, sf_dir).count() > 0, key


def test_stream_late_on_bare_session(bare_conf, sf_dir):
    from neo_olap_spark.registry import queries

    out = queries()["q_stream_late"](bare_conf, sf_dir)
    assert out.count() > 0


def test_time_interpolate_tz_proof(spark, sf_dir):
    """Interpolation epochs must not drift under a non-UTC caller."""
    from neo_olap_spark.registry import REGISTRY, queries
    from neo_olap_spark.testing import assert_parity

    queries()
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        q = REGISTRY["q_time_interpolate"]
        assert_parity(q.fn(spark, sf_dir), q.oracle, sf_dir)
        assert spark.conf.get(tz_key) == "UTC"
    finally:
        spark.conf.set(tz_key, prev)


def test_third_wave_time_keys_on_bare_session(bare_conf, sf_dir):
    """Third-wave events-touching keys must survive a session without
    the nanos conf (the driver's shape): skew profiling, running
    distinct, EWMA, target encoding, and the streaming audit all read
    events.ts / events.value through tables.load."""
    from neo_olap_spark.registry import queries

    qs = queries()
    for key in (
        "q_skew_profile",
        "q_window_distinct_running",
        "q_time_ewma",
        "q_feature_target_enc",
        "q_stream_quality",
        "q_events_transitions",
        "q_window_rolling_corr",
        "q_time_backfill_gaps",
        "q_events_active_users",
        "q_scd2_asof",
    ):
        assert qs[key](bare_conf, sf_dir).count() > 0, key


def test_oracles_survive_non_utc_duckdb_connection(spark, sf_dir):
    """The driver owns its own DuckDB connection and never pins its
    TimeZone — every oracle must therefore be connection-TZ-free.
    q_time_calendar regressed exactly this way (to_timestamp() is
    TIMESTAMPTZ; formatting shifted a day under a western zone):
    re-run the date-emitting oracles under a hostile New-York zone
    and require parity with the Spark side."""
    import duckdb

    from neo_olap_spark.registry import REGISTRY, queries

    queries()
    con = duckdb.connect()
    con.execute("SET TimeZone='America/New_York'")
    for t in ("orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    for key in ("q_time_calendar", "q_window_distinct_running", "q_events_active_users"):
        q = REGISTRY[key]
        spark_pdf = (
            q.fn(spark, sf_dir).toPandas().astype(str).sort_values(
                by=list(q.fn(spark, sf_dir).columns)
            ).reset_index(drop=True)
        )
        oracle_pdf = con.execute(q.oracle).df()[spark_pdf.columns].astype(str)
        oracle_pdf = oracle_pdf.sort_values(by=list(oracle_pdf.columns)).reset_index(
            drop=True
        )
        assert spark_pdf.equals(oracle_pdf), key


def test_stream_transform_state_on_bare_session(bare_conf, sf_dir):
    """The r6 driver wave fronted the arbitrary-stateful key (it
    hash-matched); its whole chain — shared replay copy,
    applyInPandasWithState fallback, foreachBatch sink, lazy window
    extraction — must run on a session without our builder confs."""
    out = streaming.q_stream_transform_state(bare_conf, sf_dir)
    assert out.count() >= 0


def test_only_session_module_builds_sessions():
    """session.get_spark is the one session factory: a second builder
    chain drifts from it (the profiler's and the config A/B's copies
    both lost the Arrow safe-cast conf), so no other module may start
    a session builder chain."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allowed = os.path.join(root, "neo_olap_spark", "session.py")
    builder = re.compile(r"SparkSession\s*\.\s*builder\b")
    offenders = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for name in filenames:
            path = os.path.join(dirpath, name)
            if name.endswith(".py") and path != allowed:
                with open(path, encoding="utf-8") as f:
                    if builder.search(f.read()):
                        offenders.append(os.path.relpath(path, root))
    assert not offenders, f"session builder outside session.py: {offenders}"
