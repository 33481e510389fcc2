"""Declared star-table schemas and the footer check in tables.load.

``tables.load`` reads with a declared schema instead of letting Spark
infer one (one Spark job per read). These tests pin that the declared
schemas equal what Spark infers on every fixture, that a load runs no
Spark job, and that schema drift in a parquet file raises before any
job runs: with a user schema Spark would read a renamed or missing
column as all-NULL.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from neo_olap_spark import checkpoints, tables
from neo_olap_spark.operators import graph_algos, streaming

# the checked-in fixtures, siblings of the suite's sf_dir
FIXTURES = ["sf0.001", "sf0.01", "sf0.1"]


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", FIXTURES)
def test_declared_schemas_equal_inferred(spark, sf_dir, sf):
    fixture = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), sf)
    if not os.path.isdir(fixture):
        pytest.skip(f"{fixture} not present")
    for name in tables.TABLES:
        inferred = spark.read.parquet(f"{fixture}/{name}.parquet")
        if name == "events":
            inferred = tables._normalize_events_ts(inferred)
        assert tables.load(spark, fixture, name).schema == inferred.schema, name


def test_load_launches_no_spark_job(spark, sf_dir):
    for name in tables.TABLES:
        group = f"tables_load_{name}"
        assert _jobs_in_group(spark, group, lambda: tables.load(spark, sf_dir, name)) == 0
    assert _jobs_in_group(
        spark, "tables_register_views", lambda: tables.register_views(spark, sf_dir)
    ) == 0


def test_stream_events_reads_declared_schema(spark, sf_dir, tmp_path):
    """The streaming source takes the declared events schema too and
    streams the table in place: over the fixture file and over a
    directory of part files, it starts with no inference job and
    returns load's rows."""
    events = tables.load(spark, sf_dir, "events")
    want = sorted(map(tuple, events.collect()))
    t = pq.read_table(f"{sf_dir}/events.parquet")
    parts = tmp_path / "events.parquet"
    parts.mkdir()
    step = -(-t.num_rows // 3)
    for i in range(3):
        pq.write_table(t.slice(i * step, step), parts / f"part-{i:05d}.parquet")
    for layout, src in [("file", f"{sf_dir}/events.parquet"), ("dir", str(parts))]:
        stream = []
        assert _jobs_in_group(
            spark, f"stream_events_schema_{layout}",
            lambda: stream.append(streaming.stream_events(spark, src)),
        ) == 0
        assert stream[0].schema == events.schema
        streaming.run_stream_once(stream[0], f"t_stream_events_{layout}", "append")
        got = spark.table(f"t_stream_events_{layout}").collect()
        assert sorted(map(tuple, got)) == want, layout


def test_replay_state_partitions_reads_footers(spark, sf_dir):
    """Stream state partitions are sized from the events footer row
    count: entering the context runs no Spark job, and it restores the
    session width on exit."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    n_rows = tables.parquet_row_count(sf_dir, "events")
    seen = []

    def enter():
        with streaming._replay_state_partitions(spark, sf_dir):
            seen.append(spark.conf.get(key))

    assert _jobs_in_group(spark, "replay_state_partitions", enter) == 0
    want = max(2, min(int(prev), n_rows // streaming.STATE_ROWS_PER_PARTITION + 1))
    assert seen == [str(want)]
    assert spark.conf.get(key) == prev


def _rename(t: pa.Table) -> pa.Table:
    return t.rename_columns(["l_qty" if c == "l_quantity" else c for c in t.column_names])


def _retype(t: pa.Table) -> pa.Table:
    i = t.schema.get_field_index("l_quantity")
    return t.set_column(i, "l_quantity", pc.cast(t["l_quantity"], pa.string()))


def _drop(t: pa.Table) -> pa.Table:
    return t.drop_columns(["l_quantity"])


def _extra(t: pa.Table) -> pa.Table:
    return t.append_column("l_comment", pa.array([""] * t.num_rows))


DRIFTS = {
    # drift -> (rewrite of lineitem, column the error must name)
    "renamed": (_rename, "l_quantity"),
    "retyped": (_retype, "l_quantity"),
    "missing": (_drop, "l_quantity"),
    "extra": (_extra, "l_comment"),
}


@pytest.mark.parametrize("layout", ["file", "dir"])
@pytest.mark.parametrize("drift", sorted(DRIFTS))
def test_schema_drift_fails_loudly(spark, sf_dir, tmp_path, drift, layout):
    rewrite, column = DRIFTS[drift]
    for name in tables.TABLES:
        t = pq.read_table(f"{sf_dir}/{name}.parquet")
        path = tmp_path / f"{name}.parquet"
        if name == "lineitem":
            t = rewrite(t)
            if layout == "dir":
                path.mkdir()
                path = path / "part-00000.parquet"
        pq.write_table(t, path)
    copy = str(tmp_path)
    # the untouched tables of the copy load; the drifted one raises
    assert tables.load(spark, copy, "orders").schema
    errors = []

    def load_drifted():
        with pytest.raises(ValueError) as err:
            tables.load(spark, copy, "lineitem")
        errors.append(str(err.value))

    assert _jobs_in_group(spark, f"drift_{drift}_{layout}", load_drifted) == 0
    assert "lineitem" in errors[0] and repr(column) in errors[0], errors[0]


# a spark.read / spark.readStream call chain: its links (.option(...),
# .schema(...)) in group 1, up to the .parquet( that ends it
READ_CHAIN = r"\.read(?:Stream)?((?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.parquet\("
# ... of a star-table path "{<dir>}/<table>.parquet"
STAR_READ = re.compile(
    READ_CHAIN
    + r"\s*f?[\"'][^\"'\n]*\}/(?:" + "|".join(tables.TABLES) + r")\.parquet[\"']"
)


def test_star_reads_go_through_tables():
    """Only tables.py reads a star-schema table path, so every read
    takes the declared schema and footer check; a direct
    spark.read.parquet of one would bring schema inference back.
    Round trips of files an operator wrote itself are not star paths."""
    assert STAR_READ.search('spark.read.parquet(f"{sf_dir}/events.parquet")')
    assert STAR_READ.search(
        'spark.read.schema(s(p, "x"))\n    .parquet(f"{sf_dir}/lineitem.parquet")'
    )
    assert not STAR_READ.search('spark.read.parquet(f"{root}/li")')
    assert not STAR_READ.search(
        'spark.read.parquet(src)\nx.write.parquet(f"{d}/events.parquet")'
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "neo_olap_spark")
    found = []
    for dirpath, _, filenames in os.walk(pkg):
        for name in filenames:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == os.path.join(pkg, "tables.py"):
                continue
            with open(path, encoding="utf-8") as f:
                text = f.read()
            found += [(os.path.relpath(path, pkg), m.group(0)) for m in STAR_READ.finditer(text)]
    assert found == []


def _inferred_reads(text: str) -> list[str]:
    return [
        m.group(0)
        for m in re.finditer(READ_CHAIN, text)
        if ".schema(" not in m.group(1)
    ]


def test_streaming_reads_declare_their_schema():
    """Every parquet read in operators/streaming.py and checkpoints.py
    passes a schema: each source they read (the events table, staged
    replay phases, their own sinks, CDC state and loop snapshots) has a
    schema they already hold, and an inferred read runs a Spark job per
    call."""
    assert _inferred_reads("n = spark.read.parquet(d).count()")
    assert _inferred_reads(
        'spark.readStream.option("maxFilesPerTrigger", "1")\n    .parquet(d)'
    )
    assert not _inferred_reads('spark.read.schema(s).parquet(f"{d}/sink")')
    assert not _inferred_reads(
        'spark.readStream.schema(p[0].schema)\n    .option("a", "1")\n    .parquet(d)'
    )
    assert not _inferred_reads('df.write.mode("overwrite").parquet(d)')
    for module in (streaming, checkpoints):
        with open(module.__file__, encoding="utf-8") as f:
            assert _inferred_reads(f.read()) == [], module.__name__


def test_snapshot_resume_launches_no_spark_job(spark, tmp_path):
    """A resume reload reads each frame with the caller's initial
    schema after a driver-side footer check: 0 jobs for two frames,
    where an inferred read runs one job per frame."""
    from pyspark.sql import functions as F

    d = str(tmp_path)
    start = spark.range(8).selectExpr("id AS node", "CAST(id AS DOUBLE) AS rank")

    def step(s, _):
        yield "a", s["a"].select("node", (F.col("rank") + 1).alias("rank"))
        yield "b", s["a"].select("node", (F.col("rank") * 2).alias("rank"))

    def run():
        return graph_algos._iterate({"a": start, "b": start}, step, 2, ckpt_dir=d)

    run()
    out = []
    assert _jobs_in_group(spark, "snapshot_resume", lambda: out.append(run())) == 0
    resumed, rounds, _ = out[0]
    assert rounds == 2
    assert sorted(map(tuple, resumed["a"].collect())) == [(i, i + 2.0) for i in range(8)]
    assert sorted(map(tuple, resumed["b"].collect())) == [(i, (i + 2.0) * 2) for i in range(8)]
