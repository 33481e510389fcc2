"""Property-based sink/source roundtrips (hypothesis).

The reference's ArrayStoreTest checks one constant fixture; these
generate adversarial content — delimiters, quotes, newlines, unicode,
nulls — and assert every interchange format reproduces it exactly.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import LongType, StringType, StructField, StructType

from neo_olap_spark.sources import read_csv, read_json, write_csv, write_json

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("txt", StringType(), True),
    ]
)

# printable-ish unicode incl. csv/json hazards; exclude the surrogates
# block (unencodable) and control chars parquet/csv writers normalize
text_strategy = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("L", "N", "P", "S", "Zs"),
            include_characters=',";\n\t{}[]\\',
        ),
        max_size=40,
    ),
)

rows_strategy = st.lists(text_strategy, min_size=1, max_size=12)


def _roundtrip(spark, rows, writer, reader):
    df = spark.createDataFrame(list(enumerate(rows)), SCHEMA)
    out = tempfile.mkdtemp(prefix="neo_olap_prop_rt_")
    try:
        writer(df, out)
        back = reader(spark, out, SCHEMA)
        return {r.id: r.txt for r in back.collect()}
    finally:
        shutil.rmtree(out, ignore_errors=True)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_csv_roundtrip_property(spark, rows):
    got = _roundtrip(spark, rows, write_csv, read_csv)
    # CSV cannot distinguish null from empty string (both serialize to
    # an empty field) — normalize that one lossy case, assert the rest
    want = {i: (t if t != "" else None) for i, t in enumerate(rows)}
    got = {i: (t if t != "" else None) for i, t in got.items()}
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_json_roundtrip_property(spark, rows):
    got = _roundtrip(spark, rows, write_json, read_json)
    assert got == dict(enumerate(rows))


def test_parquet_tuned_writer(spark, sf_dir):
    """write_parquet_tuned: zstd codec lands in the file names, file
    count respects maxRecordsPerFile, partitionBy produces prunable
    directories, and content roundtrips exactly."""
    import glob

    from neo_olap_spark.sources import write_parquet_tuned

    from neo_olap_spark.tables import load

    o = load(spark, sf_dir, "orders")
    n = o.count()
    root = tempfile.mkdtemp(prefix="neo_olap_tuned_")
    out = root + "/orders"
    try:
        write_parquet_tuned(
            o, out, compression="zstd", max_records_per_file=200,
            partition_by=("o_orderstatus",),
        )
        files = glob.glob(f"{out}/*/*.parquet")
        assert files and all(".zstd.parquet" in f for f in files)
        # every partition dir splits into ceil(rows/200) files
        assert len(files) >= n // 200
        dirs = {f.split("/")[-2] for f in files}
        assert all(d.startswith("o_orderstatus=") for d in dirs)
        back = spark.read.parquet(out)
        assert back.count() == n
        assert {r.o_orderkey for r in back.select("o_orderkey").collect()} == {
            r.o_orderkey for r in o.select("o_orderkey").collect()
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


asof_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
)
asof_orders = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=25
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=asof_events, orders=asof_orders)
def test_asof_join_property(spark, events, orders):
    """The union+window as-of join must agree with the brute-force
    definition on random data: for each event, the order of the same
    user with the max (t, key) among orders with t <= event time —
    including ties at equal timestamps and users with no orders."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    ev_rows = [(i, u, t) for i, (u, t) in enumerate(events)]
    o_rows = [(1000 + i, u, t) for i, (u, t) in enumerate(orders)]

    ev = spark.createDataFrame(ev_rows, "event_id long, user_id long, t long")
    o = spark.createDataFrame(o_rows, "okey long, user_id long, t long") if o_rows else (
        spark.createDataFrame([], "okey long, user_id long, t long")
    )

    # same shape as q_join_asof: union, sort, running last_value
    left = ev.select(
        "user_id", "t", F.lit(None).cast("long").alias("okey"),
        F.lit(0).alias("is_order"), "event_id",
    )
    right = o.select(
        "user_id", "t", "okey", F.lit(1).alias("is_order"),
        F.lit(None).cast("long").alias("event_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("okey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    got = {
        r.event_id: r.last_okey
        for r in left.unionByName(right)
        .withColumn("last_okey", F.last("okey", ignorenulls=True).over(w))
        .where(F.col("is_order") == 0)
        .select("event_id", "last_okey")
        .collect()
    }

    # brute force in Python
    want = {}
    for eid, u, t in ev_rows:
        cands = [(ot, ok) for ok, ou, ot in o_rows if ou == u and ot <= t]
        want[eid] = max(cands)[1] if cands else None
    assert got == want


@pytest.fixture(scope="module", autouse=True)
def _warm(spark):
    # one tiny job so hypothesis timing isn't dominated by JVM warmup
    spark.range(10).count()


# ---------------------------------------------------------------------------
# UDTF row-generator invariants (pure Python — no session needed)
# ---------------------------------------------------------------------------


@settings(deadline=None)
@given(st.integers(min_value=1, max_value=10**9))  # fan-out ≤ 200 rows
def test_installment_rows_partition_the_total(cents):
    from neo_olap_spark.operators.udfs import (
        INSTALLMENT_CHUNK_CENTS,
        installment_rows,
    )

    rows = list(installment_rows(cents))
    # rows reassemble the exact total — the UDTF never loses a cent
    assert sum(a for _, a in rows) == cents
    # row count = ceil(cents / chunk): the variable fan-out contract
    expect_n = -(-cents // INSTALLMENT_CHUNK_CENTS)
    assert len(rows) == expect_n
    # installment numbers are dense 0..n-1; amounts in (0, chunk]
    assert [i for i, _ in rows] == list(range(expect_n))
    assert all(0 < a <= INSTALLMENT_CHUNK_CENTS for _, a in rows)
