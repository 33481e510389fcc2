"""Physical-plan shape assertions (SURVEY.md §4).

Correctness tests prove the answer is right at sf0.01; these prove the
PLAN is right at 100 TB: filters reach the parquet reader, projections
prune the scan, dim joins broadcast, top-K never global-sorts. A plan
regression fails here even while results stay correct.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from neo_olap_spark.plans import (
    assert_in_plan,
    assert_not_in_plan,
    assert_pushed_filter,
    assert_read_schema_only,
    plan_str,
)
from neo_olap_spark.registry import REGISTRY, queries


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    qs = queries()
    return lambda key: qs[key](spark, sf_dir)


def test_filter_range_pushdown(q):
    # range predicate must reach the reader as row-group-skippable filters
    df = q("q_filter_range")
    assert_pushed_filter(df, "GreaterThanOrEqual(o_orderkey,100)")
    assert_pushed_filter(df, "LessThan(o_orderkey,5000)")


def test_filter_disjunctive_pushdown(q):
    df = q("q_filter_disjunctive")
    assert_pushed_filter(df, "Or(LessThan(o_custkey,50)")


def test_project_prunes_scan(q):
    # 2 of 11 lineitem columns: the scan must read exactly those
    df = q("q_project")
    assert_read_schema_only(df, "lineitem", {"l_orderkey", "l_extendedprice"})


def test_join_inner_broadcasts_dim(q):
    # customer is the dim side: broadcast hash join, no shuffle of orders
    df = q("q_join_inner")
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "SortMergeJoin")


def test_topn_no_global_sort(q):
    # orderBy().limit() must plan as TakeOrderedAndProject (streaming
    # top-K, TopNSelector.java:23-52 analog), never a full sort
    df = q("q_topn")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_agg_has_partial_aggregation(q):
    # map-side combine: two HashAggregate levels around one exchange
    p = plan_str(q("q_agg_groupby"))
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p or "partial" in p


def test_semi_join_stays_semi(q):
    df = q("q_semi_join_neighbors")
    assert_in_plan(df, "LeftSemi")


def test_udf_is_arrow_vectorized(q):
    # the sanctioned UDF shape: ArrowEvalPython, never BatchEvalPython
    df = q("q_udf_pandas")
    assert_in_plan(df, "ArrowEvalPython")
    assert_not_in_plan(df, "BatchEvalPython")
    # and the filter still pushes through it to the scan
    assert_pushed_filter(df, "LessThan(l_orderkey,2000)")


@pytest.mark.parametrize("key", ["q_sql_tpch_q1", "q_star_join"])
def test_normalized_plan_is_stable_in_one_session(q, key):
    """tools/profile_key.py's plan dumps diff clean when the plan is
    unchanged: the same key built twice in one session normalizes to
    the same text. Spark 4 numbers exchanges with a JVM-global
    ``plan_id=N`` counter, so the raw texts differ."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "profile_key.py",
    )
    spec = importlib.util.spec_from_file_location("profile_key", path)
    profile_key = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(profile_key)
    a, b = plan_str(q(key)), plan_str(q(key))
    assert "plan_id=" in a and a != b
    assert profile_key.normalize_plan(a) == profile_key.normalize_plan(b)


def test_star_join_broadcasts_all_dims(q):
    # Q5 shape: one shuffle join (lineitem⋈orders) + broadcast dims;
    # the fact table must never sort-merge against a dimension
    p = plan_str(q("q_star_join"))
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p
    # the date filter reached the orders scan
    assert "PushedFilters" in p and "o_orderdate" in p


def test_time_rollup_single_expand(q):
    # grouping sets compute every granularity in ONE pass: one Expand,
    # and partial aggregation before the single shuffle
    p = plan_str(q("q_time_rollup"))
    assert p.count("Expand") >= 1
    assert p.count("HashAggregate") >= 2


def test_dedup_embed_blocks_before_pairs(q):
    # the label-blocked pair join must be an equi join on the block key,
    # not a cartesian product
    p = plan_str(q("q_dedup_embed"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_per_group_uses_group_limit(q):
    # rank-then-filter must plan as WindowGroupLimit with a Partial
    # phase before the shuffle: at most K rows per group are exchanged
    p = plan_str(q("q_topk_per_group"), mode="simple")
    assert "WindowGroupLimit" in p
    assert "Partial" in p


def test_asof_join_no_pair_blowup(q):
    # the as-of join must be the union+window shape: one Window, no
    # theta join (SortMergeJoin/BroadcastNestedLoopJoin would mean the
    # quadratic per-user pair plan)
    p = plan_str(q("q_join_asof"), mode="simple")
    assert "Window" in p
    assert "Join" not in p


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key must join without any
    shuffle: the only Exchange in the plan is the final aggregation's."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from neo_olap_spark.operators.relational import bucketed_customer_orders

    base = tempfile.mkdtemp(prefix="neo_olap_bucket_plan_")
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast_key)
    tables = []
    try:
        c, o, tables = bucketed_customer_orders(spark, sf_dir, base)
        spark.conf.set(bcast_key, "-1")
        joined = c.join(o, c.c_custkey == o.o_custkey).select("c_mktsegment", "o_totalprice")
        p = plan_str(joined, mode="simple")
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, f"bucketed join must not shuffle:\n{p}"
        # selecting bucket metadata is honored end-to-end: 8 buckets
        agg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n"))
        p2 = plan_str(agg, mode="simple")
        assert p2.count("Exchange") == 1  # only the aggregate shuffles
    finally:
        spark.conf.set(bcast_key, prev)
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base, ignore_errors=True)


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """With runtime Bloom-filter pruning on, a selective dim filter on
    one side of a shuffle join injects might_contain onto the fact
    scan — non-joinable rows die before the exchange. (Shuffle join
    forced: a broadcast join needs no runtime filter.)"""
    from pyspark.sql import functions as F

    from neo_olap_spark.plans import runtime_bloom_filter
    from neo_olap_spark.tables import load

    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast_key)
    try:
        spark.conf.set(bcast_key, "-1")
        with runtime_bloom_filter(spark):
            li = load(spark, sf_dir, "lineitem")
            o = load(spark, sf_dir, "orders").where(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            p = plan_str(j)
            assert "might_contain" in p, f"no runtime bloom filter injected:\n{p}"
            assert "bloom_filter_agg" in p
    finally:
        spark.conf.set(bcast_key, prev)


def test_hive_partition_pruning(spark, sf_dir):
    """An equality predicate on a hive-partition column must prune at
    the DIRECTORY level (PartitionFilters), reading zero bytes of the
    excluded partitions — stronger than row-group skipping."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from neo_olap_spark.sources import write_parquet_tuned
    from neo_olap_spark.tables import load

    root = tempfile.mkdtemp(prefix="neo_olap_part_")
    out = root + "/orders"
    try:
        write_parquet_tuned(
            load(spark, sf_dir, "orders"), out, partition_by=("o_orderstatus",)
        )
        df = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
        p = plan_str(df)
        pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
        assert pf and any("o_orderstatus" in ln for ln in pf), (
            f"partition filter did not reach the scan:\n{p}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_parquet_reduces_files(spark, sf_dir):
    """compact_parquet: many small files in, ~target-sized files out,
    same content."""
    import glob
    import shutil
    import tempfile

    from neo_olap_spark.sources import compact_parquet
    from neo_olap_spark.tables import load

    base = tempfile.mkdtemp(prefix="neo_olap_compact_")
    src, dst = f"{base}/src", f"{base}/dst"
    try:
        o = load(spark, sf_dir, "orders")
        n = o.count()
        o.repartition(40).write.parquet(src)  # simulate tiny-file sprawl
        assert len(glob.glob(f"{src}/part-*.parquet")) == 40
        n_files = compact_parquet(spark, src, dst, target_rows_per_file=n // 2 + 1)
        assert n_files == 2
        assert spark.read.parquet(dst).count() == n
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_parquet_balances_skewed_input(spark, sf_dir):
    """Skewed part files (one huge + many tiny) must come out BALANCED:
    multi-file compaction repartitions (round-robin shuffle) instead of
    coalescing, which would only glue adjacent splits and preserve the
    skew. Output file sizes must agree within ±20%."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from neo_olap_spark.sources import compact_parquet
    from neo_olap_spark.tables import load

    base = tempfile.mkdtemp(prefix="neo_olap_compact_skew_")
    src, dst = f"{base}/src", f"{base}/dst"
    try:
        o = load(spark, sf_dir, "orders")
        n = o.count()
        # 90% of rows in one part file, the rest sprinkled over 20
        o.repartitionByRange(
            21, F.when(F.col("o_orderkey") % 10 < 9, 0).otherwise(F.col("o_orderkey") % 100)
        ).write.parquet(src)
        sizes_in = sorted(
            os.path.getsize(p) for p in glob.glob(f"{src}/part-*.parquet")
        )
        assert sizes_in[-1] > 3 * sizes_in[0], "fixture should be skewed"
        n_files = compact_parquet(spark, src, dst, target_rows_per_file=n // 4 + 1)
        assert n_files == 4
        sizes = [os.path.getsize(p) for p in glob.glob(f"{dst}/part-*.parquet")]
        assert max(sizes) <= 1.2 * min(sizes), f"unbalanced output: {sizes}"
        assert spark.read.parquet(dst).count() == n
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_mix_sample_is_pure_scan_filter(q):
    # mixture sampling must be a per-row predicate on the scan — no
    # shuffle, no join, no aggregation anywhere in the plan
    p = plan_str(q("q_mix_sample"), mode="simple")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "Aggregate" not in p


def test_embed_quantize_is_shuffle_free(q):
    # int8 quantization is per-row expression work over the scan
    p = plan_str(q("q_embed_quantize"), mode="simple")
    assert "Exchange" not in p
    assert "Join" not in p


def test_decontaminate_broadcasts_benchmark(q):
    # the benchmark shingle set is the small side: broadcast membership
    # probe, never a sort-merge or cartesian of the corpus
    p = plan_str(q("q_text_decontaminate"), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_pack_sequences_partitions_by_source(q):
    # the packing cumsum must window per source (parallel across
    # sources), not via a global single-partition window
    p = plan_str(q("q_pack_sequences"), mode="simple")
    assert "Window" in p
    assert "SinglePartition" not in p


def test_every_oracle_query_analyzes(q):
    # every registered key at least builds a resolvable plan
    for key in REGISTRY:
        df = q(key)
        assert df.schema is not None


def test_sessionize_single_exchange(q):
    # gap windows + session rollup must share ONE partitioning on
    # user_id: exactly one Exchange in the whole plan
    p = plan_str(q("q_sessionize"), "simple")
    assert p.count("Exchange") == 1, f"expected exactly 1 Exchange:\n{p}"


def test_subquery_scalar_broadcasts_one_row(q):
    # the scalar aggregate ships as a broadcast, never a shuffle of the
    # probe side
    df = q("q_subquery_scalar")
    assert_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "SortMergeJoin")


def test_subquery_correlated_is_decorrelated(q):
    # decorrelation: one Exchange on the correlation key, reused by the
    # window aggregate AND the final groupBy
    p = plan_str(q("q_subquery_correlated"), "simple")
    assert p.count("Exchange") == 1, f"expected exactly 1 Exchange:\n{p}"
    assert "Window" in p


def test_sql_tpch_q6_pushes_all_filters(q):
    # all four predicates must reach the parquet reader
    df = q("q_sql_tpch_q6")
    p = plan_str(df)
    assert "PushedFilters:" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p, p[:2000]


def test_sample_hash_is_topk(q):
    # deterministic hash sample must plan as streaming top-K, not a
    # global sort of the whole table
    df = q("q_sample_hash")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_incremental_agg_pushes_split_predicate(q):
    # base and delta scans must each push their shipdate bound, so the
    # delta pass reads only new row groups
    p = plan_str(q("q_incremental_agg"))
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p


def test_tpch_q10_topk_streams(q):
    # LIMIT 20 over the ordered revenue must plan as streaming top-K,
    # never a global sort of every customer group
    df = q("q_sql_tpch_q10")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_multiway_join_broadcasts_dims(q):
    # TPC-H Q5 DataFrame form: supplier/customer/nation⋈region are all
    # broadcast — the fact table shuffles at most once (orderkey)
    df = q("q_join_multiway")
    p = plan_str(df)
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_anomaly_zscore_is_broadcast_two_pass(q):
    # stats side is 4 rows — must rejoin via broadcast, not a window
    # (a window would shuffle every event into per-type partitions)
    df = q("q_anomaly_zscore")
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "Window")
    assert_not_in_plan(df, "SortMergeJoin")


def test_downsample_single_exchange(q):
    # arithmetic bucketing fuses into the scan: one shuffle total
    p = plan_str(q("q_time_downsample"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_histogram_single_exchange(q):
    p = plan_str(q("q_agg_histogram"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_heavy_hitters_broadcasts_total(q):
    # the scalar total joins in via broadcast; no sort-merge anywhere
    df = q("q_agg_heavy_hitters")
    assert_not_in_plan(df, "SortMergeJoin")


def test_first_last_single_window_exchange(q):
    # all four navigation windows share one partitioning: one Exchange
    p = plan_str(q("q_window_first_last"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_entropy_zero_shuffle(q):
    # the entropy projection fuses into the scan: no Exchange at all
    # (the only allowed exchange is the oracle-ordering rangepartition)
    p = plan_str(q("q_text_entropy"), mode="simple")
    assert "hashpartitioning" not in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p


def test_chunk_zero_shuffle(q):
    # chunking = tokenize + explode + slice, all per-row: no hash
    # exchange (explode is a generator, not a shuffle)
    p = plan_str(q("q_text_chunk"), mode="simple")
    assert "hashpartitioning" not in p, p
    assert "Generate" in p, p  # the explode is there


def test_dq_audit_row_checks_fuse_into_one_scan(q):
    # four row-level checks = ONE lineitem aggregate; the FK check's
    # anti join must stay anti (probe side never widens)
    df = q("q_dq_audit")
    assert_in_plan(df, "LeftAnti")
    p = plan_str(df, mode="simple")
    # 6 checks, 4 scans total: one fused lineitem aggregate carrying
    # ALL four row-level checks, one orders PK scan, and the two
    # orphan-probe sides — never one scan per check
    assert p.count("FileScan parquet") == 4, p
    assert "count(CASE WHEN isnull(l_orderkey" in p, p  # fused agg


def test_skew_profile_bounded_topn(q):
    # the heavy-hitter cut must be a bounded TakeOrderedAndProject,
    # never a global Sort of all keys
    df = q("q_skew_profile")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_in_plan(df, "BroadcastNestedLoopJoin")  # 1-row stats scalar


def test_dedup_incremental_single_key_partitioning(q):
    # anti join + groupBy share the md5 hash key; no sort-merge join
    # (the digest registry hash-joins)
    df = q("q_dedup_incremental")
    p = plan_str(df, mode="simple")
    assert "LeftAnti" in p, p


def test_keywords_partial_window_group_limit(q):
    # only K rows per doc may cross the added doc_id exchange: Spark
    # must plan a PARTIAL WindowGroupLimit (mode on the operator line,
    # not just any partial aggregate elsewhere in the plan)
    p = plan_str(q("q_text_keywords"), mode="simple")
    wgl_lines = [ln for ln in p.splitlines() if "WindowGroupLimit" in ln]
    assert wgl_lines, p
    assert any("Partial" in ln for ln in wgl_lines), wgl_lines


def test_zorder_no_global_window_funnel(q):
    # curve ranking must be per-partition windows (partitioned by
    # _pid), never an unpartitioned global row_number
    p = plan_str(q("q_zorder_layout"))
    assert "windowspecdefinition(_pid" in p, p


def test_snapshot_diff_is_one_full_outer_join(q):
    df = q("q_snapshot_diff")
    assert_in_plan(df, "FullOuter")
    p = plan_str(df, mode="simple")
    assert p.count("Join") == 1, p


def test_distinct_running_no_per_user_window(q):
    # the rewrite must aggregate users away BEFORE any window: the
    # window runs over the per-day relation, and there is no window
    # partitioned by user
    p = plan_str(q("q_window_distinct_running"))
    assert "windowspecdefinition(user_id" not in p, p
    assert "HashAggregate" in p, p


def test_ewma_single_exchange(q):
    # 8 LAG terms must share one window partitioning: one Exchange
    p = plan_str(q("q_time_ewma"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_rolling_corr_single_exchange(q):
    # lag window + frame-sum window share partitioning AND order:
    # one Exchange, one sort
    p = plan_str(q("q_window_rolling_corr"), mode="simple")
    assert p.count("Exchange") == 1, p


def test_target_enc_broadcasts_stats(q):
    # category stats must broadcast back; no sort-merge join of the
    # events against themselves
    df = q("q_feature_target_enc")
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "SortMergeJoin")


def test_join_cardinality_never_joins_raw_tables(q):
    # the estimate joins per-key COUNT tables: both join inputs must
    # be aggregates (counts), so the plan has exactly one join and it
    # sits above two HashAggregates
    p = plan_str(q("q_join_cardinality"))
    import re as _re

    assert len(_re.findall(r"Join ", p)) >= 1
    # no output-exploding join of the raw fact tables: the join keys
    # are the aggregated count relations, visible as aggregates on
    # both sides feeding the join
    assert p.count("HashAggregate") >= 4, p


def test_transitions_single_sequence_exchange(q):
    # one user_id Exchange for the lag; the (types x types) aggregate
    # and totals broadcast are tiny
    df = q("q_events_transitions")
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "SortMergeJoin")


def test_udtf_arrow_evaluated(q):
    # the UDTF must run Arrow-batched (not pickled row-at-a-time) and
    # the orderkey filter must still reach the parquet scan beneath it
    df = q("q_udf_udtf")
    assert_in_plan(df, "ArrowEvalPythonUDTF")
    assert_pushed_filter(df, "LessThan(o_orderkey,2000)")


def test_udtf_builds_leave_the_catalog_unchanged(spark, q):
    # a long-lived session builds the key again and again (bench warm
    # passes, the driver): no build may register a function or a view
    def catalog():
        return (
            sorted(f.name for f in spark.catalog.listFunctions()),
            sorted(t.name for t in spark.catalog.listTables()),
        )

    before = catalog()
    for _ in range(2):
        q("q_udf_udtf")
    assert catalog() == before


def test_sink_partitioned_returns_lazy_pruned_read(q):
    # the partitioned-sink key must return the LAZY read of the sink:
    # a parquet FileScan with the partition filter at directory level
    # — never a createDataFrame-from-collect (LocalTableScan), which
    # would funnel a fact-sized result through the driver
    df = q("q_sink_partitioned")
    p = plan_str(df)
    assert "LocalTableScan" not in p, p
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and any("o_orderpriority" in ln for ln in pf), (
        f"partition filter did not prune the sink read:\n{p}"
    )


def test_kcore_broadcast_gate_respects_byte_threshold(spark):
    # the k_core survivor semi joins are broadcast only when the
    # survivor set's estimated BYTES fit autoBroadcastJoinThreshold —
    # a byte gate, not a row-count proxy. Assert both the threshold
    # parser and the two plan shapes the gate selects between.
    from pyspark.sql import functions as F

    from neo_olap_spark.operators.graph_algos import (
        _broadcast_threshold_bytes,
        _fits_broadcast,
        _kcore_round,
        k_core,
    )

    # parser: bare bytes, unit suffixes, and the -1 = disabled form
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        for raw, want in [("0", 0), ("10m", 10 << 20), ("-1", 0), ("1048576", 1 << 20)]:
            spark.conf.set(key, raw)
            assert _broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, prev)

    edges = spark.range(100).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 100).alias("dst")
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    survivors = sym.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n = survivors.count()

    # the gate decision k_core computes (the shared _fits_broadcast
    # expression, not a re-derivation): a 0/disabled threshold must
    # say no, a 10 MB threshold must admit 100 survivor longs
    assert _fits_broadcast(n, 0) is False
    assert _fits_broadcast(n, 10 << 20) is True

    # and the two plan shapes those decisions select between. With the
    # hint withheld AND the session threshold disabled, the plan must
    # fall back to a non-broadcast join (the hint is the only
    # broadcast force); with the hint, it must broadcast even then.
    try:
        spark.conf.set(key, "-1")
        p_no = plan_str(_kcore_round(sym, survivors, 2, do_bcast=_fits_broadcast(n, 0)))
        assert "BroadcastHashJoin" not in p_no, p_no
        p_yes = plan_str(
            _kcore_round(sym, survivors, 2, do_bcast=_fits_broadcast(n, 10 << 20))
        )
        assert "BroadcastHashJoin" in p_yes, p_yes
    finally:
        spark.conf.set(key, prev)

    # end-to-end: a cycle is its own 2-core regardless of gate path
    assert k_core(sym, k=2).count() == 100


def test_incremental_join_view_four_quadrants(q):
    # join-side IVM: exactly the four quadrant joins (stored + three
    # deltas), never a recompute-join of the unpartitioned tables and
    # never a cartesian
    import re as _re

    p = plan_str(q("q_incremental_join_view"), mode="simple")
    n_joins = len(
        _re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", p)
    )
    assert n_joins == 4, p
    assert "Cartesian" not in p, p


def test_skew_strategy_defaults(spark):
    """SCALING.md round-5 decision (AQE-vs-salting measurement): join
    skew is handled by AQE's runtime skew-split and group skew by
    map-side partial aggregation — both must stay pinned ON in the
    session defaults, because hand-salting measured 1.5-2.7x SLOWER
    under a planted 30%-hot-key at the 10x fixture (SCALING.md
    "Round-5: AQE skew-join vs hand-salting")."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # partial aggregation below the exchange (the group-skew answer):
    # two HashAggregate levels around the shuffle
    import os

    from neo_olap_spark.tables import load as _load

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    li = _load(spark, sf, "lineitem")
    p = li.groupBy("l_returnflag").count()._jdf.queryExecution().simpleString()
    assert p.count("HashAggregate") >= 2, p


def test_knn_graph_group_limit_and_equi_block_join(q):
    # k-NN graph: the label-blocked pair join must be an equi join
    # (never a cartesian/BNL product), and rank<=k must plan as
    # WindowGroupLimit so only k rows per vector survive the rank
    # shuffle
    p = plan_str(q("q_embed_knn_graph"), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p, p


def test_corr_matrix_single_partial_agg_pruned_scan(q):
    # one-pass correlation matrix: ALL 10 moment sums must combine
    # map-side under a single exchange, and the scan must read exactly
    # the 4 needed columns (the at-scale claim: 3 rows per flag cross
    # the shuffle, nothing else)
    df = q("q_agg_corr_matrix")
    p = plan_str(df)
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p
    # simple mode prints each node once (formatted lists tree + detail)
    assert plan_str(df, mode="simple").count("Exchange") == 1, p
    assert_read_schema_only(
        df,
        "lineitem",
        {"l_returnflag", "l_quantity", "l_extendedprice", "l_discount"},
    )


def test_scalar_variant_is_scan_fused_projection(q):
    # VARIANT extraction must stay a zero-shuffle codegen'd projection
    # over a 2-column pruned scan — no Python, no exchange
    df = q("q_scalar_variant")
    p = plan_str(df)
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p
    assert_read_schema_only(df, "events", {"event_id", "props"})


def test_scalar_variant_parses_once(q):
    # whole-stage codegen subexpression elimination must evaluate each
    # distinct parse_json ONCE per row: exactly two parseJson call
    # sites in the generated code (props + the constructed doc), each
    # inside a cached subExpr function the five extractions read —
    # never one parse per extraction (the analyzed plan TEXT shows the
    # parse inlined per extraction; the executed code must not)
    df = q("q_scalar_variant")
    code = plan_str(df, mode="codegen")
    body = "\n".join(
        ln for ln in code.splitlines() if ln.lstrip().startswith("/*")
    )
    assert body.count("VariantExpressionEvalUtils.parseJson") == 2, code
    assert "subExpr" in body, code


def test_attribution_single_window_exchange(q):
    # last-touch attribution: ONE user-keyed window Exchange plus the
    # aggregate's — never a self-join or a per-purchase lookup — and
    # the type filter must reach the scan
    df = q("q_events_attribution")
    p = plan_str(df, mode="simple")
    assert "Window" in p
    assert p.count("Exchange") <= 2, p
    assert "Join" not in p, p
    assert_pushed_filter(df, "In(event_type")


def test_mutual_info_one_fact_scan(q):
    # MI must touch the fact table with ONE partial-aggregable groupBy;
    # marginals/total derive from the (checkpointed) cell table via
    # broadcast joins — the plan shows exactly one parquet scan of
    # orders ... the cell table reuse appears as LogicalRDD scans
    df = q("q_agg_mutual_info")
    p = plan_str(df)
    # the checkpointed cell table appears as LogicalRDD scans, so the
    # FINAL plan must contain no parquet scan at all (the one fact
    # scan happened inside the checkpoint job) — both counts, ANDed
    assert p.count("orders.parquet") == 0, p
    assert p.count("file:") == 0, p
    assert plan_str(df, mode="simple").count("BroadcastHashJoin") >= 2, p


def test_dedup_postings_subtree_shared(q):
    # the df-capped postings table (explode → df window → doc-size
    # window) feeds BOTH sides of the pair self-join; Catalyst does not
    # unify a self-join on a derived frame (measured pre-fix: 4
    # document scans, 4 Windows, 0 ReusedExchange), so exact_jaccard_
    # pairs / q_text_containment localCheckpoint it. The FINAL plan
    # must therefore contain no documents scan and no Window at all —
    # the explode+window chain ran exactly once, inside the checkpoint
    # job — and both join sides read the checkpointed RDD.
    for key in ("q_text_containment", "q_dedup_ngram"):
        df = q(key)
        p = plan_str(df)
        assert p.count("documents.parquet") == 0, (key, p)
        assert p.count("file:") == 0, (key, p)
        assert "Window" not in p, (key, p)
        # exactly the two join sides read the checkpointed RDD
        assert plan_str(df, mode="simple").count("Scan ExistingRDD") == 2, (key, p)


def test_interval_overlap_is_binned_equi_join(q):
    # the overlap predicate has no equi key; the bin decomposition
    # must turn it into a hash join (broadcast — the window side is 25
    # rows), never a nested-loop/cartesian theta join
    df = q("q_join_interval_overlap")
    p = plan_str(df)
    assert "CartesianProduct" not in p, p
    # the final 25-row restore join may legitimately nest as a LeftOuter
    # BNLJ; the MATCH join must never — so every BNLJ line, if any,
    # must be the LeftOuter restore ("BroadcastNestedLoopJoin BuildX,
    # LeftOuter" — build side prints between name and join type)
    for ln in p.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "LeftOuter" in ln, (ln, p)
    assert "BroadcastHashJoin" in p, p


def test_sequence_match_single_user_exchange(q):
    # one groupBy on user_id builds the journey; the regex verdicts are
    # per-row projections — exactly one data Exchange in the plan
    df = q("q_events_sequence_match")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 1, p
    assert "EvalPython" not in p, p


def test_benford_single_scan_and_aggregate(q):
    # the checkpointed ≤9-row digit table feeds both the total and the
    # final projection: the FINAL plan must contain no events scan (it
    # ran inside the checkpoint job) and only broadcast joins
    df = q("q_quality_benford")
    p = plan_str(df)
    assert p.count("events.parquet") == 0, p
    assert "SortMergeJoin" not in p, p


def test_layout_compaction_two_exchanges(q):
    # one hash Exchange for the (month, file) inventory aggregate, one
    # for the per-month packing window — nothing else moves data
    df = q("q_layout_compaction")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 2, p


def test_readability_zero_shuffle(q):
    # pure per-row projection fused into the scan
    df = q("q_text_readability")
    p = plan_str(df, mode="simple")
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_bloom_filter_probe_is_broadcast_hash_join(q):
    # the probe must be TWO broadcast hash joins against the
    # checkpointed distinct-position set (O(1) per probe row) — never
    # a shuffle join, and never an array_contains linear scan (the
    # first cut: 41 s at sf0.1, exponent 0.85, caught by the 10× soak)
    df = q("q_agg_bloom_filter")
    p = plan_str(df, mode="simple")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p
    assert "array_contains" not in p, p


def test_regression_single_partial_agg_pruned_scan(q):
    # one Exchange with map-side partials; the scan reads exactly the
    # three regression columns
    df = q("q_agg_regression")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 1, p
    assert "partial" in plan_str(df).lower(), p
    assert_read_schema_only(
        df, "lineitem", {"l_returnflag", "l_quantity", "l_extendedprice"}
    )


def test_gini_single_exchange(q):
    # rank window + moment aggregate both key on the priority, so the
    # aggregate REUSES the window's hashpartitioning: ONE Exchange
    # total moves data
    df = q("q_agg_gini")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 1, p
    assert_read_schema_only(
        df, "orders", {"o_orderpriority", "o_totalprice", "o_orderkey"}
    )


def test_pareto_single_exchange(q):
    # both windows and the groupBy key on the segment: ONE Exchange
    df = q("q_agg_pareto")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 1, p
    assert_read_schema_only(
        df, "orders", {"o_orderpriority", "o_totalprice", "o_orderkey"}
    )


def test_assortativity_reads_checkpointed_graph(q):
    # the symmetrized edge list and the degree table are both
    # localCheckpointed (shared-subtree rule): the FINAL plan reads
    # only checkpointed RDDs — no parquet scan, no window
    df = q("q_graph_assortativity")
    p = plan_str(df)
    assert ".parquet" not in p, p
    assert "file:" not in p, p


def test_variant_store_read_prunes(q):
    # the stored-VARIANT read must serve extractions from the shredded
    # parquet layout: no JSON parse anywhere in the read plan, the
    # raw_json decoy column absent, and the variantGet calls rewritten
    # to struct-field reads whose ReadSchema carries ONLY the three
    # extracted paths' typed leaves (not the full variant binary)
    df = q("q_scalar_variant_store")
    p = plan_str(df, mode="formatted")
    assert "parse_json" not in p and "ParseJson" not in p, p
    assert "raw_json" not in p, p
    assert "variant_get" not in p, p  # rewritten to shredded field reads
    assert "ReadSchema: struct<event_id:bigint,v:struct<0:bigint,1:bigint,2:bigint>>" in p, p


def test_bm25_topk_prunes_partially(q):
    # per-query top-k must prune below the Exchange (partial
    # WindowGroupLimit — the q_text_postings pattern), the small side
    # tables (query terms, df, scalars) must broadcast, and the
    # checkpointed dl/tf tables must appear as RDD scans (built once)
    df = q("q_text_bm25")
    p = plan_str(df, mode="simple")
    assert p.count("WindowGroupLimit") == 2, p  # Partial + Final
    assert "Partial" in p and "Final" in p, p
    assert p.count("SortMergeJoin") == 0, p
    assert "ExistingRDD" in p, p  # checkpointed tf/dl subtrees
    # no raw decimal arithmetic: the shared micro expr must stay in
    # doubles end-to-end (cross-engine decimal scale rules differ)
    assert "decimal" not in plan_str(df, mode="formatted"), "decimal leak"


def test_centroid_assign_zero_shuffle(q):
    # k-means assignment must be a scan-fused per-row projection: the
    # centroid table rides as a literal array column, so there is NO
    # Exchange and NO join anywhere — the map-side shape (a K x N
    # explode-join would shuffle the corpus K-fold)
    df = q("q_sim_centroid_assign")
    p = plan_str(df, mode="simple")
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_window_cume_single_exchange(q):
    # both distribution functions share ONE window spec: one Exchange,
    # one Window node, and the orderkey slice filter reaches the scan
    df = q("q_window_cume")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 1, p
    assert p.count("Window [") == 1, p
    assert_pushed_filter(df, "LessThan(l_orderkey,2000)")


def test_feature_hashing_pruned_bounded(q):
    # the unpivot reads exactly the three feature columns; the only
    # shuffles are the two-phase distinct aggregate into <=256 buckets
    df = q("q_feature_hashing")
    assert_read_schema_only(df, "part.parquet", {"p_brand", "p_type", "p_size"})
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 2, p
    assert "Join" not in p, p


def test_sql_recursive_loop_and_cut(q):
    # WITH RECURSIVE must plan as a UnionLoop (per-level frontier
    # joins, not a materialized cross product), and the per-node
    # deepest-row cut must prune partially below its Exchange
    df = q("q_sql_recursive")
    p = plan_str(df, mode="simple")
    assert "UnionLoop" in p, p
    assert p.count("WindowGroupLimit") == 2, p


def test_collocations_checkpointed_subtrees(q):
    # the unigram and bigram count tables each feed a scalar AND a
    # join: both are checkpointed (ExistingRDD), so the final plan
    # contains no parquet scan at all and no re-derived count chain
    df = q("q_text_collocations")
    p = plan_str(df, mode="simple")
    assert "ExistingRDD" in p, p
    assert "FileScan" not in p, p


def test_sql_pipe_lowers_to_classic_plan(q):
    # the pipe dialect must lower to the same physical shape as the
    # classic query: status filter pushed to the scan, one partial-
    # aggregable groupBy Exchange plus the ORDER BY range Exchange
    df = q("q_sql_pipe")
    assert_pushed_filter(df, "EqualTo(o_orderstatus,F)")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange") == 2, p
    assert "HashAggregate" in p, p


def test_sim_outliers_checkpointed_assignment(q):
    # the assignment subtree feeds the median window AND the final
    # join: it must be checkpointed (ExistingRDD, no parquet scan in
    # the final plan), with ONE centroid-keyed Exchange and the K-row
    # median table broadcast back
    df = q("q_sim_outliers")
    p = plan_str(df, mode="simple")
    assert "ExistingRDD" in p, p
    assert "FileScan" not in p, p
    # one shuffle (the median window's centroid partitioning); the
    # BroadcastExchange of the K-row median table is not a shuffle
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "BroadcastHashJoin" in p, p


def test_kmeans_update_single_scan_no_join(q):
    # the Lloyd update must be ZERO joins: the assignment emits the
    # integerized vector from the SAME scan (with_qv), so the plan is
    # one fact scan -> posexplode -> one map-side-combined (centroid,
    # pos) aggregate shuffle. A Join node here means the corpus was
    # re-scanned and broadcast/shuffled K-fold (the first-cut defect
    # the round-10 self-review killed).
    df = q("q_sim_kmeans_update")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p


def test_seasonal_checkpointed_detrended(q):
    # the detrended table feeds the seasonal aggregate AND the final
    # join: checkpointed (ExistingRDD, no parquet scan in the final
    # plan), one dow-keyed shuffle, seasonal table broadcast back
    df = q("q_time_seasonal")
    p = plan_str(df, mode="simple")
    assert "ExistingRDD" in p and "FileScan" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "BroadcastHashJoin" in p, p


def test_freshness_single_fact_pass(q):
    # byday feeds the anchor AND the rollup: checkpointed, so the
    # final plan has no fact scan; the 1-row anchor broadcasts and
    # the only shuffle is the series-bounded rollup
    df = q("q_quality_freshness")
    p = plan_str(df, mode="simple")
    assert "ExistingRDD" in p and "FileScan" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_cusum_shared_series_partitioning(q):
    # the daily groupBy is one Exchange; EVERYTHING after it (prefix
    # window, total/count windows, peak window, final aggregate) must
    # share the single series-keyed Exchange — exactly two total
    df = q("q_anomaly_cusum")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "Join" not in p, p


def test_rfm_shared_window_exchange(q):
    # all three NTILE windows partition on the segment, so ONE
    # hashpartitioning Exchange serves them (three sorts, no
    # re-shuffle), and the final cell rollup REUSES that partitioning
    # (its keys are a superset of the window partition column); the
    # checkpointed per-customer aggregate appears as RDD scans and the
    # customer dimension scan is pruned to the join+segment columns
    df = q("q_events_rfm")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Window") == 3, p
    assert "ExistingRDD" in p, p  # checkpointed per-customer triple
    assert_read_schema_only(df, "customer", {"c_custkey", "c_mktsegment"})


def test_basket_lift_checkpointed_and_bounded_cut(q):
    # the capped basket table and the item-count table are both
    # localCheckpointed (three and two consumers), so the final plan
    # reads only RDD scans — no parquet re-scan; pair counting is the
    # ONLY data-moving hash shuffle; and the global top-40 plans as
    # TakeOrderedAndProject (per-partition partial take — the rank
    # window never global-sorts the rule table)
    df = q("q_basket_lift")
    p = plan_str(df, mode="simple")
    assert ".parquet" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "TakeOrderedAndProject(limit=40" in p, p


def test_tcloseness_checkpointed_cells(q):
    # the (QI x band) cell table is localCheckpointed (four
    # consumers: band totals, group sizes, the N scalar, the join),
    # so the final plan never re-scans customer parquet; every
    # downstream frame is domain-bounded
    df = q("q_privacy_tcloseness")
    p = plan_str(df, mode="simple")
    assert ".parquet" not in p, p
    assert p.count("ExistingRDD") == 4, p


def test_acf_two_exchanges_one_window(q):
    # one fact groupBy Exchange to the daily table, ONE series-keyed
    # Exchange serving the single Window that computes all lags (one
    # sort), and the final (series, lag) aggregate REUSES the series
    # partitioning (superset grouping keys — the rfm/gini rule)
    df = q("q_time_acf")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("Window") == 1, p
    assert "Join" not in p, p


def test_zipf_bounded_topn_no_global_sort(q):
    # the top-N vocabulary cut must plan as TakeOrderedAndProject
    # (bounded rows through one partition), never an unpartitioned
    # global sort or WindowExec over the full vocabulary; one token
    # shuffle is the only data-moving Exchange
    df = q("q_text_zipf")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


def test_woe_checkpointed_cells(q):
    # the band-domain-bounded cell table is localCheckpointed (feeds
    # the totals scalar AND the output projection), so the final plan
    # never re-scans customer/orders parquet
    df = q("q_feature_woe")
    p = plan_str(df, mode="simple")
    assert ".parquet" not in p, p
    assert p.count("ExistingRDD") == 2, p


def test_abtest_single_scan_conditional_agg(q):
    # the 2x2 table comes from ONE scan with codegen-fused conditional
    # counts — no join, no window, only the 1-row combine crosses the
    # wire; no decimal arithmetic may leak into the shared chi2 tail
    df = q("q_quality_abtest")
    p = plan_str(df, mode="simple")
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert_read_schema_only(df, "orders", {"o_custkey", "o_orderpriority"})


def test_hhi_two_partial_aggregates(q):
    # fact groupBy to per-(segment, customer), then the moment
    # aggregate — both map-side combined, no window/join/sort
    df = q("q_agg_hhi")
    p = plan_str(df, mode="simple")
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert_read_schema_only(df, "orders", {"o_orderpriority", "o_custkey", "o_totalprice"})


def test_silhouette_zero_join_one_exchange(q):
    # assignment + second-nearest come scan-fused from the literal
    # centroid array (the centroid_assign zero-shuffle shape); the
    # ONLY Exchange is the K-bounded cluster rollup
    df = q("q_sim_silhouette")
    p = plan_str(df, mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange") == 1, p


def test_dpp_dynamic_partition_filter(q):
    # the fact scan over the partitioned sink must carry a RUNTIME
    # partition filter (dynamicpruning expression) fed by the
    # broadcast month dim — the scan reads only qualifying month
    # directories, never the whole table
    df = q("q_join_dpp")
    p = plan_str(df, mode="simple")
    assert "dynamicpruning" in p, p
    assert "BroadcastExchange" in p, p


def test_lateral_decorrelates_to_window_group_limit(q):
    # Catalyst must decorrelate the LATERAL top-1 subquery into a
    # rank window with a partial WindowGroupLimit below the Exchange
    # — per-row re-execution never appears
    df = q("q_sql_lateral")
    p = plan_str(df, mode="simple")
    assert "WindowGroupLimit" in p, p


def test_funnel_time_user_keyed_stages(q):
    # both firsts aggregate map-side on user_id and the rank-pick
    # windows partition by cohort week — no unpartitioned window.
    # The window MUST exist (unconditional count) and every window
    # line must carry the cohort partition key.
    df = q("q_events_funnel_time")
    p = plan_str(df, mode="simple")
    win_lines = [
        ln for ln in p.splitlines()
        if "Window [" in ln and "windowspecdefinition" in ln
    ]
    # two Window ops: row_number (ordered) and the frame-less count —
    # both MUST partition on the cohort key
    assert len(win_lines) == 2, p
    assert all("cohort_week" in ln for ln in win_lines), win_lines


def test_journeys_one_window_bounded_cut(q):
    # one user-keyed Exchange serves the window computing BOTH leads
    # (one sort, one Window op); the path rollup's Exchange moves only
    # partial counts (types^3-bounded per partition); the rank cut
    # plans as TakeOrderedAndProject — no global sort
    df = q("q_events_journeys")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 2, p
    # exactly ONE Window operator computes both leads (one sort); the
    # only other Window op is the rank over the TakeOrdered 20 rows
    user_win_ops = [
        ln for ln in p.splitlines()
        if "Window [" in ln and "windowspecdefinition(user_id" in ln
    ]
    assert len(user_win_ops) == 1, p
    assert "TakeOrderedAndProject" in p, p


def test_mix_temperature_lang_bounded(q):
    # one map-side-combined groupBy to the lang-bounded count table
    # (checkpointed: totals scalar + output), totals broadcast back —
    # the final plan reads only RDD scans
    df = q("q_mix_temperature")
    p = plan_str(df, mode="simple")
    assert ".parquet" not in p, p
    assert p.count("ExistingRDD") == 2, p
    assert "Window" not in p, p


def test_set_ops_all_no_sort_no_join(q):
    # INTERSECT ALL / EXCEPT ALL must plan as hash re-partitions with
    # per-key count bookkeeping (Generate/replicate form) — never a
    # sort-merge join or cartesian shape
    df = q("q_set_ops_all")
    p = plan_str(df, mode="simple")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Generate replicaterows" in p, p


def test_spearman_shared_flag_exchange(q):
    # both rank windows AND the moment aggregate key on the return
    # flag: ONE hashpartitioning Exchange total (the gini/rfm reuse
    # rule), two window sorts, no join
    df = q("q_agg_spearman")
    p = plan_str(df, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Window [") == 2, p
    assert "Join" not in p, p


def test_profile_entropy_domain_bounded(q):
    # each column profiles via one map-side-combined groupBy to its
    # domain-bounded cell table and a 1-row summary — no join, no
    # window, and each scan prunes to exactly its profiled column
    df = q("q_profile_entropy")
    p = plan_str(df, mode="simple")
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert_read_schema_only(df, "customer", {"c_mktsegment"})
    assert_read_schema_only(df, "lineitem", {"l_returnflag"})


def test_dedup_exact_digest_keyed_shuffle(q):
    # round-10 verdict fix: the exact-dedup aggregate must shuffle the
    # (xxhash64(text), length(text)) digest, never the text itself —
    # at 100 TB a text-keyed Exchange carries the unique corpus as the
    # partitioning KEY. The text column rides back on a long-keyed
    # equi join (no cartesian, no text partitioning anywhere).
    df = q("q_dedup_exact")
    p = plan_str(df)
    assert "xxhash64" in p
    # ADVICE r11 #1: a second independent hash (crc32) rides in the
    # digest so a 64-bit collision can't silently merge groups
    assert "crc32" in p
    assert "hashpartitioning(text" not in p
    assert "hashpartitioning(cast(text" not in p
    assert "CartesianProduct" not in p


def test_time_interpolate_no_quadratic_window_frame(q):
    # r11 bench-coverage find: a [currentRow, unboundedFollowing]
    # frame makes Spark re-aggregate the partition tail per row —
    # O(span²) per user (31 s at sf0.1, warm == cold). The forward
    # anchors must come from a RUNNING frame over DESC order instead;
    # this pins that no UnboundedFollowing frame ever returns.
    df = q("q_time_interpolate")
    p = plan_str(df, mode="simple")
    assert "unboundedfollowing$()" not in p.lower().replace(" ", ""), p
    assert "Window" in p


def test_dedup_postings_no_inferred_refilter_at_scan(spark, sf_dir):
    # r13 optimization find: explode() on the computed shingle array
    # makes InferFiltersFromGenerate plant a size(sh) > 0 pre-filter
    # that PushDownPredicates drives through the tokenize Exchange to
    # the parquet scan, re-inlining split() at every element_at — the
    # whole shingle transform re-runs per row in the (single-task)
    # scan stage: 8.6 s -> 1.4 s warm at sf0.1 once removed. The
    # postings chain must evaluate the shingle lambda exactly ONCE
    # (its projection); any second occurrence means the inferred
    # filter is back.
    from pyspark.sql import functions as F

    from neo_olap_spark.operators.llm_dedup import (
        MAX_SHINGLE_DF,
        _explode_no_refilter,
        _shingled,
        capped_postings,
    )

    ex = _explode_no_refilter(_shingled(spark, sf_dir), "sh", "s")
    kept = capped_postings(ex, MAX_SHINGLE_DF, ckpt=False)
    p = plan_str(kept, mode="simple")
    # no Filter NODE may evaluate the shingle transform (the inferred
    # pre-filter shape is `Filter (size(array_distinct(...)) > 0 ...)`;
    # the transform may legitimately appear inside Project/Generate —
    # that's its single evaluation, wherever CollapseProject puts it)
    assert "Filter (size(array_distinct" not in p, p
    assert "Filter ((size(array_distinct" not in p, p
    # the scan must carry no data filter at all — pre-fix the pushed
    # refilter re-tokenized every row in the single-task scan stage
    scan_lines = [ln for ln in p.splitlines() if "FileScan" in ln]
    assert scan_lines and "DataFilters: []" in scan_lines[0], p


def test_simhash_expansion_spread_and_signature_materialized(q):
    # r13 optimization: (a) the packed 64-term signature must come
    # from a materialized frame (Scan ExistingRDD), not be re-inlined
    # into all 9 chunk structs by CollapseProject (fell out of
    # whole-stage codegen: 4.5 s for 5 000 rows); (b) the O(|docs|^2)
    # bucket pair expansion must sit above a round-robin exchange so
    # byte-based AQE coalescing cannot fuse it onto one task.
    df = q("q_dedup_simhash")
    p = plan_str(df, mode="simple")
    assert "Scan ExistingRDD" in p, p
    assert "RoundRobinPartitioning" in p, p
    # explode_outer (outer generate) — no inferred size()>0 refilter
    assert "Generate explode" in p and ", true, [p#" in p, p
