"""Benchmark runner — the driver's perf feedback loop.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {...}, "sf"}.

Each query is forced end-to-end with a noop sink (full execution, no
driver collect). The first query's time includes JVM/codegen warmup;
a tiny warmup query runs first to keep per-query numbers honest.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from neo_olap_spark.registry import queries
from neo_olap_spark.session import get_spark

# Single per-round constant (ADVICE r11 #2): the reps filename derives
# from it so a new round can't silently append into the previous
# round's rep series. Bump this (only this) at round open.
ROUND = 14

# Quiet-host spin ceiling for host_load_probe's verdict. Calibrated on
# this benchmarking host: the observed quiet floor is ~0.072-0.087 s
# for the 2M-iteration loop; reps whose spin started at 0.107/0.150
# ran the same code 21%/31% slower. Host-specific by construction —
# recalibrate if the fleet moves.
SPIN_QUIET_SEC = 0.095


def _read_proc_stat() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies from the aggregate /proc/stat line.

    fields: user nice system idle iowait irq softirq steal
    guest guest_nice — guest/guest_nice are ALREADY included in
    user/nice (ADVICE r12 #1), so summing all ten double-counts
    VM time and deflates busy_pct/steal_pct; cap at 8 fields."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts][:8]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


def _tree_cpu_ticks(root_pid: int) -> int:
    """utime+stime jiffies of ``root_pid`` and every live descendant
    (driver python + JVM + python workers — ~40 processes under a
    local[32] session, one small /proc read each), plus each process's
    cutime/cstime so already-reaped children (e.g. a worker that died
    mid-key) still count. Used to split host busy time into "ours" vs
    "someone else's" while the bench itself is running — the start/end
    host_load_probe can't see a mid-run noisy neighbor (VERDICT r13
    item 1) and busy%% alone is useless mid-run because WE are busy."""
    total = 0
    stack = [root_pid]
    seen: set[int] = set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                rest = f.read().rsplit(b") ", 1)[1].split()
            # rest[0] is field 3 (state); utime/stime are fields 14/15
            # → indices 11/12; cutime/cstime (reaped children) 13/14
            total += int(rest[11]) + int(rest[12])
            total += int(rest[13]) + int(rest[14])
        except (OSError, IndexError, ValueError):
            continue
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            pass
    return total


def key_contention_probe_start() -> tuple | None:
    """Cheap (~2 ms) sample taken around each timed key: /proc/stat
    counters + our process tree's CPU ticks. No spin loop — this runs
    inside the timed region's bracket, so it must be near-free."""
    try:
        tot, idle, steal = _read_proc_stat()
        return tot, idle, steal, _tree_cpu_ticks(os.getpid())
    except OSError:
        return None


def key_contention_probe_end(start: tuple | None) -> dict | None:
    """Close a per-key bracket: over the key's cold+warm window, how
    much of the host's busy CPU was steal or OTHER processes (host
    busy minus our own process tree). other_busy_pct ≈ 0 on a quiet
    host no matter how hard the bench itself works; a mid-run noisy
    neighbor shows up here and nowhere else."""
    if start is None:
        return None
    try:
        tot1, idle1, steal1 = _read_proc_stat()
        ours1 = _tree_cpu_ticks(os.getpid())
    except OSError:
        return None
    tot0, idle0, steal0, ours0 = start
    dtot = max(tot1 - tot0, 1)
    busy = dtot - (idle1 - idle0)
    steal_pct = 100.0 * (steal1 - steal0) / dtot
    d_ours = ours1 - ours0
    # A NEGATIVE own-tree delta means a subtree died and was reaped
    # outside the bracket (e.g. a key that restarts a helper process):
    # its accumulated ticks vanish from the live sum, which would
    # inflate other_busy past 100%. Flag it and don't let a bookkeeping
    # artifact read as contention.
    tree_changed = d_ours < 0
    other_pct = 100.0 * min(max(busy - max(d_ours, 0), 0), dtot) / dtot
    out = {
        "steal_pct": round(steal_pct, 2),
        "other_busy_pct": round(other_pct, 2),
        "contended": bool(
            steal_pct >= 2.0 or (other_pct >= 10.0 and not tree_changed)
        ),
    }
    if tree_changed:
        out["tree_changed"] = True
    return out


def host_load_probe(spin_iters: int = 2_000_000) -> dict:
    """Sample host contention so bench reps carry a load verdict.

    The r11 drift adjudication (SCALING.md) showed this host is
    bimodal: same-code headline reps spanned 59.9–100.5 s while a JVM
    control held flat, and the one rep taken minutes after a manual
    /proc/stat steal probe showed the host quiet landed at 1.007x
    baseline. VERDICT r11 item 4: codify that probe so every rep is
    TAGGED (not refused — the driver runs unattended) and the next
    judge reads labeled reps instead of re-deriving the band.

    Returns steal%% and busy%% over a short /proc/stat window, the
    1-minute loadavg, a fixed single-core Python spin time (an
    absolute same-host yardstick across reps), and a coarse verdict:
    "quiet" when steal < 2%%, busy < 55%% (32 cores leave headroom
    for Spark's own local[32] work) AND the spin lands under
    SPIN_QUIET_SEC; "degraded" when steal/busy look idle but the spin
    is slow — the r12 reps showed the spin tracks headline time
    almost linearly (0.087 s → 73 s, 0.107 → 88.6, 0.150 → 95.5)
    while steal%%/busy%% sat at zero, i.e. co-tenant contention on
    the physical host is invisible to /proc/stat but not to a timed
    busy-loop; "loaded" when steal/busy themselves trip; "unknown"
    when /proc/stat is unreadable (non-Linux).
    """
    _stat = _read_proc_stat

    t0 = time.perf_counter()
    acc = 0
    for i in range(spin_iters):
        acc += i
    spin_sec = time.perf_counter() - t0
    probe = {"spin_sec": round(spin_sec, 4)}
    try:
        tot0, idle0, st0 = _stat()
        time.sleep(0.5)
        tot1, idle1, st1 = _stat()
        dtot = max(tot1 - tot0, 1)
        steal_pct = 100.0 * (st1 - st0) / dtot
        busy_pct = 100.0 * (dtot - (idle1 - idle0)) / dtot
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        if steal_pct >= 2.0 or busy_pct >= 55.0:
            verdict = "loaded"
        elif spin_sec >= SPIN_QUIET_SEC:
            verdict = "degraded"
        else:
            verdict = "quiet"
        probe.update(
            steal_pct=round(steal_pct, 2),
            busy_pct=round(busy_pct, 2),
            loadavg_1m=load1,
            verdict=verdict,
        )
    except (OSError, ValueError, IndexError):
        probe["verdict"] = "unknown"
    return probe

def _warm_python_workers(spark, cpus: int) -> None:
    """One Arrow-UDF pass across ``cpus`` partitions so every python
    worker (and its pandas import) exists before the first timed key.
    See the warmup comment in main()."""
    from pyspark.sql import functions as F

    from neo_olap_spark.operators.udfs import logistic_score_udf

    f = logistic_score_udf()
    d = F.col("id").cast("double")
    (
        spark.range(cpus * 1000, numPartitions=cpus)
        .select(F.sum(f(d, d)))
        .collect()
    )


# Every bench wave in run order: (name, keys). Frozen-list protocol:
# a wave's keys never change once it has been benched, so each wave's
# totals stay key-for-key comparable round over round; new keys get a
# new wave. Every registry key is in exactly one wave
# (tests/test_docs_inventory.py).
WAVES: list[tuple[str, list[str]]] = [
    # r1: the frozen headline set; its cold total is the record's `value`.
    ("headline", [
        "q_scan_lineitem",
        "q_agg_groupby",
        "q_agg_distinct",
        "q_join_inner",
        "q_join_outer",
        "q_join_asof",
        "q_join_range_binned",
        "q_two_hop",
        "q_window_rank",
        "q_window_running_sum",
        "q_degree",
        "q_topn",
        "q_topk_per_group",
        "q_star_join",
        "q_pivot",
        "q_time_rollup",
        "q_agg_salted",
        "q_udf_pandas",
        "q_dedup_exact",
        "q_dedup_near",
        "q_sim_search",
        "q_dedup_embed",
        "q_text_tokens",
        "q_text_tfidf",
        "q_stream_tumbling",
        "q_shortest_path_len",
        "q_random_walk_counts",
        "q_pagerank",
        "q_connected_components",
    ]),
    # r2-r3 additions.
    ("headline2", [
        "q_sessionize",
        "q_time_gap_fill",
        "q_triangle_count",
        "q_graph_clustering",
        "q_text_bigram_lm",
        "q_text_decontaminate",
        "q_funnel",
        "q_join_asof_nearest",
        "q_graph_kcore",
        "q_betweenness_sample",
        "q_grouping_sets",
        "q_pack_sequences",
        "q_dq_audit",
        "q_skew_profile",
        "q_dedup_incremental",
        "q_text_entropy",
        "q_zorder_layout",
        "q_text_chunk",
        "q_embed_pca",
        "q_text_keywords",
        "q_snapshot_diff",
        "q_window_distinct_running",
        "q_agg_histogram_eqdepth",
        "q_multimodal_motion",
        "q_time_ewma",
        "q_graph_sssp",
    ]),
    # r4 additions.
    ("headline3", [
        "q_udf_udtf",
        "q_time_ohlc",
        "q_privacy_mask",
        "q_sink_partitioned",
        "q_stream_join",
        "q_schema_evolution",
        "q_incremental_join_view",
        "q_multimodal_phash",
        "q_stream_ohlc",
    ]),
    # r5 additions (q_embed_pca stays in headline2 under its new verdict
    # shape).
    ("headline4", [
        "q_stream_transform_state",
        "q_sim_ann_ivf",
        "q_sim_ann_lsh",
        "q_multimodal_resize",
        "q_multimodal_frames",
        "q_multimodal_audio",
        "q_multimodal_audio_resample",
    ]),
    # r6 additions.
    ("headline5", [
        "q_sample_bernoulli",
        "q_window_rolling_median",
        "q_text_postings",
        "q_pipeline_dataset_card",
        "q_agg_winsorize",
        "q_scd2_join",
        "q_multimodal_scenes",
    ]),
    # r7 additions; q_stream_join_outer is benched here for the first time
    # (rows-only through r6).
    ("headline6", [
        "q_stream_join_outer",
        "q_sample_verdict",
        "q_sample_stratified_verdict",
        "q_text_containment",
        "q_embed_knn_graph",
        "q_stream_cdc_apply",
        "q_pagerank_personalized",
        "q_anomaly_mad",
        "q_agg_skew_kurtosis",
        "q_graph_hits",
        "q_agg_bitmap_distinct",
        "q_quality_psi",
    ]),
    # r8 additions.
    ("headline7", [
        "q_quality_ks",
        "q_agg_corr_matrix",
        "q_scalar_variant",
        "q_events_attribution",
        "q_agg_mutual_info",
        "q_stream_dedup_state",
    ]),
    # r9 additions.
    ("headline8", [
        "q_join_interval_overlap",
        "q_events_sequence_match",
        "q_quality_benford",
        "q_layout_compaction",
        "q_text_readability",
        "q_agg_bloom_filter",
        "q_agg_regression",
        "q_agg_gini",
        "q_graph_assortativity",
        "q_agg_pareto",
    ]),
    # r10 additions.
    ("headline9", [
        "q_text_bm25",
        "q_scalar_variant_store",
        "q_window_cume",
        "q_privacy_ldiversity",
        "q_feature_hashing",
        "q_sql_recursive",
        "q_text_collocations",
        "q_sim_centroid_assign",
        "q_sql_pipe",
        "q_sim_outliers",
        "q_sim_kmeans_update",
        "q_time_seasonal",
        "q_quality_freshness",
        "q_anomaly_cusum",
        "q_events_rfm",
        "q_basket_lift",
        "q_privacy_tcloseness",
        "q_time_acf",
        "q_text_zipf",
        "q_feature_woe",
        "q_quality_abtest",
        "q_agg_hhi",
        "q_sim_silhouette",
        "q_join_dpp",
        "q_sql_lateral",
        "q_events_funnel_time",
        "q_events_journeys",
        "q_mix_temperature",
        "q_set_ops_all",
        "q_agg_spearman",
        "q_profile_entropy",
    ]),
    # r11 BACKFILL (VERDICT r10 item 4): no new keys. The machinery-
    # heaviest keys that had never been benched: the VERDICT r10 "What's
    # missing #2" list, then the remaining never-benched keys that build a
    # join/window/loop/stream, dedup-and-graph first.
    ("headline10", [
        "q_dedup_ngram",
        "q_dedup_near_clusters",
        "q_dedup_simhash",
        "q_dedup_clusters",
        "q_graph_lpa",
        "q_graph_closeness",
        "q_graph_modularity",
        "q_graph_jaccard",
        "q_graph_degree_hist",
        "q_pipeline_pretrain",
        "q_pipeline_filter",
        "q_pipeline_split",
        "q_merge_upsert",
        "q_scd2_build",
        "q_scd2_asof",
        "q_feature_target_enc",
        "q_cohort_retention",
        "q_events_transitions",
        "q_stream_dedup",
        "q_stream_late",
        "q_stream_sliding",
        "q_stream_session",
        "q_stream_enrich",
        "q_stream_stateful",
        "q_stream_quality",
        "q_multimodal_dedup",
        "q_multimodal_decode",
        "q_udf_grouped_ols",
        "q_join_salted",
        "q_join_bucketed",
        "q_vocab_build",
        "q_text_winnow",
    ]),
    # r11 COMPLETION: the remaining 83 never-benched keys, taking bench
    # coverage to the whole registry. The two rows-only sampling keys are
    # here for their times; their correctness evidence is the driver-green
    # *_verdict twins in headline6.
    ("headline11", [
        "q_agg_argmax",
        "q_agg_bool",
        "q_agg_collect_sorted",
        "q_agg_cube",
        "q_agg_histogram",
        "q_agg_median",
        "q_agg_mode",
        "q_agg_percentile_exact",
        "q_agg_stats",
        "q_anomaly_zscore",
        "q_events_json",
        "q_profile_stats",
        "q_sql_params",
        "q_time_calendar",
        "q_time_downsample",
        "q_unpivot",
        "q_window_range_frame",
        "q_agg_approx_quantile",
        "q_agg_hll",
        "q_agg_hll_union",
        "q_agg_heavy_hitters",
        "q_time_interpolate",
        "q_window_streak",
        "q_agg_countmin",
        "q_agg_freq_approx",
        "q_window_rolling_corr",
        "q_agg_weighted_median",
        "q_events_active_users",
        "q_source_csv",
        "q_source_json",
        "q_source_orc",
        "q_mix_sample",
        "q_embed_quantize",
        "q_embed_stats",
        "q_text_quality",
        "q_text_langid",
        "q_text_fingerprint",
        "q_text_pii",
        "q_text_repetition",
        "q_text_levenshtein",
        "q_text_ngram_stats",
        "q_text_encode",
        "q_multimodal_meta",
        "q_join_cardinality",
        "q_privacy_kanon",
        "q_privacy_erase",
        "q_time_backfill_gaps",
        "q_sink_roundtrip",
        "q_project",
        "q_filter_range",
        "q_filter_disjunctive",
        "q_join_anti",
        "q_semi_join_neighbors",
        "q_join_range",
        "q_agg_sum",
        "q_agg_rollup",
        "q_window_lag",
        "q_window_ntile",
        "q_window_first_last",
        "q_sort",
        "q_union",
        "q_set_ops",
        "q_sample",
        "q_sample_stratified",
        "q_sample_hash",
        "q_window_ratio",
        "q_sample_exact_stratified",
        "q_join_null_safe",
        "q_scalar_string",
        "q_scalar_date",
        "q_scalar_math",
        "q_scalar_array",
        "q_scalar_map",
        "q_scalar_json",
        "q_scalar_bitwise",
        "q_scalar_posexplode",
        "q_scalar_struct",
        "q_scalar_cond",
        "q_scalar_url",
        "q_scalar_trycast",
        "q_subquery_scalar",
        "q_subquery_correlated",
        "q_incremental_agg",
    ]),
    # Full TPC-H 22 (schema-adapted; tpch.py + analytics.py): the one
    # number warehouse engines are compared by.
    ("tpch", [
        "q_sql_tpch_q1", "q_sql_tpch_q2", "q_sql_surface", "q_sql_tpch_q4",
        "q_join_multiway", "q_sql_tpch_q6", "q_sql_tpch_q7", "q_sql_tpch_q8",
        "q_sql_tpch_q9", "q_sql_tpch_q10", "q_sql_tpch_q11", "q_sql_tpch_q12",
        "q_sql_tpch_q13", "q_sql_tpch_q14", "q_sql_tpch_q15", "q_sql_tpch_q16",
        "q_sql_tpch_q17", "q_sql_tpch_q18", "q_sql_tpch_q19", "q_sql_tpch_q20",
        "q_sql_tpch_q21", "q_sql_tpch_q22",
    ]),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("neo-olap-bench", cpus=cpus)
    qs = queries()

    # warmup: touch the JVM, codegen, and parquet footer caches
    spark.range(1000).selectExpr("sum(id)").collect()
    # r13: also warm the PYTHON WORKER POOL (one Arrow-UDF pass across
    # all cores). Without it, whichever key first evaluates a
    # pandas/Arrow UDF — or a Python-stateful streaming operator —
    # absorbs N_cores concurrent python-worker spawns + pandas imports
    # inside ITS timed run (measured: 32 cold workers ≈ 6 s quiet,
    # 20-30 s when the page cache is cold/contended — the r12/r13
    # "cold spike" artifacts on q_stream_transform_state /
    # q_text_entropy class keys). Workers are reused across jobs, so
    # one pass here makes every per-key number reflect the operator,
    # not pool-spawn luck.
    _warm_python_workers(spark, cpus)

    errors: dict[str, str] = {}
    key_probes: dict[str, dict] = {}
    probe_start = host_load_probe()
    runs = [
        (name, *run_set(spark, qs, sf_dir, keys, errors, key_probes))
        for name, keys in WAVES
    ]
    probe_end = host_load_probe()
    record, totals_only = build_record(
        sf, runs, errors, key_probes, probe_start, probe_end
    )

    here = os.path.dirname(os.path.abspath(__file__))
    # Sidecar name is overridable so off-default-SF runs (e.g. the
    # r13 sf0.2 graduation sweep) record their own artifact instead
    # of clobbering the committed sf0.1 round-close record.
    sidecar = os.path.join(
        here,
        os.environ.get("SPARK_GRAFT_BENCH_SIDECAR", "BENCH_local_full.json"),
    )
    # Rep series (VERDICT r10 "what's wrong" #2): BENCH_local_full.json
    # is last-writer-wins, so the r10 history committed the slowest
    # outlier rep as "the" record. Every run now ALSO appends one line
    # to an append-only per-round reps file — the committed history
    # shows the whole same-code rep band (the drift-adjudication
    # input), while the sidecar stays the single round-close record.
    reps_file = os.path.join(
        here,
        os.environ.get(
            "SPARK_GRAFT_BENCH_REPS", f"BENCH_reps_r{ROUND:02d}.jsonl"
        ),
    )
    try:
        with open(reps_file, "a") as f:
            rep_line = {
                "wall_clock_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                **{k: v for k, v in record.items()
                   if k not in ("queries", "queries_warm",
                                "queries_probe")},
                "queries_probe": record["queries_probe"],
                "queries": record["queries"],
                "queries_warm": record["queries_warm"],
            }
            f.write(json.dumps(rep_line) + "\n")
    except OSError as exc:
        print(f"bench.py: reps append failed ({exc})", file=sys.stderr)
    try:
        with open(sidecar, "w") as f:
            json.dump(record, f, indent=1, sort_keys=False)
            f.write("\n")
    except OSError as exc:
        # stdout line is still the contract, but a silent failure here
        # leaves a STALE committed sidecar that disagrees with stdout
        # with no signal — make it detectable (ADVICE r6)
        print(f"bench.py: sidecar write failed ({exc}); "
              f"BENCH_local_full.json may be stale", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(totals_only))


def run_once(spark, qs, sf_dir: str, key: str, phase: str,
             errors: dict[str, str]) -> float | None:
    """One timed end-to-end run; a failing key records its error
    (tagged cold/warm so the artifact says WHICH run died) and
    returns None instead of killing the whole record — one bad
    key must not cost the round its entire bench artifact."""
    t0 = time.perf_counter()
    try:
        df = qs[key](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    except Exception as e:  # noqa: BLE001 — report, don't die
        errors[f"{key}:{phase}"] = f"{type(e).__name__}: {e}"[:200]
        return None
    finally:
        # queries are independent: drop any caches a query persisted
        # so later queries aren't taxed by earlier queries' storage —
        # on the ERROR path too, else one failure skews every
        # subsequent key's memory budget and timing
        spark.catalog.clearCache()


def run_set(spark, qs, sf_dir: str, keys: list[str], errors: dict[str, str],
            key_probes: dict[str, dict]) -> tuple[dict[str, float], dict[str, float]]:
    """Each query runs twice back-to-back: the FIRST time includes
    whole-stage-codegen JIT of its expression tree (cold), the
    SECOND reuses the compiled classes (warm). Cold is what a
    one-shot ad-hoc query pays; warm is the steady-state cost a
    recurring pipeline pays — reporting both stops round-over-round
    deltas from chasing JIT noise (VERDICT r3 item 8: q_text_entropy
    measured 2.4 s cold vs ~1 s warm on an unchanged plan).

    A key whose cold run fails gets no warm run; a key whose warm run
    fails keeps its cold time and is absent from ``warm``."""
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for key in keys:
        if key not in qs:
            continue
        # Per-key contention bracket (VERDICT r13 item 1): the
        # start/end host probes can't see a mid-run noisy
        # neighbor, so each key's cold+warm window records how
        # much host CPU went to steal / processes OUTSIDE this
        # bench's tree. Timing points unchanged, ~2 ms of /proc
        # reads per bracket end.
        kp = key_contention_probe_start()
        c = run_once(spark, qs, sf_dir, key, "cold", errors)
        if c is None:
            key_contention_probe_end(kp)
            continue
        cold[key] = c
        w = run_once(spark, qs, sf_dir, key, "warm", errors)
        probe = key_contention_probe_end(kp)
        if probe is not None:
            key_probes[key] = probe
        if w is not None:
            warm[key] = w
    return cold, warm


def build_record(
    sf: float,
    runs: list[tuple[str, dict[str, float], dict[str, float]]],
    errors: dict[str, str],
    key_probes: dict[str, dict],
    probe_start: dict,
    probe_end: dict,
) -> tuple[dict, dict]:
    """The bench record and the compact last stdout line, from the
    (wave name, cold, warm) results in WAVES order.

    Wave totals cover the keys present in BOTH runs, so cold and warm
    totals always cover the same key set. Keys whose cold run succeeded
    but whose warm run died stay in `queries` and are listed in
    `warm_incomplete_keys`, so a warm-vs-cold delta reflects JIT
    effects, not a missing key."""
    totals: dict[str, float] = {}
    for name, cold, warm in runs:
        common = [k for k in cold if k in warm]
        totals[f"{name}_total"] = round(sum(cold[k] for k in common), 3)
        totals[f"{name}_warm_total"] = round(sum(warm[k] for k in common), 3)
    # Key order is TRUNCATION-PROOF (VERDICT r5 item 7): the driver
    # captures the stdout TAIL, so anything early in this single line
    # can scroll off. Totals and errors go first (cheap to lose last),
    # per-key dicts go last in REVERSE wave order so the r1-comparable
    # headline per-key numbers sit at the very end of the line and
    # always survive. A full sidecar copy is also written to
    # BENCH_local_full.json (committed per round) as a belt-and-braces
    # record the judge can read regardless of driver capture limits.
    record = {
        # headline metric stays COLD-run total for key-for-key
        # comparability with BENCH_r01..r03 (also cold; when no
        # warm run fails — the normal case — the intersection
        # totals equal the plain cold sums those rounds used)
        "metric": "headline_total",
        "value": totals.pop("headline_total"),
        "unit": "sec",
        "sf": sf,
        **totals,
        "errors": errors,
        "warm_incomplete_keys": [
            k for _, cold, warm in runs for k in cold if k not in warm
        ],
        # Host contention tags (VERDICT r11 item 4): probe at run
        # start and end — a rep is only trustworthy as a baseline
        # comparison when BOTH say "quiet" (the host can degrade
        # mid-run; r11's round-close rep did exactly that).
        "host_probe_start": probe_start,
        "host_probe_end": probe_end,
        # Methodology flag (ADVICE r13 #4): the r13+ session warmup
        # includes a python-worker-pool pass — per-key numbers for
        # Python-boundary keys are not directly comparable with
        # pre-r13 artifacts, and this flag marks the boundary.
        "py_worker_warmup": True,
        # Per-key contention summary (VERDICT r13 item 1): keys whose
        # cold+warm window saw steal ≥ 2% or ≥ 10% of host CPU going
        # to processes outside this bench. Empty list = the whole rep
        # ran uncontended, even if a neighbor spiked BETWEEN probes.
        "contended_keys": sorted(
            k for k, p in key_probes.items() if p.get("contended")
        ),
        "queries_probe": key_probes,
        "queries_warm": {k: v for _, _, warm in reversed(runs) for k, v in warm.items()},
        "queries": {k: v for _, cold, _ in reversed(runs) for k, v in cold.items()},
    }
    # The driver records the stdout TAIL (~2000 chars): BENCH_r06's
    # tail was all per-key numbers with every *_total truncated OUT
    # (VERDICT r6 defect 1). The LAST stdout line is therefore a
    # compact totals-only JSON — small enough to survive any tail
    # capture whole; per-key numbers live in the full record and in
    # the committed sidecar.
    totals_only = {
        k: v for k, v in record.items()
        if k not in ("queries", "queries_warm", "queries_probe")
    }
    totals_only["per_key_in"] = "BENCH_local_full.json"
    return record, totals_only


if __name__ == "__main__":
    main()
