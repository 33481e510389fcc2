"""bench.py's output contract and tools/ab.py's bookkeeping, without Spark.

The driver parses bench.py's last stdout line and the judge reads its
sidecar, so both key sets and key orders are pinned to the committed
records. ab.py's worker processes are replaced by canned output.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_runs():
    runs = []
    for i, (name, keys) in enumerate(bench.WAVES):
        cold = {k: 1.0 + i for k in keys}
        warm = {k: 0.5 + i for k in keys}
        runs.append((name, cold, warm))
    return runs


def test_bench_record_key_order_matches_committed_records():
    runs = _fake_runs()
    # one warm failure in the headline wave
    first = bench.WAVES[0][1][0]
    del runs[0][2][first]
    probes = {first: {"contended": True}, "q_sort": {"contended": False}}
    record, last = bench.build_record(
        0.1, runs, {f"{first}:warm": "boom"}, probes,
        {"verdict": "quiet"}, {"verdict": "quiet"},
    )
    with open(os.path.join(ROOT, "BENCH_local_full.json")) as f:
        assert list(record) == list(json.load(f))
    with open(os.path.join(ROOT, "BENCH_r14.json")) as f:
        assert list(last) == list(json.load(f)["parsed"])
    assert last["per_key_in"] == "BENCH_local_full.json"

    headline = bench.WAVES[0][1]
    assert record["value"] == len(headline) - 1  # cold 1.0, failed key excluded
    assert record["headline_warm_total"] == 0.5 * (len(headline) - 1)
    assert record["tpch_total"] == len(bench.WAVES) * len(bench.WAVES[-1][1])
    assert record["warm_incomplete_keys"] == [first]
    assert record["contended_keys"] == [first]
    # per-key maps run newest wave first, so the headline keys end the line
    assert list(record["queries"])[-len(headline):] == headline
    assert list(record["queries"])[: len(bench.WAVES[-1][1])] == bench.WAVES[-1][1]
    assert first in record["queries"] and first not in record["queries_warm"]


@pytest.fixture()
def ab():
    spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "tools", "ab.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_alternates_variants_and_summarizes(ab, tmp_path, monkeypatch):
    (tmp_path / "other" / "neo_olap_spark").mkdir(parents=True)
    tree = str(tmp_path / "other")
    calls = []
    quiet, loaded = {"verdict": "quiet"}, {"verdict": "loaded"}

    def fake_run(argv, **kwargs):
        spec = json.loads(argv[argv.index("--worker") + 1])
        label = "B" if spec["tree"] == tree else "A"
        n = len(calls)
        calls.append((label, kwargs["cwd"], spec["conf"]))
        if n == 5:
            return subprocess.CompletedProcess(argv, 1, "", "worker died")
        cold = {"q_join_inner": 2.0 + n, "q_udf_pandas": 1.0}
        warm = {"q_join_inner": 1.0 + n, "q_udf_pandas": 0.5}
        jobs = {phase: {"q_join_inner": {"build": n, "exec": 1},
                        "q_udf_pandas": {"build": 0, "exec": 2}}
                for phase in ("cold", "warm")}
        rec = {"cold": cold, "warm": warm, "jobs": jobs, "errors": {}, "key_probes": {},
               "host_probe_start": quiet,
               "host_probe_end": loaded if n == 2 else quiet}
        return subprocess.CompletedProcess(argv, 0, "noise\nRESULT " + json.dumps(rec), "")

    monkeypatch.setattr(ab.subprocess, "run", fake_run)
    variants = [ab.parse_variant("A spark.io.compression.codec=zstd"),
                ab.parse_variant(f"B tree={tree}")]
    keys = ["q_join_inner", "q_udf_pandas"]
    doc = ab.run(keys, variants, 3, str(tmp_path), 4, {k: None for k in keys})

    assert [c[0] for c in calls] == ["A", "B", "B", "A", "A", "B"]
    assert calls[0][1] == ab.HERE and calls[1][1] == tree
    assert calls[0][2] == {"spark.io.compression.codec": "zstd"} and calls[1][2] == {}
    a, b = doc["variants"]["A"], doc["variants"]["B"]
    assert (a["processes"], a["failed_processes"], a["quiet_processes"]) == (3, 0, 3)
    # B: call 2's end probe read loaded, call 5 died
    assert (b["processes"], b["failed_processes"], b["quiet_processes"]) == (3, 1, 1)
    # A ran as calls 0, 3, 4: warm 1, 4, 5 -> median 4, quartiles 2.5/4.5
    assert a["keys"]["q_join_inner"]["warm"] == {"median": 4.0, "q1": 2.5, "q3": 4.5, "n": 3}
    assert a["warm_sums"] == [1.5, 4.5, 5.5]
    # job counts: A's builds ran 0, 3 and 4 jobs -> median 3
    assert a["keys"]["q_join_inner"]["jobs"]["cold"] == {"build": 3, "exec": 1}
    assert a["keys"]["q_udf_pandas"]["jobs"]["warm"] == {"build": 0, "exec": 2}
    # B's jobs come from its two live processes (calls 1 and 2)
    assert b["keys"]["q_join_inner"]["jobs"]["warm"] == {"build": 1.5, "exec": 1}
    assert b["keys"]["q_join_inner"]["cold"] == {"median": 3.5, "q1": 3.25, "q3": 3.75, "n": 2}
    assert b["keys_quiet"]["q_join_inner"]["cold"]["n"] == 1
    failed = [r for r in doc["records"] if "failed" in r]
    assert len(failed) == 1 and "worker died" in failed[0]["failed"]
    assert len(doc["records"]) == 6


def test_ab_counts_jobs_per_key_phase_and_part(ab):
    """The worker's job tagging: a key's first call is ``cold``, its
    second ``warm``; jobs the builder runs count as build, jobs after
    it returns (bench's noop write) as exec."""
    from types import SimpleNamespace as NS

    ran = []  # the job group of every job, in order

    class FakeContext:
        group = None
        _jsc = NS(sc=lambda: NS(listenerBus=lambda: NS(waitUntilEmpty=lambda: None)))

        def setJobGroup(self, group, description):
            self.group = group

        def statusTracker(self):
            return NS(getJobIdsForGroup=lambda g: [i for i, x in enumerate(ran) if x == g])

    sc = FakeContext()
    spark = NS(sparkContext=sc)

    def builder(spark, sf_dir):
        ran.extend([sc.group] * 2)
        return "df"

    groups = []
    tagged = ab._job_tagged(spark, {"q_a": builder, "q_b": builder}, groups)
    for key in ("q_a", "q_a", "q_b"):
        assert tagged[key](spark, "sf") == "df"
        ran.append(sc.group)  # the write
    assert ab._job_counts(spark, groups) == {
        "cold": {"q_a": {"build": 2, "exec": 1}, "q_b": {"build": 2, "exec": 1}},
        "warm": {"q_a": {"build": 2, "exec": 1}},
    }


@pytest.mark.parametrize("bad", ["key", "wave", "tree", "label"])
def test_ab_checks_inputs_before_spawning_or_writing(ab, tmp_path, monkeypatch, bad):
    def no_spawn(*a, **k):
        raise AssertionError("a worker was spawned")

    monkeypatch.setattr(ab.subprocess, "run", no_spawn)
    out = tmp_path / "out.json"
    argv = ["--sf-dir", str(tmp_path), "--reps", "1", "--out", str(out),
            "--keys", "q_join_inner", "--variant", "A", "--variant", "B"]
    if bad == "key":
        argv[argv.index("q_join_inner")] = "q_join_inner,q_not_a_key"
    elif bad == "wave":
        argv += ["--wave", "headline12"]
    elif bad == "tree":
        argv[-1] = f"B tree={tmp_path / 'missing'}"
    else:
        argv[-1] = "A"
    with pytest.raises(ValueError):
        ab.main(argv)
    assert not out.exists()
