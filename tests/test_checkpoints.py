"""Checkpoint/resume equivalence (SURVEY.md §5.2, AnalysisRoundTest port).

The reference asserts its round loop resumes exactly from a checkpoint
file (AnalysisRoundTest.java:18-54). Spark analog: the production
loops behind q_random_walk_counts, q_pagerank and
q_pagerank_personalized (called with their query arguments, scaled
down) take a ``ckpt_dir``; a run "interrupted" by asking for fewer
rounds, then resumed with the full count in a fresh call, must be
bit-identical to a plain run without snapshots.

The same loops are proven under failure: a default loop whose
local-checkpoint blocks are lost fails loudly instead of returning
rows, a snapshot whose footer differs from the loop state raises
instead of reading NULLs, and a loop round whose first task attempt
fails retries to the same output.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from neo_olap_spark.checkpoints import latest_round
from neo_olap_spark.graph import edge_count_estimate, edges, symmetrize
from neo_olap_spark.operators import graph_algos as ga
from neo_olap_spark.operators.graph_algos import (
    PPR_SEEDS,
    all_nodes,
    bfs_distances,
    pagerank,
    random_walk_counts,
)
from neo_olap_spark.tables import load

# q_random_walk_counts runs 256 walkers x 16 steps, seed 42
WALK = dict(n_walkers=32, n_steps=8, seed=42)
# q_pagerank / q_pagerank_personalized run 8 iterations
PR_ITERS = 4


@pytest.fixture()
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="neo_olap_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _walk(spark, sf_dir, **kw):
    return random_walk_counts(spark, sf_dir, **{**WALK, **kw})


def _pagerank(spark, sf_dir, n_iters=PR_ITERS, **kw):
    return pagerank(
        symmetrize(edges(spark, sf_dir)), all_nodes(spark, sf_dir),
        n_iters=n_iters, n_edges=edge_count_estimate(spark, sf_dir), **kw,
    )


def test_resume_equivalence(spark, sf_dir, ckpt_dir):
    plain = _rows(_walk(spark, sf_dir))

    # interrupted after 4 of 8 steps, then a fresh call resumes
    partial = _walk(spark, sf_dir, n_steps=4, ckpt_dir=ckpt_dir)
    # materialize before resuming: the resumed run deletes round=4 files
    partial_total = sum(v for _, v in _rows(partial))
    assert latest_round(ckpt_dir) == 4  # loop state encoded in dir name
    resumed = _walk(spark, sf_dir, ckpt_dir=ckpt_dir)

    assert latest_round(ckpt_dir) == 8
    assert _rows(resumed) == plain
    # partial counts cover 4 steps + start: walkers * 5 total visits
    assert partial_total == WALK["n_walkers"] * 5


def test_delete_previous_retention(spark, sf_dir, ckpt_dir):
    _walk(spark, sf_dir, ckpt_dir=ckpt_dir)
    # only the final round's snapshot remains (Runner.java:67-71)
    rounds = [p.name for p in pathlib.Path(ckpt_dir).iterdir() if p.name.startswith("round=")]
    assert rounds == ["round=8"]


def test_pagerank_resume_equivalence(spark, sf_dir):
    """Round-checkpointed PageRank (the reference's literal checkpoint
    payload, page_rank.int), uniform and personalized: interrupted
    after 2 iterations and resumed, the ranks must be bit-identical to
    the uninterrupted power iteration."""
    seeds = [
        int(r[0])
        for r in load(spark, sf_dir, "customer")
        .select("c_custkey").orderBy("c_custkey").limit(PPR_SEEDS).collect()
    ]
    for variant in (None, seeds):
        d = tempfile.mkdtemp(prefix="neo_olap_ckpt_")
        try:
            plain = _rows(_pagerank(spark, sf_dir, seeds=variant))
            _pagerank(spark, sf_dir, n_iters=2, seeds=variant, ckpt_dir=d)
            assert latest_round(d) == 2
            resumed = _rows(_pagerank(spark, sf_dir, seeds=variant, ckpt_dir=d))
            assert latest_round(d) == PR_ITERS
            assert resumed == plain, variant
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_resume_past_requested_rounds_raises(spark, sf_dir, ckpt_dir):
    """A snapshot from a LONGER run must not be returned as the answer
    to a shorter request (it holds a later round's state)."""
    _walk(spark, sf_dir, ckpt_dir=ckpt_dir)
    with pytest.raises(ValueError, match="past the 4 rounds"):
        _walk(spark, sf_dir, n_steps=4, ckpt_dir=ckpt_dir)
    pr_dir = str(pathlib.Path(ckpt_dir) / "pagerank")
    _pagerank(spark, sf_dir, ckpt_dir=pr_dir)
    with pytest.raises(ValueError, match="past the 2 rounds"):
        _pagerank(spark, sf_dir, n_iters=2, ckpt_dir=pr_dir)


def test_partial_snapshot_is_invisible(spark, sf_dir, ckpt_dir):
    """A crash mid-write leaves only a _tmp_round staging dir, which
    latest_round must ignore — resume picks the last INTACT round."""
    _walk(spark, sf_dir, n_steps=4, ckpt_dir=ckpt_dir)
    assert latest_round(ckpt_dir) == 4
    # simulate a crash mid-snapshot of round 5: staging dir exists,
    # final dir does not
    (pathlib.Path(ckpt_dir) / "_tmp_round=5" / "frontier").mkdir(parents=True)
    assert latest_round(ckpt_dir) == 4


def test_stale_staging_swept_on_next_write(spark, sf_dir, ckpt_dir):
    """An orphaned staging dir from a crashed run must be deleted by
    the next snapshot, not accumulate forever (a resume that starts
    from an earlier round never rewrites that exact step)."""
    (pathlib.Path(ckpt_dir) / "_tmp_round=7" / "frontier").mkdir(parents=True)
    _walk(spark, sf_dir, n_steps=4, ckpt_dir=ckpt_dir)
    leftovers = [
        p.name
        for p in pathlib.Path(ckpt_dir).iterdir()
        if p.name.startswith("_tmp_round=")
    ]
    assert leftovers == []


def test_lost_local_checkpoint_fails_loudly(spark, lose_blocks, monkeypatch):
    """The default loop state is a non-durable localCheckpoint: when
    round 1's blocks are lost after its action, round 2 reads them and
    the loop must raise Spark's missing-block error rather than return
    rows."""
    # the path 0-1-…-7: BFS from 0 runs 7 levels
    sym = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(i + 1, i) for i in range(7)],
        "src long, dst long",
    )
    sources = spark.createDataFrame([(0, 0)], "tag long, node long")
    assert len(_rows(bfs_distances(sym, sources, max_depth=10))) == 8

    real = ga._iterate

    def losing(state, step, n, *, done, **kw):
        lose_blocks(drop=False)  # blocks from before round 1

        def done_then_lose(s, r):
            converged = done(s, r)
            # round r's checkpointed frames, just materialized
            assert lose_blocks() > 0
            return converged

        return real(state, step, n, done=done_then_lose, **kw)

    monkeypatch.setattr(ga, "_iterate", losing)
    with pytest.raises(Exception, match=r"Checkpoint block rdd_\d+_\d+ not found"):
        bfs_distances(sym, sources, max_depth=10)


def test_snapshot_footer_mismatch_raises(spark, sf_dir, ckpt_dir):
    """A resume reads the snapshot with the loop's own schema, so a
    snapshot whose columns differ must raise ValueError naming the
    frame and the column, not read them under the loop's types. The
    footer check itself is shared with tables.load, whose drift cases
    tests/test_tables.py covers."""
    _walk(spark, sf_dir, n_steps=4, ckpt_dir=ckpt_dir)
    counts = pathlib.Path(ckpt_dir) / "round=4" / "counts"
    t = pq.read_table(counts)
    shutil.rmtree(counts)
    counts.mkdir()
    pq.write_table(
        t.set_column(1, "visits", t["visits"].cast(pa.string())),
        counts / "part-00000.parquet",
    )
    with pytest.raises(ValueError, match="frame counts: column 'visits' is string"):
        _walk(spark, sf_dir, ckpt_dir=ckpt_dir)


RETRY_RUN = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from pyspark.sql import functions as F
from neo_olap_spark.operators.graph_algos import bfs_distances
from neo_olap_spark.session import get_spark

spark = get_spark("retry", conf={"spark.master": "local[2,2]"})
sc = spark.sparkContext
n = 8
edges = spark.createDataFrame(
    [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)],
    "src long, dst long",
)
sources = spark.createDataFrame([(0, 0), (1, n - 1)], "tag long, node long")


def fail_first_attempt(src):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        raise RuntimeError("planted first-attempt failure")
    return src


flaky = F.udf(fail_first_attempt, "long")


def rows(sym):
    return sorted(map(list, bfs_distances(sym, sources, 10, count_paths=True).collect()))


plain = rows(edges)
sc.setJobGroup("flaky", "flaky")
retried = rows(edges.select(flaky("src").alias("src"), "dst"))
sc.setLocalProperty("spark.jobGroup.id", None)
sc._jsc.sc().listenerBus().waitUntilEmpty()
tracker = sc.statusTracker()
failed = sum(
    tracker.getStageInfo(st).numFailedTasks
    for job in tracker.getJobIdsForGroup("flaky")
    for st in tracker.getJobInfo(job).stageIds
    if tracker.getStageInfo(st) is not None
)
print("RESULT " + json.dumps({"plain": plain, "retried": retried, "failed": failed}))
spark.stop()
"""


def test_task_retry_gives_identical_output():
    """With two task attempts allowed (``local[2,2]``), a BFS whose
    edge frame fails the first attempt of each partition-0 task that
    reads it, inside the loop's rounds, must retry and return exactly
    the rows of the run without the failure. Runs in its own process:
    the suite's session allows one attempt."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", RETRY_RUN, root],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-2000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert len(got["plain"]) == 16
    assert got["retried"] == got["plain"]
    assert got["failed"] >= 1, got
