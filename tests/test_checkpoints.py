"""Checkpoint/resume equivalence (SURVEY.md §5.2, AnalysisRoundTest port).

The reference asserts its round loop resumes exactly from a checkpoint
file (AnalysisRoundTest.java:18-54). Spark analog: the production
loops behind q_random_walk_counts, q_pagerank and
q_pagerank_personalized (called with their query arguments, scaled
down) take a ``ckpt_dir``; a run "interrupted" by asking for fewer
rounds, then resumed with the full count in a fresh call, must be
bit-identical to a plain run without snapshots.
"""

from __future__ import annotations

import pathlib
import shutil
import tempfile

import pytest

from neo_olap_spark.checkpoints import latest_round
from neo_olap_spark.graph import edge_count_estimate, edges, symmetrize
from neo_olap_spark.operators.graph_algos import (
    PPR_SEEDS,
    all_nodes,
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
