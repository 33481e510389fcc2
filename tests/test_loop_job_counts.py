"""Spark job counts of every graph-loop family, pinned.

Each loop key runs its build (the operator call, where iterative loops
run their driver actions) and then the noop write under a
``key:phase`` job group; the job counts come from
``statusTracker().getJobIdsForGroup``. The pinned numbers are measured
under this suite's session (cpus=8) at sf0.001 — a mid-loop eager
action creeping back fails here. Build counts include no job for the
edge-count hint (graph.edge_count_estimate reads parquet footers) and
none for table loads (tables.load reads with a declared schema).
"""

from __future__ import annotations

import pytest

from neo_olap_spark.registry import queries

# key -> (build jobs, exec jobs)
LOOP_JOBS = {
    "q_shortest_path_len": (26, 1),
    "q_betweenness_sample": (2, 9),
    "q_random_walk_counts": (2, 3),
    "q_pagerank": (3, 1),
    "q_pagerank_personalized": (5, 1),
    "q_connected_components": (5, 1),
    "q_graph_lpa": (2, 1),
    "q_graph_kcore": (13, 1),
    "q_graph_sssp": (11, 1),
    "q_graph_closeness": (11, 4),
    "q_graph_hits": (18, 1),
}

# q_betweenness_sample's execute phase runs with AQE on over two BFS
# results built on separate driver threads; its AQE stage jobs came
# out as 9 or 10 across repeated runs of the same code.
EXEC_SPREAD = {"q_betweenness_sample": (9, 10)}


def _jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("key", sorted(LOOP_JOBS))
def test_loop_job_counts(spark, sf_dir, key):
    sc = spark.sparkContext
    try:
        sc.setJobGroup(f"{key}:build", key)
        df = queries()[key](spark, sf_dir)
        sc.setJobGroup(f"{key}:exec", key)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    build, exec_ = LOOP_JOBS[key]
    lo, hi = EXEC_SPREAD.get(key, (exec_, exec_))
    # one comparison, so a moved build pin still shows the exec count
    got = (_jobs(spark, f"{key}:build"), _jobs(spark, f"{key}:exec"))
    assert got in {(build, e) for e in range(lo, hi + 1)}
