"""The benchmark's workloads: which registry keys run, on which fixture.

Every key here has a registered DuckDB oracle, so every run checks its
outputs. Sizes are per-run budgets on a 4-core host (see README.md):
one-shot keys and loop keys are both bound by per-job scheduling and
Py4J plan building at these scales, so the fixtures stay small and the
key lists short enough that a run, session set-up included, stays
well under a minute on a quiet host.
"""

from __future__ import annotations

from dataclasses import dataclass

#: Generator seed of every fixture. The run's ``--seed`` orders the keys;
#: the tables stay the same across seeds so loop round counts, and with
#: them job counts, do not move between runs.
FIXTURE_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    keys: tuple[str, ...]
    #: Warm passes per untraced run. The single-key graph workload takes
    #: the median of three: its first warm pass still runs slow on JIT
    #: compilation left over from the cold one.
    warm_passes: int
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "graph_loops",
            0.001,
            ("q_shortest_path_len",),
            3,
            "BFS rounds, the loop core of the paper's sampled betweenness: "
            "driver-side loop actions in operators.graph_algos dominate; table "
            "loading is a small share",
        ),
        Workload(
            "star_olap",
            0.01,
            (
                "q_sql_tpch_q1",
                "q_scan_lineitem",
                "q_star_join",
                "q_udf_pandas",
                "q_text_tokens",
            ),
            2,
            "short one-shot star-schema, string and pandas-UDF plans: table "
            "loads, plan building and execution dominate; no graph loop runs",
        ),
    )
}
