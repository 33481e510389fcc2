"""Operational entry point — the reference's ``Runner.main`` surface.

The reference is launched as ``run.sh <store-path>`` → ``Runner.main``
(Runner.java:30-47): open the store, run the walk analysis in rounds,
checkpoint each round, print the top-10 most-visited nodes
(Runner.java:63, 193-198); ``OlapRunner``/``PathFinderNodeCounting
Runner`` are the betweenness variant. This module is the Spark-native
equivalent so a reference user keeps a one-command workflow:

    python -m neo_olap_spark walk        --sf-dir DIR [--ckpt-dir D] [--steps N]
    python -m neo_olap_spark betweenness --sf-dir DIR [--pairs N]
    python -m neo_olap_spark topn        --sf-dir DIR [-n N]
    python -m neo_olap_spark query KEY   --sf-dir DIR [-n N]
    python -m neo_olap_spark list

``walk`` with ``--ckpt-dir`` is round-checkpointed and RESUMABLE: rerun
the same command after a crash and it continues from the latest intact
round (Runner.java:255-267 restart parse ≙ checkpoints.latest_round).
``query`` runs any registered operator key from SURVEY.md §2.4 —
the general entry the reference never had.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession


def _print_top(df: DataFrame, n: int) -> None:
    # the reference prints its top-N straight to stdout (Runner.java:63)
    df.show(n, truncate=False)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    parser = argparse.ArgumentParser(prog="neo_olap_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    def add_common(p: argparse.ArgumentParser) -> None:
        p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
        p.add_argument("--cpus", type=int, default=8)
        p.add_argument("-n", "--top", type=int, default=10)

    p_walk = sub.add_parser("walk", help="random-walk visit counting (R1)")
    add_common(p_walk)
    p_walk.add_argument("--ckpt-dir", default=None,
                        help="round-checkpoint dir; rerun to resume (R9/R10)")
    p_walk.add_argument("--walkers", type=int, default=256)
    p_walk.add_argument("--steps", type=int, default=16)
    p_walk.add_argument("--seed", type=int, default=42)

    p_btw = sub.add_parser("betweenness", help="sampled shortest-path interior counts (R2)")
    add_common(p_btw)
    p_btw.add_argument("--pairs", type=int, default=8)
    p_btw.add_argument("--seed", type=int, default=42)

    p_top = sub.add_parser("topn", help="top-N nodes by degree (TopNSelector)")
    add_common(p_top)

    p_q = sub.add_parser("query", help="run any registered operator key")
    p_q.add_argument("key")
    add_common(p_q)

    sub.add_parser("list", help="list registered operator keys")

    args = parser.parse_args(argv)

    from neo_olap_spark.registry import queries

    if args.cmd == "list":
        for k in sorted(queries()):
            print(k)
        return 0

    own_session = spark is None
    if own_session:
        from neo_olap_spark.session import get_spark

        spark = get_spark("neo-olap-cli", cpus=args.cpus)
    try:
        if args.cmd == "walk":
            from pyspark.sql import functions as F

            from neo_olap_spark.operators.graph_algos import random_walk_counts

            counts = random_walk_counts(
                spark, args.sf_dir,
                n_walkers=args.walkers, n_steps=args.steps, seed=args.seed,
                ckpt_dir=args.ckpt_dir,
            )
            _print_top(
                counts.orderBy(F.col("visits").desc(), F.col("node_id")), args.top
            )
        elif args.cmd == "betweenness":
            from neo_olap_spark.operators.graph_algos import betweenness_sample

            counts = betweenness_sample(spark, args.sf_dir, n_pairs=args.pairs,
                                        seed=args.seed)
            from pyspark.sql import functions as F

            _print_top(
                counts.orderBy(F.col("cnt").desc(), F.col("node_id")), args.top
            )
        elif args.cmd == "topn":
            _print_top(queries()["q_topn"](spark, args.sf_dir), args.top)
        elif args.cmd == "query":
            qs = queries()
            if args.key not in qs:
                print(f"unknown key {args.key!r}; see `list`", file=sys.stderr)
                return 2
            _print_top(qs[args.key](spark, args.sf_dir), args.top)
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
