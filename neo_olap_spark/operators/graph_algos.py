"""Graph analytics — the reference's heart, re-expressed Spark-first.

The reference runs two whole-graph analytics on an embedded Neo4j from
many threads (SURVEY.md §2.1 R1/R2). Here they are iterative DataFrame
programs: a driver-side Python loop builds per-step plans and Catalyst
optimizes each. Every loop — BFS, the streamed walk, PageRank, CC,
LPA, k-core, sssp and HITS — runs on one round driver, ``_iterate``
(the analog of the reference's round loop, Runner.java:67-88,107-129):
it lazily checkpoints each round's state through ``loop_checkpoint``
(a non-durable ``localCheckpoint``: a lost block fails the loop
loudly), runs the loop's one convergence predicate every
``check_every`` rounds (or one materializing count for fixed-round
loops), and, given a ``ckpt_dir`` (the one durable policy; PageRank
and the walk take one), snapshots every round to parquet, continues
from the snapshot and resumes from it.
``_graph_loop`` is the one loop policy: AQE off, a shuffle width
sized to the loop's estimated edge count (1 partition on small
graphs), and the edge cache — the one src-partitioned, persisted
edge relation every round joins against, released on exit. Every
loop key hands it a frame built in neo_olap_spark.graph (``sym_edges``,
``weighted_sym_edges``, ``directed_edges``): raw rows deduped in place
after a single src shuffle. All randomness is ``xxhash64(…, seed)`` on
stable keys, so runs are deterministic and retry-stable (SURVEY.md
§7.3). The DuckDB oracles compose the derived
graph's SQL from neo_olap_spark.graph's ``ORACLE_*`` fragments, and
every loop twin (PageRank, CC, LPA, k-core, sssp, closeness, HITS)
is one ``_unroll`` of a head, a per-round CTE body and a tail.

Scale notes: each BFS/walk step is one shuffle keyed on node/walker
id; the edge list is partitioned and persisted once and reused;
visited/frontier sets stay distributed (no driver collect besides
scalar counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from contextlib import contextmanager

from neo_olap_spark.checkpoints import latest_round, read_round, write_round
from neo_olap_spark.functions import (
    cents_sql,
    floor_round,
    floor_round_sql,
    local_rows_frame,
    loop_checkpoint,
)
from neo_olap_spark.functions import numbered_sample as _numbered_sample
from neo_olap_spark import graph
from neo_olap_spark.graph import (
    ORACLE_EDGES,
    ORACLE_NODES,
    ORACLE_SYM,
    ORACLE_SYM_EDGES,
    ORACLE_WEIGHTED_EDGES,
    ORACLE_WEIGHTED_SYM,
    ORDER_OFFSET as _ORD,
    PART_OFFSET as _PRT,
    all_nodes,
    edges,
    symmetrize,
)
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load


@contextmanager
def _graph_loop(
    spark: SparkSession,
    n_edges: int | None,
    edge_frame: DataFrame | None = None,
):
    """Session settings and the edge cache of one graph loop — the one
    loop policy every graph loop runs under.

    AQE is off for the loop. A loop's state is small and its step
    plans are joins over it, where AQE's re-planning costs more than
    it saves: AQE runs each shuffle stage as its own job, lazy
    ``localCheckpoint`` included. With AQE on, q_shortest_path_len ran
    26 build jobs at sf0.001 against 9 with it off (and the 16-step
    walk ran 3× slower). The one case measured the other way is
    betweenness on the 5× fixture, 11% slower warm without AQE.

    Shuffle partitions are sized to the loop's data volume: 1 per
    200k estimated edges up to 8, then 1 per 2M, capped at 10,000.
    Loops shuffle the same small tables dozens of times, and the
    session-wide width (sized for arbitrary queries) makes every step
    pay full task-scheduling overhead — measured 1.6× on PageRank/CC
    at sf0.1. Below 1.6M edges even 8 is too wide (every stage ran 8
    tasks over a few hundred rows): sf0.001 (15,000 estimated edges)
    runs width 1, and with AQE off BFS's warm CPU there went 8.4 →
    5.8 s (SCALING.md "Loop policy: AQE off in every loop, width 1 on
    small graphs"). sf0.1 (1.5M) keeps 8, and a 1e12-edge graph still
    fans out to thousands of reducers.
    ``n_edges`` is the cheap metadata estimate
    (graph.edge_count_estimate) on every registered query key;
    ``n_edges=None`` keeps the session's width and runs no job.

    Given ``edge_frame``, yields it hash-partitioned on src and
    persisted — the one partitioned edge relation every round joins
    against, so each round shuffles only the loop state — else yields
    None. The registered keys pass a neo_olap_spark.graph loop frame,
    which is src-partitioned already, so the repartition here is
    planned away and the build runs one exchange; it still partitions
    a planted frame. On exit, the error path included, the cache is
    released and both settings are restored, so large one-shot
    queries keep AQE's skew/coalesce benefits."""
    confs = {"spark.sql.adaptive.enabled": "false"}
    if n_edges is not None:
        confs["spark.sql.shuffle.partitions"] = str(
            max(
                1,
                min(8, (n_edges + 200_000 - 1) // 200_000),
                min(10_000, (n_edges + 2_000_000 - 1) // 2_000_000),
            )
        )
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    cached = None
    try:
        if edge_frame is not None:
            cached = edge_frame.repartition("src").persist()
        yield cached
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        if cached is not None:
            cached.unpersist()


# Relaxations chained per convergence action in the min-label (CC) and
# Bellman-Ford (sssp) loops. Propagation is idempotent past the
# fixpoint, so checking every k-th round's improvement set detects
# convergence exactly (an empty set at round r means empty forever),
# at the cost of up to k-1 relaxations over an already-empty frontier
# (near-free: every operator sees 0 rows). Halves the driver actions;
# the state trajectory is bit-identical. Measured at sf0.1: two-hop
# sssp 7.78 s vs one-hop 8.07 s median; four-hop was no better.
HOPS_PER_CHECK = 2


def _iterate(
    state: dict[str, DataFrame],
    step,
    n: int,
    *,
    check_every: int = 1,
    done=None,
    ckpt_dir: str | None = None,
) -> tuple[dict[str, DataFrame], int, bool]:
    """The one round loop every iterative graph algorithm runs on —
    the Spark analog of the reference's round loop with checkpoint and
    resume (Runner.java:67-88,107-129).

    ``step(state, r)`` builds round ``r`` (1-based) as a generator of
    ``(name, frame)`` pairs. Each yielded frame is lazily checkpointed
    (``loop_checkpoint(eager=False)``, a ``localCheckpoint``)
    and stored in ``state`` before the generator resumes, so a later
    frame of the same round reads the checkpointed one. A lazy
    checkpoint cuts lineage and caches its RDD on first compute: every
    in-plan reference reads one materialization, and a whole chain of
    rounds computes inside a single action. That holds because every
    loop runs under ``_graph_loop``, with AQE off: under AQE a lazy
    checkpoint still runs each of its shuffle stages as a job. A
    broadcast join still collects its build side in a job of its own
    when the checkpoint is planned.

    Actions: with ``done``, ``done(state, r)`` runs after every
    ``check_every``-th round and after round ``n``; it is a predicate
    that runs the convergence action and returns True when the loop
    has converged.
    Without ``done``, ONE ``count()`` of the round's last-yielded frame
    materializes the chain when the loop ends — before the caller
    unpersists the caches the chain reads.

    ``ckpt_dir`` is the one durable policy: it snapshots every frame
    to parquet after every round (checkpoints.write_round: crash-safe,
    delete-previous retention) and continues from the snapshot, so the
    next round reads no local-checkpoint block; a call whose
    ``ckpt_dir`` holds a snapshot resumes from it instead of from
    ``state``. Every reload reads with the schema of the frame it
    replaces (the one just written, or on resume the caller's initial
    state) after a footer check, so it runs no inference job and a
    mismatched snapshot raises ValueError. A snapshot past ``n`` also
    raises ValueError rather than returning a later round's state.

    Returns (state, rounds run including resumed ones, converged)."""

    def reload(r: int) -> dict[str, DataFrame]:
        spark = next(iter(state.values())).sparkSession
        return {k: read_round(spark, ckpt_dir, r, k, f.schema) for k, f in state.items()}

    rounds = 0
    if ckpt_dir is not None and (last := latest_round(ckpt_dir)) is not None:
        if last > n:
            raise ValueError(
                f"{ckpt_dir} holds round {last}, past the {n} rounds "
                "requested — clear it or request at least that many"
            )
        state, rounds = reload(last), last
    converged, name = False, None
    for r in range(rounds + 1, n + 1):
        for name, frame in step(state, r):
            state[name] = loop_checkpoint(frame, eager=False)
        rounds = r
        if ckpt_dir is not None:
            write_round(state, ckpt_dir, r)
            state = reload(r)
        if done is not None and (r % check_every == 0 or r == n):
            if done(state, r):
                converged = True
                break
    if done is None and name is not None:
        state[name].count()
    return state, rounds, converged


def _unroll(head: str, round_body, n: int, tail: str) -> str:
    """The text of a loop's DuckDB twin: the loop unrolled into one
    CTE group per round. ``head`` holds the graph and round-0 CTEs,
    ``round_body(r)`` the CTEs of round ``r`` (1..n, each reading
    round r-1), and ``tail`` follows the last round — the final
    SELECT, or further CTEs that lead to one."""
    return "WITH " + ",".join([head, *map(round_body, range(1, n + 1))]) + tail


# ---------------------------------------------------------------------------
# BFS shortest-path distances (deterministic core of R2)
# ---------------------------------------------------------------------------


def bfs_distances(
    sym_edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    count_paths: bool = False,
) -> DataFrame:
    """Multi-source level-synchronous BFS.

    ``sources``: (tag, node) — one BFS per tag, all run simultaneously
    (one shuffle per level covers every tag). Returns
    (tag, node, dist[, npaths]); ``npaths`` is the number of distinct
    shortest paths from the tag's source to node (Brandes-style
    counting — sum of parent path counts per level).

    Spark mapping of PathFinderNodeCountingRunner.java:35-47: the
    per-level expansion is frontier ⋈ edges; the "visited" set is a
    left-anti join instead of Neo4j's traversal state.
    """
    frontier = loop_checkpoint(sources.select(
        "tag", "node", F.lit(0).alias("dist"), F.lit(1).cast("long").alias("npaths")
    ), eager=False)
    # rows in `visited`, for its broadcast gate: the sources' count
    # (the job that materializes their checkpoint), plus each level's
    # emptiness count
    n_seen = frontier.count()
    bcast_limit = _broadcast_threshold_bytes(sources.sparkSession)

    def level(s, depth):
        # `visited` lags one level: level d first folds level d-1's
        # (non-empty, counted) frontier into it, so the union is built
        # only after the emptiness check proved it is needed
        if depth > 1:
            yield "visited", s["visited"].unionByName(s["frontier"])
        # shuffle_hash on the frontier side: build the hash table on the
        # (smaller) frontier and stream the co-partitioned edge list —
        # avoids re-sorting the edges every level (SMJ would)
        f = s["frontier"]
        expanded = (
            f.hint("shuffle_hash")
            .join(sym_edges, f.node == sym_edges.src)
            .groupBy("tag", F.col("dst").alias("node"))
            .agg(F.sum("npaths").alias("npaths"))
            .withColumn("dist", F.lit(depth))
        )
        seen = s["visited"].select(F.col("tag").alias("vtag"), F.col("node").alias("vnode"))
        # Spark's size statistic for the checkpointed `visited` over-reads
        # (k_core's gate), so unhinted it plans a sort-merge anti-join
        # that shuffles `visited` every level: 2.5 s slower warm on
        # betweenness at sf0.1, where the broadcast's own job per level
        # costs less (SCALING.md "Loop policy: AQE off in every loop")
        if _fits_broadcast(n_seen, bcast_limit):
            seen = seen.hint("broadcast")
        yield "frontier", expanded.join(
            seen,
            (expanded.tag == seen.vtag) & (expanded.node == seen.vnode),
            "left_anti",
        ).select("tag", "node", "dist", "npaths")

    def exhausted(s, _) -> bool:
        # the emptiness count materializes the level's lazily
        # checkpointed frontier
        nonlocal n_seen
        n = s["frontier"].count()
        n_seen += n
        return n == 0

    state, rounds, converged = _iterate(
        {"frontier": frontier, "visited": frontier}, level, max_depth, done=exhausted
    )
    visited = state["visited"]
    if rounds and not converged:
        visited = loop_checkpoint(visited.unionByName(state["frontier"]), eager=False)

    if count_paths:
        return visited
    return visited.select("tag", "node", "dist")


@query(
    "q_shortest_path_len",
    oracle=f"""
    WITH RECURSIVE e AS ({ORACLE_EDGES}),
    sym AS ({ORACLE_SYM}),
    srcs AS (SELECT c_custkey AS src FROM customer WHERE c_custkey < 3),
    bfs AS (
      SELECT src AS tag, src AS node, 0 AS dist FROM srcs
      UNION
      SELECT bfs.tag, sym.dst AS node, bfs.dist + 1 AS dist
      FROM bfs JOIN sym ON bfs.node = sym.src
      WHERE bfs.dist < 4
    )
    SELECT tag AS src_id, node AS node_id, CAST(MIN(dist) AS BIGINT) AS dist
    FROM bfs GROUP BY tag, node
    """,
)
def q_shortest_path_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path distance from 3 source customers to every node
    within 4 hops (R2's deterministic core; oracle = DuckDB recursive
    CTE). Level-synchronous BFS: the edge list is hash-partitioned on
    src ONCE and persisted, so each level shuffles only the frontier;
    the levels are checkpointed, so the cache is released on return."""
    with _graph_loop(
        spark, graph.edge_count_estimate(spark, sf_dir),
        graph.sym_edges(spark, sf_dir),
    ) as sym:
        sources = (
            load(spark, sf_dir, "customer")
            .where(F.col("c_custkey") < 3)
            .select(F.col("c_custkey").alias("tag"), F.col("c_custkey").alias("node"))
        )
        return bfs_distances(sym, sources, max_depth=4).select(
            F.col("tag").alias("src_id"),
            F.col("node").alias("node_id"),
            F.col("dist").cast("long").alias("dist"),
        )


# ---------------------------------------------------------------------------
# Random-walk visit counting (R1)
# ---------------------------------------------------------------------------


def _teleport_address_space(spark: SparkSession, sf_dir: str):
    """The teleport address map idx ∈ [0, n_nodes) → node id.

    The derived graph's node ids are offset table keys, and TPC-H keys
    are dense 0..n-1 — the same density assumption the reference makes
    when it rejection-samples node ids (OlapRunner.java:60-69). One
    metadata-cheap aggregate verifies it, and the map becomes a CLOSED-
    FORM expression: no node table, no join, no cache.

    Returns (n_nodes, node_of_idx: Column -> Column); raises ValueError
    naming the table whose keys are not 0..n-1."""
    tagged = None
    for t, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        part = load(spark, sf_dir, t).select(F.lit(t).alias("t"), F.col(key).alias("k"))
        tagged = part if tagged is None else tagged.unionByName(part)
    stats = {
        r.t: r
        for r in tagged.groupBy("t")
        .agg(F.count("*").alias("n"), F.max("k").alias("mx"), F.min("k").alias("mn"))
        .collect()
    }
    for t, r in sorted(stats.items()):
        if r.mn != 0 or r.mx != r.n - 1:
            raise ValueError(
                f"random walk needs dense keys: {t} keys span [{r.mn}, {r.mx}]"
                f" over {r.n} rows, not 0..{r.n - 1}"
            )
    nc, no, np_ = (stats[t].n for t in ("customer", "orders", "part"))

    def node_of_idx(ix):
        return (
            F.when(ix < nc, ix)
            .when(ix < nc + no, F.lit(_ORD) + ix - nc)
            .otherwise(F.lit(_PRT) + ix - nc - no)
        )

    return nc + no + np_, node_of_idx


def _walk_setup(spark: SparkSession, sf_dir: str, n_walkers: int, seed: int):
    """Shared setup: adjacency-array table, teleport address space, and
    the seeded walker start positions.

    The adjacency table (one row per node, sorted neighbor array) is
    built with ONE shuffle and persisted; every subsequent walk step is
    a broadcast join against it — the scale property that makes a
    16-step walk 16 cheap passes instead of 16 edge-list shuffles.
    collect_set over the raw (non-distinct) edge list dedups multi-
    edges inside the aggregate, skipping a separate distinct shuffle."""
    nodes_all = all_nodes(spark, sf_dir)
    # TOTAL adjacency: isolated nodes get an empty array, so every
    # frontier row matches the single inner join in _advance_walkers
    # (dead-end handling is a column expression, not a second join).
    # Totality comes from phantom (node, NULL) rows unioned in before
    # the aggregate — collect_set skips nulls, so edge-less nodes
    # group to an empty array. ONE shuffle builds the whole table;
    # the join-with-all-nodes alternative costs a second exchange
    # (measured ~2.7× slower cold at sf0.1).
    phantom = nodes_all.select(
        F.col("node").alias("src"), F.lit(None).cast("bigint").alias("dst")
    )
    adj = (
        symmetrize(graph.edges_raw(spark, sf_dir))
        .unionByName(phantom)
        .groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        # fewer cache partitions = fewer tasks per step scan; each step
        # touches the whole table anyway (measured 1.5× on 16 steps)
        .coalesce(8)
        .persist()
    )
    n_nodes, node_of_idx = _teleport_address_space(spark, sf_dir)
    walkers = (
        _numbered_sample(
            nodes_all.withColumn("h", F.xxhash64(F.col("node"), F.lit(seed))),
            n_walkers,
            "h",
            "walker_id",
        )
        .select("walker_id", "node", F.lit(0).alias("step"))
        .transform(loop_checkpoint)
    )
    return adj, node_of_idx, n_nodes, walkers


def _walk_step_cols(n_nodes: int, seed: int, node_of_idx):
    """The columns of one walk step over (walker_id, step, nbrs) rows:
    (next step, next node). The pick hashes (walker, step, seed) into
    the sorted neighbor array; a dead end (empty nbrs) picks its
    teleport node ``node_of_idx(pmod(h, n_nodes))`` instead."""
    nstep = F.col("step") + 1
    h = F.xxhash64(F.col("walker_id"), nstep, F.lit(seed))
    pick = F.element_at("nbrs", (F.pmod(h, F.size("nbrs")) + 1).cast("int"))
    tele = node_of_idx(F.pmod(h, F.lit(n_nodes)))
    return nstep, F.when(F.size("nbrs") > 0, pick).otherwise(tele)


def _advance_walkers(
    frontier: DataFrame,
    adj: DataFrame,
    node_of_idx,
    n_nodes: int,
    seed: int,
) -> DataFrame:
    """One walk step for every walker: uniform neighbor pick by hashing
    (walker, step, seed) into the node's sorted neighbor array; dead
    ends teleport to a hash-chosen node (RandomWalkingRunner
    .java:24,31) through the closed-form address map, a pure
    expression. The tiny frontier is the broadcast build side against
    the persisted adjacency table: one broadcast join, one scan, zero
    shuffles per step.

    The step counter is a COLUMN on the frontier, not a Python literal:
    every step therefore compiles to the identical plan and Spark's
    codegen cache is hit 15 of 16 times. The pick depends only on
    (walker_id, step, seed), so any resumption replays identically."""
    nstep, pick = _walk_step_cols(n_nodes, seed, node_of_idx)
    return adj.join(F.broadcast(frontier), adj.src == frontier.node, "inner").select(
        "walker_id", pick.alias("node"), nstep.alias("step")
    )


# Estimated broadcast footprint of the adjacency table (r14): one
# neighbor long per symmetrized edge plus per-row overhead for the
# (src, nbrs) rows. Deliberately generous so the gate flips to the
# streamed-adjacency loop well before a broadcast could hurt. The A/B
# that keeps the gate is SCALING.md "Broadcast gates: walk and k-core,
# sf0.1 and 5×" (the streamed loop forced at sf0.1 ran 1.4× warm).
_ADJ_EDGE_BYTES = 16
_ADJ_NODE_BYTES = 64


def _adj_fits_broadcast(spark: SparkSession, n_edges: int, n_nodes: int) -> bool:
    """Gate for the walk's join direction (guide §3.1 "broadcast the
    side that fits"): the whole adjacency table is the build side only
    when its estimated bytes fit the session broadcast threshold."""
    est = n_edges * _ADJ_EDGE_BYTES + n_nodes * _ADJ_NODE_BYTES
    return est <= _broadcast_threshold_bytes(spark)


def _advance_walkers_bcast(
    frontier: DataFrame,
    adj: DataFrame,
    node_of_idx,
    n_nodes: int,
    seed: int,
) -> DataFrame:
    """One walk step with the ADJACENCY table as the broadcast build
    side: the same _walk_step_cols columns as _advance_walkers, but
    the streamed side is the walker frontier (n_walkers rows) instead
    of the full adjacency table — so a step touches n_walkers rows,
    not |V|. The walked node is appended to a carried ``path`` array,
    which keeps every frontier referenced exactly ONCE (linear plan,
    no per-step checkpoint or branch): the whole n_steps walk plus the
    final explode+count runs as a single job in which Spark's exchange
    reuse builds the adjacency broadcast once."""
    nstep, new_node = _walk_step_cols(n_nodes, seed, node_of_idx)
    return (
        frontier.join(F.broadcast(adj), frontier.node == adj.src, "inner")
        .select(
            "walker_id",
            new_node.alias("node"),
            nstep.alias("step"),
            F.array_append("path", new_node).alias("path"),
        )
    )


def _visit_counts(walkers: DataFrame) -> DataFrame:
    return walkers.groupBy(F.col("node").alias("node_id")).agg(
        F.count("*").alias("visits")
    )


def random_walk_counts(
    spark: SparkSession,
    sf_dir: str,
    n_walkers: int = 256,
    n_steps: int = 16,
    seed: int = 42,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """Degree-biased random-walk visit counting (RandomWalkingRunner
    .java:16-35), Spark-first.

    The reference's wall-clock budget becomes a fixed step count; its
    racy shared int[] increments become an exact groupBy().count()
    over the visit log (SURVEY.md O4/O5). Per step, every walker
    picks one uniform neighbor via a deterministic hash ordering
    (xxhash64(walker, step, dst, seed)); a walker whose node has no
    neighbor teleports to a hash-chosen node (RandomWalkingRunner
    .java:31). Deviation from the reference, documented per SURVEY.md
    §7.3: neighbors are sampled uniformly, not by the reference's
    geometric first-accepted-edge order scan.

    Scale: state is one row per walker; each step is a join keyed on
    the walker's node + a per-walker top-1 (no global sort). The
    visit log grows n_walkers × n_steps rows — negligible vs data.

    ``ckpt_dir`` snapshots the walker frontier and the running visit
    counts to parquet after every step and resumes from the latest
    snapshot there (the reference's round checkpoint, Runner.java
    :67-88, via _iterate). The step kernel depends only on (walker,
    step, seed), so an interrupted-and-resumed walk is bit-identical
    to an uninterrupted one. Returns (node_id, visits).
    """
    n_edges = graph.edge_count_estimate(spark, sf_dir)
    with _graph_loop(spark, n_edges):
        adj, node_of_idx, n_nodes, walkers = _walk_setup(spark, sf_dir, n_walkers, seed)

        if ckpt_dir is None and _adj_fits_broadcast(spark, n_edges, n_nodes):
            # r14 (guide §3.1/§2.4): the walker state is n_walkers rows
            # — a query parameter, not data — while the adjacency table
            # grows with the graph. When the WHOLE adjacency fits the
            # broadcast threshold, flip the join direction: adjacency
            # becomes the (reused) broadcast build side, each step
            # streams only the walker rows, the visit log rides along
            # as a per-walker path array, and the entire walk +
            # explode + count executes as ONE job with ONE adjacency
            # broadcast (exchange reuse) — no per-step checkpoint
            # actions, no per-step scans of the cached adjacency.
            # Above the threshold (or with snapshots to take) the
            # streamed-adjacency loop below is the scale shape: walker
            # state broadcasts, adjacency stays distributed. Identical
            # picks/teleports — value-pinned in tests.
            adj.unpersist()  # built once inside the broadcast exchange
            frontier = walkers.withColumn("path", F.array("node"))
            for _ in range(n_steps):
                frontier = _advance_walkers_bcast(
                    frontier, adj, node_of_idx, n_nodes, seed
                )
            return _visit_counts(frontier.select(F.explode("path").alias("node")))

        def walk(s, _):
            # the per-step checkpoint is load-bearing: each step's
            # frontier feeds both the next step and the visit counts,
            # so an uncheckpointed chain recomputes every earlier step
            # once per branch. coalesce(4): a 256-row frontier
            # checkpointed as ~35 micro-partitions per step would hand
            # the final job n_steps×35 near-empty tasks
            yield "frontier", _advance_walkers(
                s["frontier"], adj, node_of_idx, n_nodes, seed
            ).coalesce(4)
            yield "counts", (
                s["counts"].unionByName(_visit_counts(s["frontier"]))
                .groupBy("node_id")
                .agg(F.sum("visits").alias("visits"))
            )

        state, _, _ = _iterate(
            {"frontier": walkers, "counts": _visit_counts(walkers)},
            walk, n_steps, ckpt_dir=ckpt_dir,
        )
        adj.unpersist()
        return state["counts"]


def _random_walk_oracle(n_walkers: int, n_steps: int, seed: int) -> str:
    """DuckDB twin of the seeded fixed-step walk: every stochastic
    choice is a DETERMINISTIC xxhash64 of (walker, step, seed) or
    (node, seed), so the walk unrolls into per-step CTEs exactly like
    the pagerank/betweenness twins — no randomness left to model.

    The two hash pipelines come from functions/xxhash_sql.py (bit-exact
    Spark XXH64, tests/test_xxhash_sql.py): ``selh`` ranks every node
    by xxhash64(node, seed) to re-derive the 0..n-1 walker numbering,
    and ``ph`` hashes the (walker, step) grid for the per-step neighbor
    picks. The data-dependent parts — sorted neighbor arrays, dead-end
    detection, the dense teleport address space (customer/order/part
    count prefix sums, _teleport_address_space) — are recomputed from
    the tables. Walk semantics mirrored from _advance_walkers: pick =
    nbrs[pmod(h, len)+1] on the ascending-sorted distinct neighbor
    list; dead ends teleport to node_of_idx(pmod(h, n_nodes))."""
    from neo_olap_spark.functions.xxhash_sql import xxhash64_sql

    sel = xxhash64_sql(
        "nodes", ["node"], [("node", "long"), (str(seed), "int")], "sh"
    )
    pick = xxhash64_sql(
        "grid",
        ["wid", "step"],
        [("wid", "int"), ("step", "int"), (str(seed), "int")],
        "h",
    )
    steps = []
    for d in range(1, n_steps + 1):
        steps.append(
            f"""s{d} AS (
      SELECT walker_id,
             CASE WHEN COALESCE(len(nbrs), 0) > 0
                  THEN nbrs[CAST(((h % len(nbrs)) + len(nbrs)) % len(nbrs)
                                 AS INT) + 1]
                  WHEN tix < nc THEN tix
                  WHEN tix < nc + no_ THEN {_ORD} + tix - nc
                  ELSE {_PRT} + tix - nc - no_ END AS node
      FROM (
        SELECT q.*, ((h % ntot) + ntot) % ntot AS tix FROM (
          SELECT w.walker_id, p.h, a.nbrs, c.nc, c.no_,
                 c.nc + c.no_ + c.np AS ntot
          FROM s{d - 1} w
          JOIN ph p ON p.step = {d} AND p.wid = w.walker_id
          LEFT JOIN adj a ON a.src = w.node
          CROSS JOIN cnt c
        ) q
      )
    )"""
        )
    visits = " UNION ALL ".join(
        f"SELECT node FROM s{d}" for d in range(n_steps + 1)
    )
    return f"""
    WITH cnt AS (
      SELECT (SELECT COUNT(*) FROM customer) AS nc,
             (SELECT COUNT(*) FROM orders) AS no_,
             (SELECT COUNT(*) FROM part) AS np
    ),
    nodes AS ({ORACLE_NODES}),
    selh AS ({sel}),
    walkers AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY sh) - 1 AS INT) AS walker_id,
             node
      FROM (SELECT node, sh FROM selh ORDER BY sh LIMIT {n_walkers})
    ),
    e AS ({ORACLE_EDGES}),
    sym AS ({ORACLE_SYM}),
    adj AS (
      SELECT src, list(dst ORDER BY dst) AS nbrs
      FROM (SELECT DISTINCT src, dst FROM sym) GROUP BY src
    ),
    grid AS (
      SELECT CAST(w.range AS INT) AS wid, CAST(s.range AS INT) AS step
      FROM range(0, {n_walkers}) w, range(1, {n_steps + 1}) s
    ),
    ph AS ({pick}),
    s0 AS (SELECT walker_id, node FROM walkers),
    {",".join(steps)},
    visits AS ({visits})
    SELECT node AS node_id, COUNT(*) AS visits FROM visits GROUP BY node
    """


@query("q_random_walk_counts", oracle=_random_walk_oracle(256, 16, 42))
def q_random_walk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: random-walk visit counts. Oracle-backed: the kernel is a
    seeded deterministic hash trajectory (RandomWalkingRunner.java:24
    replaces wall-clock randomness with xxhash64 picks, SURVEY §7.3),
    so the DuckDB twin replays the identical walk; invariants (counts
    sum to walkers×(steps+1), seed determinism) stay covered in
    tests/test_graph_algos.py."""
    return random_walk_counts(spark, sf_dir, n_walkers=256, n_steps=16, seed=42)


# ---------------------------------------------------------------------------
# Sampled betweenness via all-shortest-paths interior counting (R2)
# ---------------------------------------------------------------------------


def betweenness_sample(
    spark: SparkSession,
    sf_dir: str,
    n_pairs: int = 6,
    max_depth: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Sampled all-shortest-paths interior-node counting
    (PathFinderNodeCountingRunner.java:35-47 + OlapRunner.java:49-58).

    Instead of materializing every shortest path (exponential), we run
    forward BFS from a and backward BFS from b with Brandes path
    counting, then select nodes with dist_a(v) + dist_b(v) = dist(a,b);
    the number of shortest a→b paths through v is
    npaths_a(v) · npaths_b(v) — exactly the reference's per-path
    interior increment, computed by joins (SURVEY.md §2.1 R2).
    Endpoints are excluded (OlapRunner.java:52 skips first/last).
    """
    with _graph_loop(
        spark, graph.edge_count_estimate(spark, sf_dir),
        graph.sym_edges(spark, sf_dir),
    ) as sym:
        nodes = all_nodes(spark, sf_dir)

        # Deterministic pair sampling: lowest md5-hex ranks with
        # seed-salted inputs (disjoint salts for the a and b draws).
        # md5 over the stringified id, not xxhash64, so the DuckDB
        # oracle reproduces the exact sample cross-engine (the same
        # technique as q_sample_hash; both engines emit lowercase hex
        # and sort it identically).
        a_nodes = _numbered_sample(
            nodes.withColumn(
                "h", F.md5(F.concat(F.col("node").cast("string"), F.lit(f"#b{seed}")))
            ),
            n_pairs, "h", "pair_id",
        ).select("pair_id", "node")
        b_nodes = _numbered_sample(
            nodes.withColumn(
                "h",
                F.md5(F.concat(F.col("node").cast("string"), F.lit(f"#b{seed + 1}"))),
            ),
            n_pairs, "h", "pair_id",
        ).select("pair_id", "node")
        pairs = (
            a_nodes.alias("a")
            .join(b_nodes.alias("b"), "pair_id")
            .select("pair_id", F.col("a.node").alias("a"), F.col("b.node").alias("b"))
            .where(F.col("a") != F.col("b"))
            .localCheckpoint()
        )

        # fwd/bwd BFS outputs are checkpointed: the edge cache goes on return
        return betweenness_pair_counts(sym, pairs, max_depth)


def betweenness_pair_counts(
    sym: DataFrame, pairs: DataFrame, max_depth: int
) -> DataFrame:
    """Interior-node shortest-path counts for explicit (pair_id, a, b)
    pairs over a symmetrized edge list — the Brandes fwd/bwd counting
    core of ``betweenness_sample``, split out so planted-graph tests
    can drive it with hand-built pairs. Returns (node_id, cnt)."""
    # r14 (guide §2.6): the forward and backward BFS are INDEPENDENT
    # jobs over the same persisted edge cache — run them from two
    # driver threads so each level's cadence-bound stages back-fill
    # the other's idle cores (each BFS level is a small shuffle + a
    # convergence count; at local[32] the two traversals overlap
    # almost perfectly). Level-synchronous BFS is deterministic, so
    # results are identical to the sequential order.
    def _bfs(src_col: str) -> DataFrame:
        return bfs_distances(
            sym,
            pairs.select(
                F.col("pair_id").alias("tag"), F.col(src_col).alias("node")
            ),
            max_depth,
            count_paths=True,
        )

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    # a pool thread starts without the caller's local properties (its
    # job group among them): each BFS runs on a copy of the caller's
    spark = sym.sparkSession
    with ThreadPoolExecutor(max_workers=2) as pool:
        fwd_f = pool.submit(inheritable_thread_target(spark)(_bfs), "a")
        bwd_f = pool.submit(inheritable_thread_target(spark)(_bfs), "b")
        fwd = fwd_f.result()
        bwd = bwd_f.result()

    # dist(a,b) per pair = forward distance at b (if reached in depth)
    pb_end = pairs.select(F.col("pair_id").alias("ptag"), F.col("b").alias("pb"))
    d_ab = (
        fwd.join(pb_end, (fwd.node == pb_end.pb) & (fwd.tag == pb_end.ptag))
        .select(F.col("tag"), F.col("dist").alias("d_ab"))
    )

    f = fwd.select(F.col("tag"), F.col("node"), F.col("dist").alias("da"), F.col("npaths").alias("pa"))
    g = bwd.select(F.col("tag").alias("tag2"), F.col("node").alias("node2"),
                   F.col("dist").alias("db"), F.col("npaths").alias("pb"))
    on_path = (
        f.join(g, (f.tag == g.tag2) & (f.node == g.node2))
        .join(d_ab, "tag")
        .where(F.col("da") + F.col("db") == F.col("d_ab"))
        .join(pairs.select(F.col("pair_id").alias("tag"), "a", "b"), "tag")
        .where((F.col("node") != F.col("a")) & (F.col("node") != F.col("b")))
        .select("node", (F.col("pa") * F.col("pb")).alias("path_count"))
    )
    return on_path.groupBy(F.col("node").alias("node_id")).agg(
        F.sum("path_count").alias("cnt")
    )


def _betweenness_oracle(n_pairs: int, max_depth: int, seed: int) -> str:
    """DuckDB twin of betweenness_sample: the BFS depth is a small
    fixed constant, so Brandes path counting unrolls into plain
    (non-recursive) per-level CTEs — walk counts along strictly
    distance-increasing paths, read off at each node's first-arrival
    level, ARE the shortest-path counts (any d-step walk reaching a
    node at distance d must increase distance every step). DuckDB 1.0
    recursive CTEs cannot aggregate in the recursive arm, so the
    recursive formulation q_shortest_path_len uses cannot carry
    npaths; the unroll can."""

    def levels(prefix: str, src_col: str) -> str:
        parts = [
            f"{prefix}0 AS (SELECT pair_id AS tag, {src_col} AS node,"
            " CAST(1 AS BIGINT) AS np FROM pairs)"
        ]
        for d in range(1, max_depth + 1):
            parts.append(
                f"{prefix}{d} AS (SELECT tag, sym.dst AS node,"
                f" CAST(SUM(np) AS BIGINT) AS np FROM {prefix}{d - 1}"
                f" JOIN sym ON {prefix}{d - 1}.node = sym.src"
                " GROUP BY tag, sym.dst)"
            )
        union = " UNION ALL ".join(
            f"SELECT tag, node, {d} AS d, np FROM {prefix}{d}"
            for d in range(max_depth + 1)
        )
        parts.append(f"{prefix}l AS ({union})")
        parts.append(
            f"{prefix}m AS (SELECT tag, node, MIN(d) AS dist"
            f" FROM {prefix}l GROUP BY tag, node)"
        )
        parts.append(
            f"{prefix}w AS (SELECT l.tag, l.node, m.dist, l.np"
            f" FROM {prefix}l l JOIN {prefix}m m"
            " ON l.tag = m.tag AND l.node = m.node AND l.d = m.dist)"
        )
        return ",\n    ".join(parts)

    return f"""
    WITH e AS ({ORACLE_EDGES}),
    sym AS ({ORACLE_SYM}),
    nodes AS ({ORACLE_NODES}),
    an AS (
      SELECT rn AS pair_id, node FROM (
        SELECT node, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(node AS VARCHAR) || '#b{seed}')) AS rn
        FROM nodes
      ) WHERE rn <= {n_pairs}
    ),
    bn AS (
      SELECT rn AS pair_id, node FROM (
        SELECT node, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(node AS VARCHAR) || '#b{seed + 1}')) AS rn
        FROM nodes
      ) WHERE rn <= {n_pairs}
    ),
    pairs AS (
      SELECT an.pair_id, an.node AS a, bn.node AS b
      FROM an JOIN bn ON an.pair_id = bn.pair_id
      WHERE an.node <> bn.node
    ),
    {levels("f", "a")},
    {levels("g", "b")},
    dab AS (
      SELECT fw.tag, fw.dist AS d_ab FROM fw
      JOIN pairs ON fw.tag = pairs.pair_id AND fw.node = pairs.b
    ),
    onp AS (
      SELECT fw.node, fw.np * gw.np AS pc
      FROM fw
      JOIN gw ON fw.tag = gw.tag AND fw.node = gw.node
      JOIN dab ON fw.tag = dab.tag
      JOIN pairs ON fw.tag = pairs.pair_id
      WHERE fw.dist + gw.dist = dab.d_ab
        AND fw.node <> pairs.a AND fw.node <> pairs.b
    )
    SELECT node AS node_id, CAST(SUM(pc) AS BIGINT) AS cnt
    FROM onp GROUP BY node
    """


@query("q_betweenness_sample", oracle=_betweenness_oracle(6, 5, 42))
def q_betweenness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: sampled betweenness interior-node counts. The md5-salted
    pair sample is reproduced exactly by the oracle (cross-engine
    deterministic); the oracle unrolls Brandes counting into
    fixed-depth CTEs — see _betweenness_oracle. Invariants
    (path-graph middle node maximal, determinism) stay pinned in
    tests/test_graph_algos.py."""
    return betweenness_sample(spark, sf_dir, n_pairs=6, max_depth=5, seed=42)


# ---------------------------------------------------------------------------
# PageRank (power iteration) and connected components
# ---------------------------------------------------------------------------


def pagerank(
    sym_edges: DataFrame,
    nodes: DataFrame,
    n_iters: int = 8,
    damping: float = 0.85,
    n_edges: int | None = None,
    seeds: list[int] | None = None,
    n_nodes: int | None = None,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """True PageRank by power iteration — the quantity the reference's
    degree-biased walk approximates (its output file is literally
    page_rank.int, Runner.java:64).

    ``seeds`` generalizes the teleport vector: None is classic
    PageRank (uniform teleport, tele=1.0 per node — the historical
    behavior, bit-for-bit); a seed list is PERSONALIZED PageRank,
    where all (1-damping) teleport mass lands on the seeds
    (tele = n_nodes/|seeds| on a seed, 0 elsewhere — the total-rank =
    n_nodes convention is preserved, so mass conservation holds for
    both variants: per iteration total = (1-d)·Σtele + d·total = N).
    The iteration is one shared formula, rank = (1-d)·tele + d·mass,
    with tele carried as a state column exactly like deg — ONE loop
    body serves both keys, so the oracle checks the expressions both
    variants run.

    Scale shape: a dangling node keeps its own mass (the standard
    self-loop treatment, needing no per-iteration driver scalar) as a
    term of the rank update: on a symmetrized edge list a degree-0
    node has no in-edges, so its in-mass is exactly rank / 1.0. The
    rank state carries its degree (no extra join), and the edge list
    is hash-partitioned on src once — each iteration is exactly ONE
    shuffle (the contribution groupBy); the join back to the
    co-partitioned state adds no exchange. Total rank is exactly
    n_nodes every iteration (asserted in tests).

    ``ckpt_dir`` snapshots the rank state (teleport column included)
    after every iteration and resumes from the latest snapshot there —
    the reference's checkpoint payload is literally this array
    (page_rank_<min>_<n>.int, Runner.java:64,67-88). Power iteration
    is a pure function of the snapshotted state, so an
    interrupted-and-resumed run is bit-identical to an uninterrupted
    one.
    """
    spark = sym_edges.sparkSession
    with _graph_loop(spark, n_edges, sym_edges) as edges_p:
        deg0 = edges_p.groupBy("src").agg(F.count("*").alias("deg"))
        base = (
            nodes.join(deg0, nodes.node == deg0.src, "left")
            .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
            .repartition("node")
            .persist()
        )
        if seeds is None:
            tele = F.lit(1.0)
        else:
            if not seeds:
                raise ValueError(
                    "personalized pagerank needs a non-empty seed list "
                    "(an empty teleport vector has no stationary "
                    "distribution); pass seeds=None for the uniform "
                    "classic"
                )
            if n_nodes is None:
                n_nodes = nodes.count()
            tele = F.when(
                F.col("node").isin([int(s) for s in seeds]),
                F.lit(float(n_nodes) / len(seeds)),
            ).otherwise(F.lit(0.0))
        state = base.select(
            "node", "deg", tele.alias("tele"), tele.alias("rank")
        ).transform(loop_checkpoint)
        in_mass = F.coalesce(
            "in_mass", F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0))
        )

        def power_step(s, _):
            # shuffle_hash: build on the small state side — SMJ would
            # re-sort the 1.6M-row edge cache every iteration
            st = s["state"]
            contrib = (
                st.hint("shuffle_hash")
                .join(edges_p, st.node == edges_p.src)
                .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("in_mass"))
            )
            yield "state", (
                st.join(contrib.hint("shuffle_hash"), "node", "left").select(
                    "node",
                    "deg",
                    "tele",
                    (
                        F.lit(1.0 - damping) * F.col("tele") + F.lit(damping) * in_mass
                    ).alias("rank"),
                )
            )

        # power iteration has no convergence test (n_iters is fixed),
        # so all n_iters states materialize inside _iterate's single
        # count — run before the caches it reads are released
        state = _iterate({"state": state}, power_step, n_iters, ckpt_dir=ckpt_dir)[0]["state"]
        base.unpersist()
        return state.select(F.col("node").alias("node_id"), F.round("rank", 6).alias("rank"))


def _pagerank_oracle(
    n_iters: int, damping: float, n_seeds: int | None = None
) -> str:
    """DuckDB twin of the fixed-iteration power method: PageRank's
    FIXPOINT is not CTE-expressible, but q_pagerank runs a FIXED
    n_iters — so, like the betweenness oracle, the recurrence unrolls
    into plain per-iteration CTEs (rank join edges, groupBy dst,
    damped update; dangling nodes get self-loops, the SQL form of the
    Spark loop's dangling term). Verified
    drift between the engines' summation orders after 8 iterations is
    ~1e-13 — six rounded decimals match exactly at every tested SF.

    ``n_seeds`` mirrors pagerank(seeds=...): the teleport vector
    concentrates on the n_seeds lowest customer ids (tele =
    n_nodes/n_seeds each, 0 elsewhere); None is the uniform classic
    (tele = 1.0). The per-iteration CTE uses the shared formula
    (1-d)·tele + d·mass for both variants, exactly like the Spark
    loop."""
    if n_seeds is None:
        tele_sql = "CAST(1.0 AS DOUBLE)"
        seeds_cte = ""
    else:
        seeds_cte = f"""
    seeds AS (SELECT c_custkey AS s FROM customer
              ORDER BY c_custkey LIMIT {n_seeds}),"""
        tele_sql = (
            "CASE WHEN node IN (SELECT s FROM seeds) THEN "
            f"(SELECT CAST(COUNT(*) AS DOUBLE) FROM nodes) / {n_seeds} "
            "ELSE CAST(0.0 AS DOUBLE) END"
        )
    head = f"""
    e AS ({ORACLE_EDGES}),
    sym AS ({ORACLE_SYM}),
    nodes AS ({ORACLE_NODES}),{seeds_cte}
    dg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY src),
    base AS (SELECT n.node, COALESCE(dg.d, 0) AS d
             FROM nodes n LEFT JOIN dg ON n.node = dg.node),
    e2 AS (SELECT src, dst FROM sym
           UNION ALL SELECT node AS src, node AS dst FROM base WHERE d = 0),
    st AS (SELECT node, GREATEST(d, 1) AS deg, {tele_sql} AS tele FROM base),
    r0 AS (SELECT node, deg, tele, tele AS rank FROM st)"""
    return _unroll(head, lambda k: f"""
    r{k} AS (
      SELECT s.node, s.deg, s.tele,
             {1 - damping} * s.tele + {damping} * COALESCE(m.mass, 0) AS rank
      FROM st s LEFT JOIN (
        SELECT e2.dst AS node, SUM(r.rank / r.deg) AS mass
        FROM r{k - 1} r JOIN e2 ON r.node = e2.src GROUP BY e2.dst
      ) m ON s.node = m.node
    )""", n_iters, f"\n    SELECT node AS node_id, ROUND(rank, 6) AS rank FROM r{n_iters}")


@query("q_pagerank", oracle=_pagerank_oracle(8, 0.85))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the derived undirected graph, 8 power iterations.
    Hash-checked against the unrolled fixed-iteration DuckDB twin
    (_pagerank_oracle); invariants stay in tests: total rank ≈
    n_nodes, determinism, hubs outrank leaves on a star fixture."""
    sym = graph.sym_edges(spark, sf_dir)
    return pagerank(
        sym, all_nodes(spark, sf_dir), n_iters=8,
        n_edges=graph.edge_count_estimate(spark, sf_dir),
    )


PPR_SEEDS = 4


@query(
    "q_pagerank_personalized",
    oracle=_pagerank_oracle(8, 0.85, n_seeds=PPR_SEEDS),
)
def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank: all teleport mass concentrates on a seed
    set (the 4 lowest customer ids) instead of spreading uniformly —
    rank becomes proximity-to-the-seeds, the standard graph feature
    for recommendation ("customers similar to these") and local
    community scoring around an entity of interest.

    Same power-iteration loop as q_pagerank (ONE loop body serves both
    — the teleport vector is just a state column), same self-loop
    dangling treatment, same total-rank = n_nodes conservation
    ((1-d)·Σtele + d·N = N), and the same unrolled fixed-iteration
    DuckDB twin, parametrized with the seed CASE. Scale shape is
    identical: one edge-keyed shuffle per iteration, seeds broadcast
    as a literal IN-list (|S| is always tiny — it's a query parameter,
    not data)."""
    seeds = [
        int(r[0])
        for r in load(spark, sf_dir, "customer")
        .select("c_custkey").orderBy("c_custkey").limit(PPR_SEEDS).collect()
    ]
    if len(seeds) != PPR_SEEDS:
        # the oracle divides by the LITERAL PPR_SEEDS; a shorter seed
        # list (degenerate fixture) would silently diverge the teleport
        # vector between engines — fail loudly instead (the
        # converge-or-raise contract)
        raise ValueError(
            f"q_pagerank_personalized needs {PPR_SEEDS} customers, "
            f"found {len(seeds)} in {sf_dir}"
        )
    nodes = all_nodes(spark, sf_dir)
    sym = graph.sym_edges(spark, sf_dir)
    return pagerank(
        sym, nodes, n_iters=8,
        n_edges=graph.edge_count_estimate(spark, sf_dir),
        seeds=seeds,
    )


def connected_components(
    sym_edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 20,
    n_edges: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by frontier-based min-label propagation:
    every node starts as its own label; each round, only nodes whose
    label CHANGED last round push it to their neighbors (the frontier
    shrinks geometrically on most graphs, so late rounds touch almost
    nothing); a label adopts any smaller incoming label. Terminates
    when the frontier empties — O(diameter) rounds, with convergence
    counted every HOPS_PER_CHECK rounds.
    """
    spark = sym_edges.sparkSession
    with _graph_loop(spark, n_edges, sym_edges) as edges_p:
        labels = nodes.select("node", F.col("node").alias("label")).transform(
            loop_checkpoint
        )

        def relax(s, _):
            # `improved` is the frontier: round 0 has everyone announce
            f = s["improved"]
            pushed = (
                f.hint("shuffle_hash")
                .join(edges_p, f.node == edges_p.src)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("cand"))
            )
            yield "improved", (
                s["labels"].join(pushed.hint("shuffle_hash"), "node")
                .where(F.col("cand") < F.col("label"))
                .select("node", F.col("cand").alias("label"))
            )
            # merge improvements via union + groupBy-min: one shuffle
            # keyed on node, where the anti-join + union alternative
            # shuffles twice (measured 2× cold at sf0.1). min() is the
            # merge because improvements are strictly smaller labels.
            # Merging an EMPTY improvement set is the identity, so
            # chaining past the fixpoint cannot change a label.
            yield "labels", (
                s["labels"].unionByName(s["improved"])
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )

        state, rounds, converged = _iterate(
            {"labels": labels, "improved": labels}, relax, max_iters,
            check_every=HOPS_PER_CHECK,
            done=lambda s, _: s["improved"].count() == 0,
        )
        if stats is not None:
            stats["rounds"] = rounds
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds "
                "(component diameter exceeds max_iters) — raise max_iters; "
                "returning partial labels would be silently wrong"
            )
        return state["labels"].select(
            F.col("node").alias("node_id"), F.col("label").alias("component")
        )


# Head of the CC and LPA twins: every node starts labeled with its own id.
_LABELS_HEAD = f"""
    e AS ({ORACLE_EDGES}),
    sym AS MATERIALIZED ({ORACLE_SYM}),
    nodes AS ({ORACLE_NODES}),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""


def _cc_oracle(n_rounds: int) -> str:
    """DuckDB twin of min-label propagation, unrolled to the SAME
    round ceiling as the Spark implementation's max_iters: full
    (non-frontier) propagation is mathematically identical to the
    frontier-optimized loop and idempotent once converged, so if
    Spark converges within the ceiling the two agree exactly — and if
    it doesn't, Spark RAISES rather than returning partial labels, so
    the pair can never agree on a wrong answer. Measured propagation
    depth: 7/8/10 rounds at sf0.001/0.01/0.1. AS MATERIALIZED on
    every round — DuckDB inlines plain CTEs at each reference and the
    expansion would otherwise be exponential."""
    return _unroll(_LABELS_HEAD, lambda r: f"""
    l{r} AS MATERIALIZED (
      SELECT n.node, LEAST(n.label, COALESCE(m.cand, n.label)) AS label
      FROM l{r - 1} n LEFT JOIN (
        SELECT sym.dst AS node, MIN(l.label) AS cand
        FROM l{r - 1} l JOIN sym ON l.node = sym.src GROUP BY sym.dst
      ) m ON n.node = m.node
    )""", n_rounds,
        f"\n    SELECT node AS node_id, CAST(label AS BIGINT) AS component FROM l{n_rounds}")


@query("q_connected_components", oracle=_cc_oracle(20))
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the derived graph. Hash-checked against
    the bounded-unroll DuckDB twin (_cc_oracle, same 20-round ceiling
    as the Spark loop); invariants stay in tests: a path graph is one
    component, disjoint cliques are separate, labels are the
    component-minimum node id."""
    sym = graph.sym_edges(spark, sf_dir)
    return connected_components(
        sym, all_nodes(spark, sf_dir), n_edges=graph.edge_count_estimate(spark, sf_dir)
    )


LPA_ROUNDS = 4


def label_propagation(
    sym_edges: DataFrame,
    nodes: DataFrame,
    n_rounds: int = LPA_ROUNDS,
    n_edges: int | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts labeled with its own id; each round, every node adopts the
    most frequent label among its neighbors, ties broken by SMALLEST
    label; isolated nodes keep their label. Runs a FIXED number of
    rounds — synchronous LPA has no monotone fixpoint (bipartite-ish
    graphs oscillate), so a fixed round count is what makes the result
    deterministic and cross-engine checkable, exactly like the
    fixed-iteration PageRank above.

    Per round: one shuffle pushing labels over edges, one (node,
    label) count aggregate, one max_by per node — all keyed on node
    id, with the edge list partitioned once and reused. Deterministic:
    synchronous updates + total-ordered tie-break (count DESC, label
    ASC via max_by on a (cnt, -label) struct)."""
    spark = sym_edges.sparkSession
    with _graph_loop(spark, n_edges, sym_edges) as edges_p:
        labels = nodes.select("node", F.col("node").alias("label")).transform(
            loop_checkpoint
        )

        def vote(s, _):
            lb = s["labels"]
            votes = (
                lb.hint("shuffle_hash")
                .join(edges_p, lb.node == edges_p.src)
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            picked = votes.groupBy("node").agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("new_label")
            )
            yield "labels", (
                lb.join(picked.hint("shuffle_hash"), "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                )
            )

        # fixed round count: no mid-loop action; the chain materializes
        # in _iterate's one count while the edge cache is alive
        labels = _iterate({"labels": labels}, vote, n_rounds)[0]["labels"]
        return labels.select(
            F.col("node").alias("node_id"), F.col("label").alias("community")
        )


def _lpa_round(r: int) -> str:
    """Round ``r`` of the LPA twin: p{r} holds each voted node's
    winning label, l{r} every node's label after the round."""
    return f"""
    p{r} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT sym.dst AS node, l.label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY sym.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM l{r - 1} l JOIN sym ON l.node = sym.src
        GROUP BY sym.dst, l.label
      ) WHERE rn = 1
    ),
    l{r} AS MATERIALIZED (
      SELECT n.node, COALESCE(p.label, n.label) AS label
      FROM l{r - 1} n LEFT JOIN p{r} p ON n.node = p.node
    )"""


def _lpa_oracle(n_rounds: int) -> str:
    """DuckDB twin of synchronous LPA by FIXED unroll — same round
    count as the Spark loop, so the engines compute the identical
    deterministic sequence (no fixpoint argument needed: the round
    count IS the semantics). ROW_NUMBER over (count DESC, label)
    implements the same total-ordered tie-break as Spark's max_by on
    (cnt, -label). AS MATERIALIZED per round — DuckDB inlines plain
    CTEs at every reference and each round reads the previous one
    twice (votes + keep-old fallback)."""
    return _unroll(_LABELS_HEAD, _lpa_round, n_rounds, (
        f"\n    SELECT node AS node_id, CAST(label AS BIGINT) AS community"
        f" FROM l{n_rounds}"
    ))


def _modularity_oracle(n_rounds: int) -> str:
    """LPA unroll + Newman modularity of the resulting partition, all
    in exact integer arithmetic until one final division:
    Q = Σ_c (4·m·e_c − d_c²) / (4·m²) with m = undirected edge count,
    e_c = intra-community edges, d_c = total community degree.
    HUGEINT sums keep the numerator exact; both engines convert the
    same two integers to double and divide once."""
    return _unroll(_LABELS_HEAD, _lpa_round, n_rounds, f""",
    labels AS MATERIALIZED (SELECT node, label FROM l{n_rounds}),
    m_cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    ec AS (
      SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM e JOIN labels la ON e.src = la.node
             JOIN labels lb ON e.dst = lb.node
      WHERE la.label = lb.label GROUP BY la.label
    ),
    dc AS (
      SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS d_c
      FROM sym JOIN labels la ON sym.src = la.node GROUP BY la.label
    ),
    terms AS (
      SELECT dc.community,
             4 * (SELECT m FROM m_cnt) * COALESCE(ec.e_c, 0)
               - dc.d_c * dc.d_c AS term
      FROM dc LEFT JOIN ec ON dc.community = ec.community
    )
    SELECT (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM labels)
             AS n_communities,
           (SELECT m FROM m_cnt) AS m_edges,
           {floor_round_sql(
               "CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE)"
               " / CAST(4 * (SELECT m FROM m_cnt) * (SELECT m FROM m_cnt) AS DOUBLE)",
               6,
           )} AS modularity
    FROM terms
    """)


@query("q_graph_modularity", oracle=_modularity_oracle(LPA_ROUNDS))
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the quality score that
    tells you whether a community assignment means anything
    (Q ∈ [-0.5, 1]; >0.3 is real structure). Hash-checked end to end:
    the oracle recomputes BOTH the fixed-round LPA labels and the
    score.

    Exactness discipline: m, e_c, d_c are integer counts, so the
    numerator Σ_c (4·m·e_c − d_c²) is exact in both engines (Python
    ints / HUGEINT); one final division of two identical integers
    under 2^53 emits the identical double (same rule as
    q_udf_grouped_ols). Scale shape: the intra-edge count is one
    labels⋈edges⋈labels join — two node-keyed shuffles — and the
    degree rollup reuses the label join; everything downstream of LPA
    is community-keyed (tiny)."""
    # e is consumed FOUR times (count action, intra-edge join, and
    # sym feeds LPA + the degree rollup): materialize the distinct
    # edge build once — the multiple-consumption pattern that cost
    # decontaminate 5x before its localCheckpoint (NEXT landmine 1)
    e = edges(spark, sf_dir).localCheckpoint()
    sym = symmetrize(e)
    labels = label_propagation(
        sym, all_nodes(spark, sf_dir), n_edges=graph.edge_count_estimate(spark, sf_dir)
    ).localCheckpoint()  # consumed by three branches below
    m = e.count()
    la = labels.select(F.col("node_id").alias("src"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node_id").alias("dst"), F.col("community").alias("cb"))
    ec = (
        e.join(la, "src")
        .join(lb, "dst")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("e_c"))
    )
    dc = (
        sym.join(la, "src")
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("d_c"))
    )
    terms = dc.join(ec, "community", "left").select(
        (
            4 * F.lit(m) * F.coalesce(F.col("e_c"), F.lit(0))
            - F.col("d_c") * F.col("d_c")
        ).alias("term")
    )
    n_comm = labels.select("community").distinct().count()
    return terms.agg(
        F.lit(n_comm).cast("long").alias("n_communities"),
        F.lit(m).cast("long").alias("m_edges"),
        floor_round(
            F.sum("term").cast("double") / F.lit(float(4 * m * m)), 6
        ).alias("modularity"),
    )


@query("q_graph_lpa", oracle=_lpa_oracle(LPA_ROUNDS))
def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation on the
    derived graph, hash-checked against the fixed-unroll DuckDB twin
    (_lpa_oracle, same round count). Same scale shape as
    q_connected_components — per-round cost is one edge-keyed shuffle
    plus two node-keyed aggregates, rounds are a constant — but the
    aggregate is a weighted vote rather than a min, which is what
    makes it a community (not component) assignment. Reference
    analog: whole-graph analytics family (Runner.java:40-56)."""
    sym = graph.sym_edges(spark, sf_dir)
    return label_propagation(
        sym, all_nodes(spark, sf_dir), n_edges=graph.edge_count_estimate(spark, sf_dir)
    )


def oriented_edge_intersections(
    pairs: DataFrame, with_degrees: bool = False
) -> DataFrame:
    """Per-oriented-edge triangle closures ``(src, dst, tcs)`` of an
    undirected graph given as canonical ``(u, v)`` pairs with u < v,
    one row per edge: ``tcs`` is the ARRAY of third vertices closing a
    triangle over that edge (each triangle appears on exactly one
    edge). NOT materialized — callers decide whether to explode
    (triangle rows), sum sizes (counts), or both, so the count path
    never pays for an exploded row set.

    Degree-oriented EDGE-ITERATOR enumeration: each undirected edge is
    directed from its lower-(degree, id) endpoint to the higher one;
    for every oriented edge u→v the closures are N⁺(u) ∩ N⁺(v),
    computed by joining the edge to both endpoints' out-neighbor
    ARRAYS and intersecting in-array (codegen'd, no per-wedge rows).
    Orientation bounds every out-degree by O(√m), so total
    intersection work is O(m^1.5) — and unlike the wedge-join
    formulation, the Σ C(outdeg, 2) wedge candidates are never
    materialized through a shuffle (measured 2× at sf0.1, where 1.2M
    edges produce ~20M wedges but only 1.9M triangles). The adjacency
    table is one row per node; when it fits a broadcast (≤2M nodes)
    the two adjacency joins don't shuffle the edge list at all, else
    they run as ordinary hash joins — both shapes scale.

    ``with_degrees=True`` (r13 optimization) returns
    ``(src, dst, sdeg, ddeg, tcs)`` over ALL oriented edges via a
    LEFT join of the closure arrays (``tcs`` empty/null when no
    triangle closes) — the endpoint degrees are already joined on for
    the orientation key, so callers that need them (per-edge Jaccard)
    stop re-aggregating degrees from the pair set and re-attaching
    them with two more pair-sized shuffles."""
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    ).persist()
    n_nodes = deg.count()  # materializes deg for its two uses below
    du, dv = deg.alias("du"), deg.alias("dv")
    if n_nodes <= 2_000_000:
        du, dv = F.broadcast(du), F.broadcast(dv)
    keyed = (
        pairs.join(du, pairs.u == F.col("du.node"))
        .join(dv, pairs.v == F.col("dv.node"))
        .select(
            "u",
            "v",
            F.struct(F.col("du.deg"), F.col("du.node")).alias("ku"),
            F.struct(F.col("dv.deg"), F.col("dv.node")).alias("kv"),
        )
    )
    fwd = F.col("ku") < F.col("kv")
    deg_cols = (
        [
            F.when(fwd, F.col("ku.deg")).otherwise(F.col("kv.deg")).alias("sdeg"),
            F.when(fwd, F.col("kv.deg")).otherwise(F.col("ku.deg")).alias("ddeg"),
        ]
        if with_degrees
        else []
    )
    oriented = keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        *deg_cols,
    ).localCheckpoint()  # eager: consumed by the adjacency agg AND the join
    deg.unpersist()
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    a1 = adj.select(F.col("src").alias("a1"), F.col("nbrs").alias("nu"))
    a2 = adj.select(F.col("src").alias("a2"), F.col("nbrs").alias("nv"))
    if n_nodes <= 2_000_000:
        a1, a2 = F.broadcast(a1), F.broadcast(a2)
    if not with_degrees:
        return (
            oriented.join(a1, oriented.src == F.col("a1"))
            # inner join: a dst with no out-neighbors closes no triangle
            .join(a2, oriented.dst == F.col("a2"))
            .select("src", "dst", F.array_intersect("nu", "nv").alias("tcs"))
        )
    # degree-carrying variant: LEFT joins so every oriented edge
    # survives (tcs null when either endpoint lacks out-neighbors —
    # semantically an empty closure set)
    return (
        oriented.join(a1, oriented.src == F.col("a1"), "left")
        .join(a2, oriented.dst == F.col("a2"), "left")
        .select(
            "src", "dst", "sdeg", "ddeg",
            F.array_intersect("nu", "nv").alias("tcs"),
        )
    )


def oriented_triangle_count(pairs: DataFrame) -> tuple[int, int]:
    """(n_edges, n_triangles). The edge list is materialized eagerly
    ONCE (localCheckpoint) — the naive form would execute the upstream
    pair-builder twice: once for the edge count action and again
    inside the triangle machinery. The count aggregates
    sum(size(tcs)) over the per-edge closure arrays — the exploded
    triangle rows are never materialized."""
    pairs = pairs.localCheckpoint()
    n_tris = (
        oriented_edge_intersections(pairs)
        .agg(F.coalesce(F.sum(F.size("tcs")), F.lit(0)).alias("n"))
        .collect()[0]["n"]
    )
    return pairs.count(), int(n_tris)


# Cap on distinct parts considered per order in the co-purchase edge
# builder. The basket self-join is quadratic in parts-per-order: one
# degenerate 100k-item basket yields ~5e9 pairs from a single key. Keep
# the MAX_BASKET_PARTS lowest part ids per order (deterministic, and
# DuckDB-reproducible for the oracle), bounding the join at
# O(orders * cap^2 / 2) worst-case. TPC-H baskets are <=7 lines, so at
# any tested SF the cap is invisible — it exists for the degenerate
# tail at 100x, the same shape MAX_SHINGLE_DF guards in llm_dedup.
MAX_BASKET_PARTS = 1024

# DuckDB twins of the capped baskets, (o, p) with each order's
# MAX_BASKET_PARTS lowest distinct part ids, and of _copurchase_pairs,
# e(u, v) with u < v
_ORACLE_BASKETS = f"""op AS (
      SELECT o, p FROM (
        SELECT l_orderkey AS o, l_partkey AS p,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      ) WHERE rn <= {MAX_BASKET_PARTS}
    )"""
_ORACLE_COPURCHASE = f"""{_ORACLE_BASKETS},
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    )"""


@query(
    "q_triangle_count",
    oracle=f"""
    WITH {_ORACLE_COPURCHASE},
    tri AS (
      SELECT 1 AS one
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts are
    adjacent when some order contains both), via the degree-oriented
    core in ``oriented_triangle_count`` — the plan that survives hub
    nodes at 100 TB. The oracle counts the same triangles with the
    simple id-ordered formulation (the total is orientation-invariant).

    Three shuffles total: pair generation (groupBy order), degree
    count (groupBy node), and the wedge/closure joins on node keys.
    Reference analog: whole-graph structural analytics in the R1/R2
    family (Runner.java:40-56 edge-list model).
    """
    edge_cnt, tri_cnt = oriented_triangle_count(_copurchase_pairs(spark, sf_dir))
    return local_rows_frame(
        spark, [(edge_cnt, tri_cnt)], "n_edges long, n_triangles long"
    )


# Estimated in-memory bytes per broadcast loop-state row (k_core's
# survivors, one long; BFS's visited keys, two): the longs plus
# UnsafeRow/oop overhead — deliberately conservative.
_STATE_ROW_BYTES = 32


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes, as Spark itself
    parses it (unit suffixes included); -1 (disabled) reads as 0."""
    conf = spark._jsparkSession.sessionState().conf()
    return max(0, conf.autoBroadcastJoinThreshold())


def _fits_broadcast(n_rows: int, limit_bytes: int) -> bool:
    """The broadcast decision of a loop's state (k_core's survivors,
    bfs_distances' visited set): does its estimated footprint fit the
    threshold? One shared expression so the plan test exercises
    exactly what the loops compute."""
    return n_rows * _STATE_ROW_BYTES <= limit_bytes


def _kcore_round(
    edges_p: DataFrame, survivors: DataFrame, k: int, do_bcast: bool
) -> DataFrame:
    """One peeling round (lazy): filter edges to both-endpoint
    survivors via two semi joins (broadcast-hinted only when the byte
    gate says the survivor set fits), recompute degrees, keep nodes
    with deg >= k. Split out so the plan shape is testable — k_core's
    per-round checkpoint erases the lineage the plan test needs."""
    alive = edges_p.join(
        survivors.hint("broadcast") if do_bcast else survivors,
        edges_p.src == survivors.node,
        "left_semi",
    )
    dsurv = survivors.withColumnRenamed("node", "dnode")
    alive = alive.join(
        dsurv.hint("broadcast") if do_bcast else dsurv,
        alive.dst == F.col("dnode"),
        "left_semi",
    )
    deg = alive.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    return deg.where(F.col("deg") >= k).select("node")


def k_core(
    sym_edges: DataFrame,
    k: int,
    max_iters: int = 100,
    stats: dict | None = None,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k, by iterative peeling — drop under-degree nodes,
    recompute degrees on the induced subgraph, repeat to fixpoint.

    ``sym_edges`` must be symmetrized (src, dst). Each round filters
    the src-partitioned edge cache to survivors (two semi joins) and
    recomputes degrees; while the survivor set fits a broadcast,
    neither step shuffles the edges (the degree groupBy runs in the
    src partitions), else the semi joins shuffle on node ids.
    Survivors are checkpointed per round so plans stay flat. Rounds
    are bounded by the degeneracy-peeling depth (tiny in practice —
    degree distributions collapse geometrically), with max_iters as
    the safety rail.
    Returns (node_id,). Raises instead of returning a partial answer
    if the fixpoint isn't reached — same contract as
    connected_components.
    """
    spark = sym_edges.sparkSession
    # Broadcast the survivor set only while its estimated BYTES fit the
    # session's autoBroadcastJoinThreshold (one long + row overhead per
    # survivor) — a row-count gate ages badly if the schema widens.
    # Spark's own size statistic for the checkpointed set reads ~90-100
    # B/row, so without the hint the 5× fixture plans sort-merge joins
    # (SCALING.md "Broadcast gates: walk and k-core, sf0.1 and 5×").
    bcast_limit = _broadcast_threshold_bytes(spark)
    # n_edges=None: the width is the caller's (q_graph_kcore sizes it)
    with _graph_loop(spark, None, sym_edges) as edges_p:
        survivors = loop_checkpoint(edges_p.select(F.col("src").alias("node")).distinct())
        n_prev = survivors.count()

        def peel(s, _):
            yield "survivors", _kcore_round(
                edges_p, s["survivors"], k, _fits_broadcast(n_prev, bcast_limit)
            )

        def fixpoint(s, _) -> bool:
            # the survivor count is the job that materializes the round
            nonlocal n_prev
            n_next = s["survivors"].count()
            stable = n_next in (n_prev, 0)
            n_prev = n_next
            return stable

        state, rounds, converged = _iterate(
            {"survivors": survivors}, peel, max_iters, done=fixpoint
        )
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"k_core({k}) did not reach a fixpoint in {max_iters} rounds"
        )
    return state["survivors"].select(F.col("node").alias("node_id"))


def _kcore_oracle(k: int, n_rounds: int) -> str:
    """DuckDB twin of 2-core peeling by BOUNDED UNROLL: peeling is an
    anti-monotone fixpoint (not recursive-CTE-expressible — the
    recursive arm can't aggregate), but it is IDEMPOTENT once
    converged, so unrolling more rounds than the real peel depth
    computes the exact fixpoint — surplus rounds are no-ops. Measured
    depth on this graph family: 2 rounds at sf0.001/sf0.01, 3 at
    sf0.1 (degree distributions collapse geometrically); n_rounds=12
    is a 4× safety margin. If a future dataset peeled deeper than 12,
    Spark (which iterates to the true fixpoint and raises past 100
    rounds) would hash-mismatch this oracle loudly rather than agree
    quietly."""
    head = f"""
    e AS ({ORACLE_EDGES}),
    sym AS MATERIALIZED ({ORACLE_SYM}),
    s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at
    # every reference, and each round references the previous one
    # TWICE — unmaterialized, the expansion is 2^n_rounds copies of
    # the base scan ("too many open files" long before any result)
    return _unroll(head, lambda r: f"""
    s{r} AS MATERIALIZED (
      SELECT src AS node FROM sym
      WHERE src IN (SELECT node FROM s{r - 1})
        AND dst IN (SELECT node FROM s{r - 1})
      GROUP BY src HAVING COUNT(*) >= {k}
    )""", n_rounds, f"\n    SELECT node AS node_id FROM s{n_rounds}")


@query("q_graph_kcore", oracle=_kcore_oracle(2, 12))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the derived graph. Hash-checked against the
    bounded-unroll DuckDB twin (_kcore_oracle — peeling is idempotent
    at the fixpoint, so a deep-enough unroll IS the fixpoint);
    invariants stay pinned on planted graphs in tests — path graphs
    peel to nothing, cycles and cliques survive whole, pendant tails
    fall off. Reference analog: whole-graph structural analytics
    (R1/R2 family)."""
    sym = graph.sym_edges(spark, sf_dir)
    with _graph_loop(spark, graph.edge_count_estimate(spark, sf_dir)):
        return k_core(sym, k=2)




def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical u < v part co-purchase edges (shared by the triangle
    and clustering-coefficient queries). Baskets are truncated to the
    ``MAX_BASKET_PARTS`` LOWEST part ids per order — see the cap note
    above.

    Shape: ONE groupBy(l_orderkey) builds each basket's sorted
    distinct part array (collect_set dedups in-agg, so no separate
    distinct pass over the raw lines), pairs are generated IN-ARRAY
    by an indexed transform (each element paired with its successors
    — the deliberate binary (element, index) lambda form), and one
    final distinct canonicalizes across orders. Two shuffles total —
    the earlier row_number + self-join formulation needed four and
    sorted every basket through a window (measured 2× at sf0.1).
    Per-row fan-out is bounded by C(MAX_BASKET_PARTS, 2)."""
    li = load(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.slice(
            F.sort_array(F.collect_set("l_partkey")), 1, MAX_BASKET_PARTS
        ).alias("parts")
    )
    pair_arrays = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, MAX_BASKET_PARTS),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_arrays).alias("p"))
        .select("p.u", "p.v")
        .distinct()
    )


@query(
    "q_graph_clustering",
    oracle=f"""
    WITH {_ORACLE_COPURCHASE},
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    credit AS (
      SELECT node, COUNT(*) AS n_tri
      FROM (SELECT unnest([a, b, c]) AS node FROM tri)
      GROUP BY node
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node
    )
    SELECT d.node AS node_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(credit.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN d.deg >= 2
                      THEN CAST(COALESCE(credit.n_tri, 0) * 2 AS DOUBLE)
                           / (d.deg * (d.deg - 1))
                      ELSE 0.0 END, 4) AS clustering_coeff
    FROM deg d LEFT JOIN credit ON d.node = credit.node
    """,
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the co-purchase graph:
    triangles through the node over C(degree, 2) — the standard
    local-density measure. Triangle enumeration reuses the
    degree-oriented core (O(m^1.5) bound); node credit is one explode
    + groupBy over the triangle rows; degrees come from the edge list.
    All keyed on node id — at 100 TB this is three node-keyed
    shuffles downstream of the bounded wedge join."""
    # localCheckpoint (eager) rather than persist/unpersist: the result
    # is consumed lazily after this function returns, so an unpersist
    # here would drop the cache before first use and recompute the
    # basket self-join for both the degree and triangle branches.
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint()
    # Per-node triangle credit WITHOUT exploding all three vertices:
    # for each per-edge closure array, src and dst each earn
    # size(tcs) credits (two column aggregates, no row expansion) and
    # only the interior vertices explode — 1/3 the exploded rows of
    # the naive (ta, tb, tc) unpivot.
    per_edge = (
        oriented_edge_intersections(pairs)
        .where(F.size("tcs") > 0)
        .localCheckpoint()  # consumed three times below
    )
    endpoint = (
        per_edge.select(F.col("src").alias("node"), F.size("tcs").alias("c"))
        .unionAll(
            per_edge.select(F.col("dst").alias("node"), F.size("tcs").alias("c"))
        )
    )
    interior = per_edge.select(F.explode("tcs").alias("node"), F.lit(1).alias("c"))
    credit = (
        endpoint.unionAll(interior)
        .groupBy("node")
        .agg(F.sum("c").alias("n_tri"))
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    out = (
        deg.join(credit, "node", "left")
        .select(
            F.col("node").alias("node_id"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    (F.coalesce(F.col("n_tri"), F.lit(0)) * 2).cast("double")
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(0.0),
                4,
            ).alias("clustering_coeff"),
        )
    )
    return out


@query(
    "q_graph_degree_hist",
    oracle=ORACLE_SYM_EDGES
    + """
    SELECT deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src)
    GROUP BY deg
    """,
)
def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the derived graph — the
    first diagnostic a graph pipeline computes (it decides salting,
    hub handling, and orientation thresholds for everything
    downstream; the reference prints exactly this kind of summary
    after its degree pass, OlapRunner.java:55-58).

    Two shuffles, both with map-side partials: degree per node, then
    node-count per degree. The second aggregate's key space is the
    distinct degree set — tiny even at 100 TB (degree distributions
    are heavy-tailed, not wide)."""
    from neo_olap_spark.graph import degrees, edges as _edges

    return (
        degrees(_edges(spark, sf_dir))
        .groupBy(F.col("degree"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


@query(
    "q_graph_jaccard",
    oracle=f"""
    WITH {_ORACLE_COPURCHASE},
    s AS MATERIALIZED (
      SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM s GROUP BY a),
    tri_e AS (
      SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS common
      FROM e JOIN s s1 ON s1.a = e.u JOIN s s2 ON s2.a = e.v AND s2.b = s1.b
      GROUP BY e.u, e.v
    )
    SELECT e.u, e.v,
           CAST(COALESCE(t.common, 0) AS BIGINT) AS common_neighbors,
           {floor_round_sql(
               "CAST(COALESCE(t.common, 0) AS DOUBLE)"
               " / CAST(du.deg + dv.deg - COALESCE(t.common, 0) AS DOUBLE)",
               6,
           )} AS jaccard
    FROM e JOIN deg du ON e.u = du.node
           JOIN deg dv ON e.v = dv.node
           LEFT JOIN tri_e t ON e.u = t.u AND e.v = t.v
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard similarity on the co-purchase
    graph — the classic link-prediction / recommendation feature:
    J(u,v) = |N(u)∩N(v)| / (deg(u)+deg(v) − |N(u)∩N(v)|), where the
    common-neighbor count is exactly the number of triangles through
    the edge.

    Per-edge triangle participation comes from the SAME closure
    arrays as q_triangle_count: each intersection row (s,d,tcs)
    credits its own edge |tcs| and each wedge edge (s,w)/(d,w) one —
    so the O(m^1.5) degree-oriented bound carries over and the naive
    common-neighbor self-join (quadratic per hub) never runs. Counts
    and degrees are integers; the single division of exact integers
    plus floor-shift makes the score bit-identical cross-engine
    (q_udf_grouped_ols rule)."""
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint()
    # r13 optimization: the closure join already attaches both endpoint
    # degrees for the orientation key, so carry them through
    # (with_degrees=True, LEFT closure joins keep every edge) instead
    # of re-aggregating deg from the pair set and re-attaching it with
    # two more pair-sized shuffles — the old shape shuffled the full
    # pair set by u, then by v, then by (u, v); this one exchanges it
    # once for the single left join against tri_e (whose groupBy
    # partitioning the join reuses). Plan diff: 2 pair-set shuffles
    # and one full-pair aggregation pass removed.
    per_edge_all = oriented_edge_intersections(
        pairs, with_degrees=True
    ).localCheckpoint()  # consumed by tri_e AND the output join
    per_edge = per_edge_all.where(F.size("tcs") > 0)
    canon = lambda a, b: [F.least(a, b).alias("u"), F.greatest(a, b).alias("v")]
    # ONE scan of the closure checkpoint emits every credit row (own
    # edge + both wedge edges, in-array) — the old own/wedge_a/wedge_b
    # union read the checkpoint three times (3 × ~150 MB cache scans
    # in the profile). explode_outer + isNotNull per the
    # _explode_no_refilter rule: a plain explode's inferred size()>0
    # pre-filter would evaluate the concat+transforms twice per row.
    def credit(a, b, c):
        return F.struct(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v"), c.alias("c")
        )

    one = F.lit(1).cast("long")
    credit_rows = F.concat(
        F.array(
            credit(F.col("src"), F.col("dst"), F.size("tcs").cast("long"))
        ),
        F.transform("tcs", lambda w: credit(F.col("src"), w, one)),
        F.transform("tcs", lambda w: credit(F.col("dst"), w, one)),
    )
    tri_e = (
        per_edge.select(F.explode_outer(credit_rows).alias("cr"))
        .where(F.col("cr").isNotNull())
        .groupBy(F.col("cr.u").alias("u"), F.col("cr.v").alias("v"))
        .agg(F.sum("cr.c").alias("common"))
    )
    all_edges = per_edge_all.select(
        *canon(F.col("src"), F.col("dst")),
        F.when(F.col("src") < F.col("dst"), F.col("sdeg"))
        .otherwise(F.col("ddeg"))
        .cast("long")
        .alias("du"),
        F.when(F.col("src") < F.col("dst"), F.col("ddeg"))
        .otherwise(F.col("sdeg"))
        .cast("long")
        .alias("dv"),
    )
    common = F.coalesce(F.col("common"), F.lit(0)).cast("long")
    return (
        all_edges.join(tri_e, ["u", "v"], "left")
        .select(
            "u",
            "v",
            common.alias("common_neighbors"),
            floor_round(
                common.cast("double")
                / (F.col("du") + F.col("dv") - common).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q_graph_sssp — weighted single-source shortest paths (bounded Bellman-Ford)
# ---------------------------------------------------------------------------

SSSP_MAX_ROUNDS = 40  # measured depth 26 at sf0.1; headroom for larger SFs
_SSSP_INF = 1 << 60


def sssp(
    wsym: DataFrame,
    sources: list[int],
    max_rounds: int = SSSP_MAX_ROUNDS,
    n_edges: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed multi-source Bellman-Ford with frontier relaxation,
    keyed on (source, node): only entries whose distance IMPROVED last
    round push tentative distances; a node adopts any smaller
    candidate. k sources cost one traversal (k x state, same rounds).
    Terminates when no distance improves — O(weighted-tree hop depth)
    rounds. Raises if the round ceiling is hit, so a partial (wrong)
    answer can never be returned — the same safety contract as
    connected_components. Returns (source, node, dist).

    Each relaxation merges by aggregating only the (frontier-sized)
    pushes, then FULL-OUTER joining them against the standing
    distances. The standing state is already hash-partitioned on
    (source, node) from the last merge (preserved through the
    LogicalRDD checkpoint), so only the pushes shuffle and the state
    never re-moves: the shape that keeps k-source closeness linear at
    10×. It is the one merge: a union+groupBy merge of the full state
    ran within noise of it at sf0.1 (SCALING.md, "sssp: one merge
    path").

    Convergence is the one rule BFS and CC stop on: no (source, node)
    entry improved. Sources never interact (a push carries its source
    key through the join), so a source that finishes early adds no
    frontier rows to the rounds its batch still runs; only its
    settled state rides along in the merge (SCALING.md, "sssp: one
    convergence check").

    The check runs every HOPS_PER_CHECK relaxations: each
    hop's lazy checkpoint makes the one check job compute every hop's
    state exactly once. Convergence after the LAST hop of a check is
    exact regardless of earlier hops: hop k+1 pushes from exactly hop
    k's improved set. The ceiling stays a count of RELAXATIONS (the
    last one forces a check, so the raise contract is unchanged), and
    ``stats["rounds"]`` includes up to HOPS_PER_CHECK-1 idempotent
    relaxations past the fixpoint. ≥95% of wall is the per-relaxation
    stage execution (exchange + aggregate + checkpoint of the state),
    not driver scheduling.

    r14 note: running multi-source batches as CONCURRENT
    single-source loops was A/B'd and REJECTED: each relaxation's
    dominant cost is streaming the full edge cache through the
    shuffle_hash probe, which the batched loop amortizes across all
    sources — k concurrent loops paid it k times (closeness warm
    13.8 → 18.4 s, jobs 29 → 71)."""
    spark = wsym.sparkSession
    with _graph_loop(spark, n_edges, wsym) as edges_p:
        # State is the last relaxation's ``merged`` frame (source, node,
        # dist, old): dist and the improved frontier are views of it.
        improved = F.col("dist") < F.coalesce("old", F.lit(_SSSP_INF))
        merged = loop_checkpoint(local_rows_frame(
            spark,
            [(s, s, 0, None) for s in sources],
            "source long, node long, dist long, old long",
        ))

        def relax(s, _):
            m = s["merged"]
            frontier = m.where(improved).select("source", "node", "dist")
            pushed = (
                frontier.hint("shuffle_hash")
                .join(edges_p, frontier.node == edges_p.src)
                .groupBy("source", F.col("dst").alias("node"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
            )
            yield "merged", (
                m.select("source", "node", F.col("dist").alias("old"))
                .join(pushed, ["source", "node"], "full_outer")
                .select(
                    "source",
                    "node",
                    F.least(
                        F.coalesce("old", F.lit(_SSSP_INF)),
                        F.coalesce("cand", F.lit(_SSSP_INF)),
                    ).alias("dist"),
                    "old",
                )
            )

        state, rounds, converged = _iterate(
            {"merged": merged}, relax, max_rounds,
            check_every=HOPS_PER_CHECK,
            done=lambda s, _: s["merged"].where(improved).count() == 0,
        )
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"sssp did not converge in {max_rounds} rounds — raise "
            "SSSP_MAX_ROUNDS; returning partial distances would be "
            "silently wrong"
        )
    return state["merged"].select("source", "node", "dist")


def _sssp_oracle(n_rounds: int) -> str:
    """DuckDB twin of Bellman-Ford, unrolled to the SAME ceiling as
    the Spark loop: full (non-frontier) relaxation per round is
    idempotent at the fixpoint, so if Spark converges inside the
    ceiling the two agree exactly — and Spark RAISES otherwise (the
    _cc_oracle contract). AS MATERIALIZED is load-bearing: each round
    references the previous one twice (FULL OUTER left side + push
    source) and plain CTEs would expand exponentially."""
    head = f"""
    e AS ({ORACLE_WEIGHTED_EDGES}),
    sym AS MATERIALIZED ({ORACLE_WEIGHTED_SYM}),
    d0 AS MATERIALIZED (
      SELECT CAST((SELECT MIN(c_custkey) FROM customer) AS BIGINT) AS node,
             CAST(0 AS BIGINT) AS dist)"""
    return _unroll(head, lambda r: f"""
    d{r} AS MATERIALIZED (
      SELECT COALESCE(d.node, m.node) AS node,
             LEAST(COALESCE(d.dist, {_SSSP_INF}), COALESCE(m.cand, {_SSSP_INF}))
               AS dist
      FROM d{r - 1} d FULL OUTER JOIN (
        SELECT s.dst AS node, MIN(p.dist + s.w) AS cand
        FROM d{r - 1} p JOIN sym s ON p.node = s.src GROUP BY s.dst
      ) m ON d.node = m.node
    )""", n_rounds,
        f"\n    SELECT node AS node_id, CAST(dist AS BIGINT) AS dist FROM d{n_rounds}")


@query("q_graph_sssp", oracle=_sssp_oracle(SSSP_MAX_ROUNDS))
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from the lowest customer
    id over the quantity-weighted derived graph — Dijkstra's answer,
    computed the distributed way (bounded Bellman-Ford: no priority
    queue to serialize through, one relaxation join per round).

    Complements q_shortest_path_len (unweighted hop BFS): with
    weights, the shortest path is NOT the fewest-hop path, so the
    relaxation must keep running after first arrival — the reason
    this needs the improve-only frontier + convergence proof rather
    than a visited set. Hash-checked against the fixed-ceiling
    unrolled min-plus oracle (_sssp_oracle).

    Scale shape: per round ONE edge-keyed shuffle join + one
    node-keyed min — identical accounting to connected_components
    (VERDICT r2: "the 100×-scale plan"); frontier shrinkage makes
    late rounds near-free; per-round checkpoints keep step plans
    flat. Reference analog: PathFinderNodeCountingRunner's
    shortest-path queries (reference computes hop paths; this is the
    weighted generalization)."""
    src_row = load(spark, sf_dir, "customer").agg(F.min("c_custkey")).collect()
    source_id = int(src_row[0][0])
    out = sssp(
        graph.weighted_sym_edges(spark, sf_dir),
        [source_id],
        n_edges=graph.edge_count_estimate(spark, sf_dir),
    )
    return out.select(F.col("node").alias("node_id"), "dist")


# ---------------------------------------------------------------------------
# q_graph_closeness — sampled closeness centrality (multi-source SSSP)
# ---------------------------------------------------------------------------

CLOSENESS_SOURCES = 4


def _closeness_oracle(n_rounds: int) -> str:
    """Unrolled multi-source Bellman-Ford on (source, node) keys,
    same ceiling/idempotence contract as _sssp_oracle. DuckDB SUM of
    BIGINT is HUGEINT — CAST back (float-landmine (c))."""
    head = f"""
    e AS ({ORACLE_WEIGHTED_EDGES}),
    sym AS MATERIALIZED ({ORACLE_WEIGHTED_SYM}),
    srcs AS MATERIALIZED (
      SELECT CAST(c_custkey AS BIGINT) AS source FROM customer
      ORDER BY c_custkey LIMIT {CLOSENESS_SOURCES}),
    d0 AS MATERIALIZED (
      SELECT source, source AS node, CAST(0 AS BIGINT) AS dist FROM srcs)"""
    return _unroll(head, lambda r: f"""
    d{r} AS MATERIALIZED (
      SELECT COALESCE(d.source, m.source) AS source,
             COALESCE(d.node, m.node) AS node,
             LEAST(COALESCE(d.dist, {_SSSP_INF}), COALESCE(m.cand, {_SSSP_INF}))
               AS dist
      FROM d{r - 1} d FULL OUTER JOIN (
        SELECT p.source, s.dst AS node, MIN(p.dist + s.w) AS cand
        FROM d{r - 1} p JOIN sym s ON p.node = s.src
        GROUP BY p.source, s.dst
      ) m ON d.source = m.source AND d.node = m.node
    )""", n_rounds, f"""
    SELECT source,
           COUNT(*) AS n_reached,
           CAST(SUM(dist) AS BIGINT) AS sum_dist,
           CASE WHEN SUM(dist) > 0 THEN
             CAST(FLOOR((COUNT(*) - 1) * 1000000.0 / SUM(dist) + 0.5) AS BIGINT)
           ELSE NULL END AS closeness_micro
    FROM d{n_rounds} GROUP BY source ORDER BY source""")


@query("q_graph_closeness", oracle=_closeness_oracle(SSSP_MAX_ROUNDS))
def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled closeness centrality: weighted SSSP from
    {CLOSENESS_SOURCES} deterministic source customers run
    SIMULTANEOUSLY in one loop keyed on (source, node) — k sources
    cost one traversal, not k. Closeness = (reached − 1) / Σdist,
    micro-integerized (floor-shift) so the output is engine-exact.

    With the walk counts (degree centrality's cousin, R1) and sampled
    betweenness (R2), this completes the classical centrality trio
    the reference's workload family approximates. Same per-round
    accounting, convergence check and converge-or-raise contract as
    q_graph_sssp; the (source, node) key multiplies state, not
    rounds, and the loop stops when no source's distances improve.
    (r14 A/B:
    running the sources as concurrent single-source loops was tried
    and REJECTED — see sssp's docstring — the batched loop's
    one-edge-scan-per-round amortization wins at every tested
    volume.)"""
    srcs = [
        int(r[0])
        for r in load(spark, sf_dir, "customer")
        .select("c_custkey")
        .orderBy("c_custkey")
        .limit(CLOSENESS_SOURCES)
        .collect()
    ]
    dist = sssp(
        graph.weighted_sym_edges(spark, sf_dir),
        srcs,
        n_edges=graph.edge_count_estimate(spark, sf_dir),
    )
    # isolated-source guard: sum_dist = 0 (nothing reached) must yield
    # NULL in BOTH engines — unguarded, Spark's 0.0/0 -> NaN path and
    # DuckDB's NULL diverge
    n_r = F.count(F.lit(1))
    s_d = F.sum("dist")
    return (
        dist.groupBy("source")
        .agg(
            n_r.alias("n_reached"),
            s_d.alias("sum_dist"),
            F.when(
                s_d > 0,
                F.floor((n_r - 1) * F.lit(1000000.0) / s_d + 0.5).cast("long"),
            ).alias("closeness_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_graph_hits — HITS hubs & authorities on the DIRECTED derived graph
# ---------------------------------------------------------------------------

HITS_ITERS = 8


def _hits_oracle(n_iters: int) -> str:
    """Unrolled fixed-iteration HITS twin (the _pagerank_oracle
    pattern). Both engines share the normalization expression TEXT
    (COALESCE(raw,0) * (N / s)); the global L1 normalizer s is a
    46k-term double sum whose accumulation order differs between
    engines by ~1e-16 relative, amplified to ~1e-14 over 8 iterations
    (the verified pagerank drift class) — the output quantizes at 1e-5
    (not the usual 1e-6) to keep boundary-landing risk an order of
    magnitude below the pagerank precedent, since HITS emits TWO
    scores per node. Every per-iteration CTE is MATERIALIZED: a{k} is
    referenced twice (h{k}raw + the next/final round) and plain CTEs
    would expand exponentially (the _cc_oracle lesson)."""
    head = f"""
    de AS MATERIALIZED ({ORACLE_EDGES}),
    allnodes AS MATERIALIZED ({ORACLE_NODES}),
    nd AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM allnodes),
    h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM allnodes)"""
    return _unroll(head, lambda k: f"""
    a{k}raw AS MATERIALIZED (
      SELECT e.dst AS node, SUM(h.hub) AS raw
      FROM h{k - 1} h JOIN de e ON h.node = e.src GROUP BY e.dst
    ),
    sa{k} AS MATERIALIZED (SELECT SUM(raw) AS s FROM a{k}raw),
    a{k} AS MATERIALIZED (
      SELECT b.node,
             COALESCE(r.raw, 0) * ((SELECT nn FROM nd) / (SELECT s FROM sa{k}))
               AS auth
      FROM allnodes b LEFT JOIN a{k}raw r ON b.node = r.node
    ),
    h{k}raw AS MATERIALIZED (
      SELECT e.src AS node, SUM(a.auth) AS raw
      FROM a{k} a JOIN de e ON a.node = e.dst GROUP BY e.src
    ),
    sh{k} AS MATERIALIZED (SELECT SUM(raw) AS s FROM h{k}raw),
    h{k} AS MATERIALIZED (
      SELECT b.node,
             COALESCE(r.raw, 0) * ((SELECT nn FROM nd) / (SELECT s FROM sh{k}))
               AS hub
      FROM allnodes b LEFT JOIN h{k}raw r ON b.node = r.node
    )""", n_iters, f"""
    SELECT h.node AS node_id,
           {floor_round_sql("h.hub", 5)} AS hub,
           {floor_round_sql("a.auth", 5)} AS auth
    FROM h{n_iters} h JOIN a{n_iters} a ON h.node = a.node""")


def hits(
    directed_edges: DataFrame,
    nodes: DataFrame,
    n_iters: int = HITS_ITERS,
    n_edges: int | None = None,
) -> DataFrame:
    """Reusable HITS core: fixed-iteration hubs & authorities over a
    DIRECTED (src, dst) edge list and a (node) frame, L1-normalized to
    total n_nodes each half-step. Returns (node_id, hub, auth)
    quantized at 1e-5 (the normalizer is an order-dependent double sum
    — see _hits_oracle's drift budget). Extracted from q_graph_hits so
    planted-graph tests run the exact production loop; the query key is
    a thin wrapper over the derived customer→order→part graph.

    Each half-step's raw push aggregate feeds TWO consumers — the L1
    normalizer sum and the state join — so it is checkpointed like
    the states: without it the edge join + aggregate executes TWICE
    per half-step (landmine 4's double-reference rule; round 8's plan
    audit found 32 edge joins per run instead of 16)."""
    spark = directed_edges.sparkSession
    with _graph_loop(spark, n_edges, directed_edges) as e_src:
        # derive the dst-partitioned copy FROM the persisted src copy:
        # the upstream edge build (a full fact shuffle) runs once,
        # not once per direction (self-review r7 finding)
        e_dst = e_src.repartition("dst").persist()
        base = nodes.repartition("node").persist()
        try:
            n_nodes = float(base.count())

            def push(score: DataFrame, col: str, e: DataFrame, frm: str, to: str):
                return (
                    score.hint("shuffle_hash")
                    .join(e, score.node == e[frm])
                    .groupBy(to)
                    .agg(F.sum(col).alias("raw"))
                    .withColumnRenamed(to, "node")
                )

            def normalize(raw: DataFrame, name: str) -> DataFrame:
                total = raw.agg(F.sum("raw").alias("s"))
                return (
                    base.join(raw, "node", "left")
                    .crossJoin(F.broadcast(total))
                    .select(
                        "node",
                        (
                            F.coalesce("raw", F.lit(0.0))
                            * (F.lit(n_nodes) / F.col("s"))
                        ).alias(name),
                    )
                )

            def half_steps(s, _):
                yield "a_raw", push(s["hub"], "hub", e_src, "src", "dst")
                yield "auth", normalize(s["a_raw"], "auth")
                yield "h_raw", push(s["auth"], "auth", e_dst, "dst", "src")
                yield "hub", normalize(s["h_raw"], "hub")

            # HITS runs a FIXED iteration count, so no convergence action is
            # needed mid-loop: the states materialize inside (a) each
            # half-step's normalizer broadcast, which executes when its
            # lazily checkpointed frame is built and caches that half-step's
            # raw aggregate as a side effect, and (b) _iterate's one count,
            # which computes the rest of the chain while the e_src/e_dst/
            # base caches are alive. The output join reads the cached
            # states; it is checkpointed before the finally unpersists them.
            hub = loop_checkpoint(base.select("node", F.lit(1.0).alias("hub")), eager=False)
            state = _iterate({"hub": hub}, half_steps, n_iters)[0]
            return loop_checkpoint(
                state["hub"].join(state["auth"], "node").select(
                    F.col("node").alias("node_id"),
                    floor_round("hub", 5).alias("hub"),
                    floor_round("auth", 5).alias("auth"),
                ),
                eager=False,
            )
        finally:
            # unpersist on ALL paths: a mid-loop failure must not pin
            # the largest cached frames for the session lifetime
            e_dst.unpersist()
            base.unpersist()


@query("q_graph_hits", oracle=_hits_oracle(HITS_ITERS))
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the DIRECTED derived graph
    (customer → order → part): authority(v) sums the hub scores
    pointing at v, hub(u) sums the authority scores u points at —
    mutually reinforcing, L1-normalized to total n_nodes each
    half-step. On this graph the decomposition is semantically real:
    customers are pure hubs (no in-edges), parts pure authorities (no
    out-edges), orders both — HITS separates the two roles that
    PageRank's single score conflates on the symmetrized graph.

    Fixed 8 iterations, hash-checked against the unrolled DuckDB twin
    (_hits_oracle — the _pagerank_oracle pattern; outputs quantized at
    1e-5, see the oracle docstring for the normalizer drift budget).

    Scale shape (the loop body lives in hits(), shared with the 10×
    planted-graph soak): per half-step ONE aggregate shuffle keyed on
    the RECEIVING node (dst for authorities, src for hubs — the edge
    list is persisted twice, partitioned each way, so only the
    node-sized state moves), one aggregate-sized L1 sum broadcast back
    via a 1-row crossJoin (no per-iteration driver scalar), and a
    lazy checkpoint per half-step (each state is referenced twice —
    next half-step's push + the carried output — landmine 4, exactly
    the pagerank rule)."""
    return hits(
        graph.directed_edges(spark, sf_dir),
        all_nodes(spark, sf_dir),
        n_iters=HITS_ITERS,
        n_edges=graph.edge_count_estimate(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q_graph_assortativity — degree-degree mixing (one scalar per graph)
# ---------------------------------------------------------------------------


def _assort_corr_expr() -> str:
    """The shared corr-micro tail over the assortativity moment names
    — ONE definition consumed by both the oracle and the Spark side
    (self-review r9 dedup; the import is lazy only to keep sibling
    operator modules decoupled at the top level)."""
    from neo_olap_spark.operators.analytics import _corr_micro_expr

    return _corr_micro_expr("sx", "sy", "sxx", "syy", "sxy")


def _assortativity_oracle() -> str:
    corr = _assort_corr_expr()
    return f"""
    {ORACLE_SYM_EDGES},
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM sym GROUP BY src
    ),
    xy AS (
      SELECT CAST(d1.deg AS HUGEINT) AS x, CAST(d2.deg AS HUGEINT) AS y
      FROM sym JOIN deg d1 ON sym.src = d1.node
               JOIN deg d2 ON sym.dst = d2.node
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS HUGEINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS HUGEINT) AS DOUBLE) AS syy,
             CAST(CAST(SUM(x * y) AS HUGEINT) AS DOUBLE) AS sxy,
             CAST(COUNT(*) AS BIGINT) AS n_sym_edges
      FROM xy
    )
    SELECT n_sym_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           {corr} AS assortativity_micro
    FROM m
    """


@query("q_graph_assortativity", oracle=_assortativity_oracle())
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the derived graph — the Newman mixing
    coefficient: the Pearson correlation of (deg(u), deg(v)) over all
    symmetrized edges. Negative means hubs attach to leaves
    (disassortative — typical for bipartite-derived and technological
    graphs), positive means hubs cluster with hubs (social graphs).
    One scalar that summarizes the wiring the degree histogram
    (q_graph_degree_hist) can't see — it decides salting strategy for
    edge joins (disassortative graphs concentrate on few hot receive
    keys) and is the standard first structure probe after degree.

    Exactness: degrees are exact integer counts; the six edge-level
    moments accumulate in 128-bit; the correlation is the SAME shared
    micro expression q_agg_corr_matrix uses (_corr_micro_expr —
    identical parse tree both engines). Symmetrized edges make the
    measure direction-free (each edge contributes both (x,y) and
    (y,x), the standard undirected treatment).

    Scale shape: the symmetrized edge list is localCheckpointed (it
    feeds the degree build AND the probe join — the shared-subtree
    rule); the node-sized degree table is checkpointed too (TWO join
    consumers) and joins via hash on each endpoint; one
    partial-aggregable moment pass ends it. Everything is linear in
    edges; output is ONE row."""
    e_sym = symmetrize(edges(spark, sf_dir)).localCheckpoint()
    deg = (
        e_sym.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint()
    )
    dec = "decimal(38,0)"
    xy = (
        e_sym.join(deg.select(F.col("node").alias("src"),
                              F.col("deg").alias("xd")), "src")
        .join(deg.select(F.col("node").alias("dst"),
                         F.col("deg").alias("yd")), "dst")
        .select(F.col("xd").cast(dec).alias("x"), F.col("yd").cast(dec).alias("y"))
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n_sym_edges"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return m.crossJoin(F.broadcast(n_nodes)).select(
        "n_sym_edges",
        "n_nodes",
        F.expr(_assort_corr_expr()).alias("assortativity_micro"),
    )


# ---------------------------------------------------------------------------
# q_basket_lift — association-rule mining (support / confidence / lift)
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 2  # pairs must co-occur in >= this many orders
BASKET_TOP_N = 40

# log-lift, micro-quantized: lift = (n_ab * N) / (n_a * n_b) reported
# as ln(lift) in micro-nats via the overflow-free sum-of-logs form
# (n_ab * N alone overflows BIGINT at warehouse scale; every ln input
# here is a bare positive integer — the collocations-PMI discipline,
# double literals in scientific form per the BM25 decimal landmine).
_LLIFT_MICRO = cents_sql(
    "(ln(n_ab * 1.0e0) + ln(n_orders * 1.0e0) - ln(c_a * 1.0e0) - ln(c_b * 1.0e0))", 6
)


@query(
    "q_basket_lift",
    oracle=f"""
    WITH {_ORACLE_BASKETS},
    scal AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
    items AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY p),
    pc AS (
      SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT u, v, n_ab,
             CAST((n_ab * 1000000) // ia.c AS BIGINT) AS conf_ppm,
             {_LLIFT_MICRO.replace('c_a ', 'ia.c ').replace('c_b ', 'ib.c ')}
               AS llift_micro
      FROM pc
      JOIN items ia ON ia.p = pc.u
      JOIN items ib ON ib.p = pc.v
      CROSS JOIN scal
      WHERE n_ab >= {BASKET_MIN_SUPPORT}
    ),
    ranked AS (
      SELECT u, v, n_ab, conf_ppm, llift_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY llift_micro DESC, u, v)
                  AS BIGINT) AS rnk
      FROM scored
    )
    SELECT u, v, n_ab, conf_ppm, llift_micro, rnk FROM ranked
    WHERE rnk <= {BASKET_TOP_N}
    """,
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets — retail OLAP's
    classic: which part pairs co-occur in orders far above chance.
    Reports support (n_ab = co-occurrence count), directional
    confidence P(v|u) as integer ppm, and ln(lift) micro-quantized
    (lift = n_ab·N / (n_a·n_b); its log is the basket-level PMI, so
    ranking by llift ranks by lift — ln is monotone). Top-
    {BASKET_TOP_N} rules, total-ordered (llift DESC, u, v); rare-pair
    noise floored at support ≥ {BASKET_MIN_SUPPORT}.

    Distinct from q_graph_clustering/q_triangle_count (which consume
    the same co-purchase structure as an unweighted GRAPH): this key
    keeps the per-pair COUNTS — the statistics an association miner
    needs — and from q_text_collocations (PMI over adjacent token
    pairs): baskets are unordered sets, so pair generation is the
    capped in-array expansion, not adjacency.

    Exactness: all counts are integers; confidence is positive-only
    integer division (// and div agree); log-lift is ONE shared
    sum-of-logs expression micro-quantized on identical integers.

    Scale shape: baskets build with ONE groupBy(l_orderkey) (collect_set
    dedups in-agg; capped at MAX_BASKET_PARTS lowest part ids — the
    _copurchase_pairs degenerate-basket guard), localCheckpointed
    because THREE consumers read it (the order-count scalar, item
    counts, pair counts). Pair fan-out is in-array (bounded by
    C(cap,2) per order); pair counts and item counts are both
    map-side-combined groupBys; the two enrichment joins hit the
    part-domain-bounded item table (localCheckpointed — two join
    consumers); the final rank cut is a total-ordered row_number over
    the support-floored rule table (the collocations cut shape)."""
    li = load(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("l_partkey")), 1, MAX_BASKET_PARTS
            ).alias("parts")
        )
        .localCheckpoint()  # feeds the N scalar, item counts, pair counts
    )
    scal = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    items = (
        baskets.select(F.explode("parts").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # feeds two joins
    )
    pair_arrays = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, MAX_BASKET_PARTS),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pc = (
        baskets.select(F.explode(pair_arrays).alias("pr"))
        .select("pr.u", "pr.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    ia = items.select(F.col("p").alias("u"), F.col("c").alias("c_a"))
    ib = items.select(F.col("p").alias("v"), F.col("c").alias("c_b"))
    scored = (
        pc.join(ia, "u")
        .join(ib, "v")
        .crossJoin(F.broadcast(scal))
        .selectExpr(
            "u",
            "v",
            "n_ab",
            "CAST((n_ab * 1000000) div c_a AS BIGINT) AS conf_ppm",
            f"{_LLIFT_MICRO} AS llift_micro",
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.col("llift_micro").desc(), "u", "v"))
        .cast("long"),
    )
    return ranked.where(F.col("rnk") <= BASKET_TOP_N)
