"""Graph-algorithm invariants (SURVEY.md §5.3) on small fixtures.

The reference never tested its two analytics (R1/R2) — correctness was
eyeballed from printed top-10s (Runner.java:63). These tests close that
gap with structural invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo_olap_spark import tables
from neo_olap_spark.functions import prefix_sum
from neo_olap_spark.operators.graph_algos import (
    bfs_distances,
    betweenness_sample,
    random_walk_counts,
)


def test_dense_index_matches_global_rank(spark):
    # distributed two-phase index ≡ the single-task global window
    vals = [(v,) for v in [7, 3, 99, 42, 0, 15, 8, 23, 4, 100, 55]]
    df = spark.createDataFrame(vals, "node long")
    idx = prefix_sum(df, ["node"], "idx", n_parts=4)
    got = {r.node: r.idx - 1 for r in idx.collect()}
    want = {v: i for i, (v,) in enumerate(sorted(vals))}
    assert got == want


def _edges(spark, pairs):
    e = spark.createDataFrame(pairs, "src long, dst long")
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_bfs_path_graph(spark):
    # path 0-1-2-3-4: dist from 0 is the node id
    sym = _edges(spark, [(i, i + 1) for i in range(4)])
    src = spark.createDataFrame([(0, 0)], "tag long, node long")
    got = {r.node: r.dist for r in bfs_distances(sym, src, max_depth=10).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_counts_parallel_paths(spark):
    # diamond 0->{1,2}->3: two shortest paths to 3
    sym = _edges(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    src = spark.createDataFrame([(0, 0)], "tag long, node long")
    res = {
        r.node: (r.dist, r.npaths)
        for r in bfs_distances(sym, src, max_depth=5, count_paths=True).collect()
    }
    assert res[3] == (2, 2)
    assert res[1] == (1, 1) and res[2] == (1, 1)


def test_bfs_respects_max_depth(spark):
    sym = _edges(spark, [(i, i + 1) for i in range(6)])
    src = spark.createDataFrame([(0, 0)], "tag long, node long")
    got = bfs_distances(sym, src, max_depth=2)
    assert got.agg(F.max("dist")).first()[0] == 2


def test_walk_visit_conservation(spark, sf_dir):
    counts = random_walk_counts(spark, sf_dir, n_walkers=32, n_steps=5, seed=7)
    total = counts.agg(F.sum("visits")).first()[0]
    # every walker logs its start + one node per step
    assert total == 32 * (5 + 1)


def test_walk_deterministic(spark, sf_dir):
    a = random_walk_counts(spark, sf_dir, n_walkers=16, n_steps=4, seed=11)
    b = random_walk_counts(spark, sf_dir, n_walkers=16, n_steps=4, seed=11)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _isolated_fixture(src: str, dst) -> str:
    """Copy of ``src`` whose orders all belong to customers 0-2 and whose
    lineitems all reference parts 0-2: keys stay dense, but every other
    customer and part has no edge, so walkers land on dead ends."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from neo_olap_spark.tables import TABLES

    for t in TABLES:
        shutil.copyfile(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    for t, col in (("orders", "o_custkey"), ("lineitem", "l_partkey")):
        tbl = pq.read_table(f"{src}/{t}.parquet")
        i = tbl.schema.get_field_index(col)
        remapped = pa.array(tbl[col].to_numpy() % 3, type=tbl.schema.field(i).type)
        pq.write_table(tbl.set_column(i, col, remapped), dst / f"{t}.parquet")
    return str(dst)


def test_walk_broadcast_path_matches_loop_path(spark, sf_dir, monkeypatch, tmp_path):
    """The two walk paths agree with each other and with the DuckDB
    walk oracle on a graph where walkers teleport: the broadcast-
    adjacency walk (one job) and the streamed-adjacency loop (the
    at-scale shape). Only the join direction and the logging mechanism
    differ."""
    import neo_olap_spark.operators.graph_algos as ga
    from neo_olap_spark.testing import assert_parity

    d = _isolated_fixture(sf_dir, tmp_path)
    args = dict(n_walkers=24, n_steps=6, seed=3)
    adj, _, _, walkers = ga._walk_setup(spark, d, args["n_walkers"], args["seed"])
    dead_starts = walkers.join(adj.where(F.size("nbrs") == 0), F.col("node") == F.col("src"))
    assert dead_starts.count() > 0, "no walker teleports on the planted fixture"
    adj.unpersist()

    arms = {"broadcast": random_walk_counts(spark, d, **args)}
    monkeypatch.setattr(ga, "_adj_fits_broadcast", lambda *a, **k: False)
    arms["streamed"] = random_walk_counts(spark, d, **args)

    oracle = ga._random_walk_oracle(args["n_walkers"], args["n_steps"], args["seed"])
    rows = {}
    for name, df in arms.items():
        assert_parity(df, oracle, d)
        rows[name] = sorted(map(tuple, df.collect()))
    assert rows["broadcast"] == rows["streamed"]


def test_walk_rejects_non_dense_keys(spark, non_dense_sf_dir):
    """The walk's teleport address map is a closed form over dense
    0..n-1 keys; a fixture whose customer keys are shifted by one
    raises ValueError naming the table instead of walking."""
    with pytest.raises(ValueError, match="customer"):
        random_walk_counts(spark, non_dense_sf_dir, n_walkers=4, n_steps=2)


def test_betweenness_runs_and_deterministic(spark, sf_dir):
    a = betweenness_sample(spark, sf_dir, n_pairs=3, max_depth=4, seed=5)
    b = betweenness_sample(spark, sf_dir, n_pairs=3, max_depth=4, seed=5)
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb
    # interior counts are positive
    assert all(cnt > 0 for _, cnt in ra)


def test_pagerank_invariants(spark, sf_dir):
    from neo_olap_spark.operators.graph_algos import all_nodes, pagerank
    from neo_olap_spark.graph import edges, symmetrize

    sym = symmetrize(edges(spark, sf_dir))
    pr = pagerank(sym, all_nodes(spark, sf_dir), n_iters=4)
    rows = {r.node_id: r.rank for r in pr.collect()}
    n = len(rows)
    # damped power iteration preserves total mass: sum(rank) == n
    assert abs(sum(rows.values()) - n) < 1e-3 * n


def test_personalized_pagerank_invariants(spark):
    """PPR on a chain 0-1-2-3-4 seeded at {0}: (a) total rank stays
    n_nodes (teleport injects (1-d)·N, damping scales the rest — mass
    conserved, same as uniform); (b) the seed dominates and the near
    half of the chain outranks the far half (strict per-hop
    monotonicity does NOT hold at a fixed iteration count — mass
    propagates in parity waves on a chain, verified against a numpy
    power iteration: node 4 transiently outranks node 3 at 8 iters);
    (c) seeds=None reduces to classic PageRank (chain symmetry: ends
    equal, middle maximal)."""
    from neo_olap_spark.operators.graph_algos import pagerank

    sym = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    nodes = spark.createDataFrame([(i,) for i in range(5)], "node long")
    ppr = {
        r.node_id: r.rank
        for r in pagerank(sym, nodes, n_iters=8, seeds=[0]).collect()
    }
    assert abs(sum(ppr.values()) - 5) < 1e-3 * 5
    assert ppr[0] == max(ppr.values())
    assert min(ppr[0], ppr[1], ppr[2]) > max(ppr[3], ppr[4])
    # exact values pinned against an independent numpy power iteration
    assert ppr[0] == 1.639336 and ppr[4] == 0.400011
    uni = {
        r.node_id: r.rank for r in pagerank(sym, nodes, n_iters=8).collect()
    }
    assert uni[0] == uni[4] and uni[1] == uni[3]
    assert uni[2] >= uni[1] and uni[1] > uni[0]


def test_pagerank_star_hub_dominates(spark):
    from neo_olap_spark.operators.graph_algos import pagerank

    sym = _edges(spark, [(0, k) for k in range(1, 9)])
    nodes = spark.createDataFrame([(i,) for i in range(9)], "node long")
    pr = {r.node_id: r.rank for r in pagerank(sym, nodes, n_iters=6).collect()}
    assert pr[0] > max(pr[k] for k in range(1, 9)) * 2


def test_connected_components_fixture(spark):
    from neo_olap_spark.operators.graph_algos import connected_components

    # two disjoint cliques {0,1,2} and {10,11}, plus isolated 20
    sym = _edges(spark, [(0, 1), (1, 2), (0, 2), (10, 11)])
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 10, 11, 20]], "node long")
    got = {r.node_id: r.component for r in connected_components(sym, nodes).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20}


def test_triangle_count_planted_graphs(spark):
    from itertools import combinations

    from neo_olap_spark.operators.graph_algos import oriented_triangle_count

    # 5-clique (C(5,3)=10 triangles) ∪ disjoint 4-path (0 triangles)
    # ∪ one extra triangle sharing no edges with either
    clique = list(combinations(range(5), 2))
    path = [(10, 11), (11, 12), (12, 13), (13, 14)]
    tri = [(20, 21), (20, 22), (21, 22)]
    pairs = spark.createDataFrame(clique + path + tri, "u long, v long")
    n_edges, n_tri = oriented_triangle_count(pairs)
    assert n_edges == len(clique) + len(path) + len(tri)
    assert n_tri == 10 + 0 + 1


def test_triangle_count_hub_star(spark):
    # a star (hub 0 with 50 leaves) has many raw wedges but ZERO
    # triangles; degree orientation must return 0, not blow up
    from neo_olap_spark.operators.graph_algos import oriented_triangle_count

    pairs = spark.createDataFrame([(0, i) for i in range(1, 51)], "u long, v long")
    n_edges, n_tri = oriented_triangle_count(pairs)
    assert (n_edges, n_tri) == (50, 0)


def test_k_core_planted_graphs(spark):
    from neo_olap_spark.operators.graph_algos import k_core

    # path 0-1-2-3-4: 2-core is empty (endpoints peel, cascade inward)
    path = _edges(spark, [(i, i + 1) for i in range(4)])
    assert k_core(path, 2).count() == 0

    # 5-cycle: every node has degree 2 — the whole cycle survives
    cycle = _edges(spark, [(i, (i + 1) % 5) for i in range(5)])
    assert {r.node_id for r in k_core(cycle, 2).collect()} == set(range(5))

    # 4-clique with a pendant tail 100-101: tail peels, clique stays;
    # the clique is also the 3-core but not a 4-core
    from itertools import combinations

    clique = list(combinations(range(4), 2))
    g = _edges(spark, clique + [(0, 100), (100, 101)])
    assert {r.node_id for r in k_core(g, 2).collect()} == {0, 1, 2, 3}
    assert {r.node_id for r in k_core(g, 3).collect()} == {0, 1, 2, 3}
    assert k_core(g, 4).count() == 0


def test_k_core_power_law_hub_survives(spark):
    """Skewed fixture the symmetric graphs don't distinguish: a hub
    with 50 pendant leaves AND 4 clique neighbors. Peeling must strip
    the pendant fringe without cascading through the hub — its clique
    support keeps it in every core the clique is in."""
    from itertools import combinations

    from neo_olap_spark.operators.graph_algos import k_core

    clique = list(combinations(range(4), 2))          # 4-clique 0..3
    spokes = [(100, c) for c in range(4)]             # hub 100 -> clique
    fringe = [(100, 200 + i) for i in range(50)]      # 50 pendant leaves
    g = _edges(spark, clique + spokes + fringe)
    # 2-core: fringe peels, hub + clique stay
    assert {r.node_id for r in k_core(g, 2).collect()} == {0, 1, 2, 3, 100}
    # 4-core: clique nodes have 3 clique + 1 hub edges, hub has 4 —
    # exactly degree 4 each, all survive; 5-core is empty
    assert {r.node_id for r in k_core(g, 4).collect()} == {0, 1, 2, 3, 100}
    assert k_core(g, 5).count() == 0


def test_betweenness_star_hub_dominates(spark):
    """Power-law extreme: a star. Every leaf-to-leaf shortest path has
    exactly one interior node — the hub — so it must be the ONLY node
    credited, once per pair."""
    from neo_olap_spark.operators.graph_algos import betweenness_pair_counts

    sym = _edges(spark, [(0, k) for k in range(1, 21)])
    pairs = spark.createDataFrame(
        [(0, 1, 2), (1, 3, 4), (2, 5, 6)], "pair_id int, a long, b long"
    )
    got = {r.node_id: r.cnt for r in betweenness_pair_counts(sym, pairs, 4).collect()}
    assert got == {0: 3}


def test_betweenness_double_bridge_path_counts(spark):
    """Barbell with a 2-wide waist: 2-{0,1}-5-{10,11}-12. Four shortest
    paths, bridge node 5 on all of them, each waist node on two —
    the bridge strictly dominates and the counts are the Brandes
    products, not just 0/1 flags."""
    from neo_olap_spark.operators.graph_algos import betweenness_pair_counts

    edges = [(2, 0), (2, 1), (0, 5), (1, 5), (5, 10), (5, 11), (10, 12), (11, 12)]
    sym = _edges(spark, edges)
    pairs = spark.createDataFrame([(0, 2, 12)], "pair_id int, a long, b long")
    got = {r.node_id: r.cnt for r in betweenness_pair_counts(sym, pairs, 6).collect()}
    assert got == {0: 2, 1: 2, 5: 4, 10: 2, 11: 2}


def test_copurchase_basket_cap(spark, monkeypatch, tmp_path):
    """A degenerate mega-basket must be truncated to MAX_BASKET_PARTS
    lowest part ids before the pair self-join — bounding the quadratic
    blowup — while normal baskets pair in full."""
    from itertools import combinations

    from neo_olap_spark.operators import graph_algos

    mega = [(1, p) for p in range(100)]              # one 100-part order
    normal = [(2, p) for p in (500, 501, 502)]       # a 3-part order
    dup = [(2, 500)]                                 # duplicate line: must not double-pair
    # the declared lineitem layout; the columns the basket does not read are null
    spark.createDataFrame(
        [(o, p) + (None,) * 9 for o, p in mega + normal + dup],
        tables.SCHEMAS["lineitem"],
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    monkeypatch.setattr(graph_algos, "MAX_BASKET_PARTS", 8)
    pairs = graph_algos._copurchase_pairs(spark, str(tmp_path)).collect()
    got = {(r.u, r.v) for r in pairs}
    want = {(u, v) for u, v in combinations(range(8), 2)} | {
        (500, 501), (500, 502), (501, 502)
    }
    # capped: C(8,2)+C(3,2)=31 pairs, only the 8 LOWEST mega part ids
    assert got == want


def test_label_propagation_two_cliques(spark):
    """Two 5-cliques joined by a single bridge edge: after a few
    synchronous rounds every clique member carries its clique's
    minimum id, and the bridge does not merge the communities (a
    single cross-edge vote never outnumbers the in-clique majority)."""
    from itertools import combinations

    from neo_olap_spark.operators.graph_algos import label_propagation

    a = [(u, v) for u, v in combinations(range(5), 2)]
    b = [(u, v) for u, v in combinations(range(10, 15), 2)]
    bridge = [(4, 10)]
    e = _edges(spark, a + b + bridge)
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(5)) + list(range(10, 15))], "node long"
    )
    got = {
        r["node_id"]: r["community"]
        for r in label_propagation(e, nodes, n_rounds=4).collect()
    }
    assert all(got[i] == 0 for i in range(5)), got
    assert all(got[i] == 10 for i in range(10, 15)), got


def test_label_propagation_isolated_node_keeps_label(spark):
    """A node with no edges keeps its own id through every round."""
    from neo_olap_spark.operators.graph_algos import label_propagation

    e = _edges(spark, [(0, 1)])
    nodes = spark.createDataFrame([(0,), (1,), (99,)], "node long")
    got = {
        r["node_id"]: r["community"]
        for r in label_propagation(e, nodes, n_rounds=3).collect()
    }
    assert got[99] == 99
    # the 0-1 pair swaps labels every synchronous round (the canonical
    # LPA oscillation); after an odd round count they are swapped —
    # deterministic, which is exactly what the fixed round count buys
    assert got[0] == 1 and got[1] == 0


def test_sssp_prefers_cheap_long_path(spark):
    """Weighted SSSP must take the 3-hop cost-3 path over the 1-hop
    cost-10 edge — the exact case hop-BFS gets wrong — and must
    relax nodes even after first arrival."""
    from neo_olap_spark.operators.graph_algos import sssp

    edges = spark.createDataFrame(
        [
            (0, 1, 10),  # direct but expensive
            (0, 2, 1), (2, 3, 1), (3, 1, 1),  # long but cheap
            (1, 4, 1),
        ],
        "src long, dst long, w long",
    )
    sym = edges.unionAll(edges.selectExpr("dst as src", "src as dst", "w"))
    dist = {r["node"]: r["dist"] for r in sssp(sym, [0], max_rounds=10).collect()}
    assert dist == {0: 0, 1: 3, 2: 1, 3: 2, 4: 4}


def test_sssp_raises_when_ceiling_too_low(spark):
    """A chain longer than the round ceiling must RAISE, never return
    partial distances (the convergence safety contract)."""
    import pytest as _pytest

    from neo_olap_spark.operators.graph_algos import sssp

    chain = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(6)], "src long, dst long, w long"
    )
    sym = chain.unionAll(chain.selectExpr("dst as src", "src as dst", "w"))
    with _pytest.raises(RuntimeError, match="did not converge"):
        sssp(sym, [0], max_rounds=3)


def test_sssp_multi_source_matches_single_sources(spark):
    """The multi-source answer must be row-identical to running each
    source alone: sources never interact, which is what makes one
    batched loop exact. Source 0 sits on a deep chain; source 100 is
    a 1-hop star that converges rounds earlier and rides the batch's
    remaining rounds."""
    from neo_olap_spark.operators.graph_algos import sssp

    chain = [(i, i + 1, 1) for i in range(8)]          # depth-8 from 0
    star = [(100, 101, 1), (100, 102, 1)]              # depth-1 from 100
    edges = spark.createDataFrame(
        chain + star, "src long, dst long, w long"
    )
    sym = edges.unionAll(edges.selectExpr("dst as src", "src as dst", "w"))
    multi = {
        (r.source, r.node): r.dist
        for r in sssp(sym, [0, 100], max_rounds=20).collect()
    }
    singles: dict = {}
    for s in (0, 100):
        singles.update({
            (r.source, r.node): r.dist
            for r in sssp(sym, [s], max_rounds=20).collect()
        })
    assert multi == singles


def test_ckpt_dir_snapshots_survive_lost_blocks(
    spark, sf_dir, tmp_path, lose_blocks, monkeypatch
):
    """The one durable checkpoint policy is the loop driver's
    ``ckpt_dir``: every round's state is snapshotted to parquet and
    read back, so no later round reads a local-checkpoint block. With
    every block persisted since the loop began lost after each round's
    snapshot, PageRank (uniform and personalized) and the walk must
    return exactly the rows of a plain run."""
    from neo_olap_spark.graph import edge_count_estimate, edges, symmetrize
    from neo_olap_spark.operators import graph_algos as ga

    seeds = [
        int(r[0])
        for r in tables.load(spark, sf_dir, "customer")
        .select("c_custkey").orderBy("c_custkey").limit(ga.PPR_SEEDS).collect()
    ]

    def run_all(ckpt=None):
        def where(label):
            return ckpt and str(tmp_path / label)

        out = {
            label: sorted(map(tuple, ga.pagerank(
                symmetrize(edges(spark, sf_dir)), ga.all_nodes(spark, sf_dir),
                n_iters=4, n_edges=edge_count_estimate(spark, sf_dir),
                seeds=variant, ckpt_dir=where(label),
            ).collect()))
            for label, variant in (("pagerank", None), ("personalized", seeds))
        }
        out["walk"] = sorted(map(tuple, random_walk_counts(
            spark, sf_dir, n_walkers=32, n_steps=8, seed=42, ckpt_dir=where("walk"),
        ).collect()))
        return out

    plain = run_all()
    real = ga.write_round
    lost = []

    def write_then_lose(dfs, base, step):
        real(dfs, base, step)
        lost.append(lose_blocks())

    monkeypatch.setattr(ga, "write_round", write_then_lose)
    lose_blocks(drop=False)  # the plain runs' blocks
    assert run_all(ckpt=True) == plain
    # every round of the three loops lost its blocks
    assert len(lost) == 4 + 4 + 8 and all(lost), lost


def test_sssp_two_hop_raises_when_ceiling_too_low(spark):
    """The raise contract holds under multi-hop checks when the
    ceiling lands on a scheduled check: max_rounds is a multiple of
    HOPS_PER_CHECK, so the last relaxation's check is also a regular
    one, and a chain deeper than the ceiling still raises.
    (test_sssp_raises_when_ceiling_too_low covers an odd ceiling,
    where the last relaxation forces an off-schedule check.)"""
    import pytest as _pytest

    from neo_olap_spark.operators.graph_algos import HOPS_PER_CHECK, sssp

    chain = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(6)], "src long, dst long, w long"
    )
    sym = chain.unionAll(chain.selectExpr("dst as src", "src as dst", "w"))
    assert 4 % HOPS_PER_CHECK == 0
    with _pytest.raises(RuntimeError, match="did not converge"):
        sssp(sym, [0], max_rounds=4)


def test_hits_role_separation(spark, sf_dir):
    """On the directed customer->order->part graph, customers have no
    in-edges (pure hubs: authority exactly 0) and parts no out-edges
    (pure authorities: hub exactly 0); both score vectors L1-normalize
    to n_nodes."""
    from neo_olap_spark.graph import PART_OFFSET, ORDER_OFFSET
    from neo_olap_spark.operators.graph_algos import q_graph_hits

    rows = q_graph_hits(spark, sf_dir).collect()
    n = len(rows)
    assert abs(sum(r.hub for r in rows) - n) < 1e-2 * n
    assert abs(sum(r.auth for r in rows) - n) < 1e-2 * n
    for r in rows:
        if r.node_id < ORDER_OFFSET:  # customer
            assert r.auth == 0.0, r
        elif r.node_id >= PART_OFFSET:  # part
            assert r.hub == 0.0, r
    # the mutually-reinforcing scores are non-trivial on both sides
    assert max(r.hub for r in rows) > 0 and max(r.auth for r in rows) > 0


def test_hits_planted_numpy_pinned(spark):
    """HITS on a tiny directed graph, pinned against an independent
    numpy power iteration (same L1-to-n normalization each half-step):
    0,1 point at {2,3},{3,4}; 2 points at 4 — so 1 is the best hub
    (its targets are the strongest authorities) and 3 the best
    authority. Values compared at one 1e-5 quantum of tolerance (the
    output grid) — the engines' 3-term sums match numpy's to the last
    ulp but the pin shouldn't hinge on it."""
    import neo_olap_spark.graph as g
    import neo_olap_spark.operators.graph_algos as ga

    e = spark.createDataFrame(
        [(0, 2), (0, 3), (1, 3), (1, 4), (2, 4)], "src long, dst long"
    )
    n = spark.createDataFrame([(i,) for i in range(5)], "node long")
    orig = (g.directed_edges, ga.all_nodes, g.edge_count_estimate)
    g.directed_edges = lambda _s, _d: e
    ga.all_nodes = lambda _s, _d: n
    g.edge_count_estimate = lambda _s, _d: 5
    try:
        got = {
            r.node_id: (r.hub, r.auth)
            for r in ga.q_graph_hits(spark, "unused").collect()
        }
    finally:
        g.directed_edges, ga.all_nodes, g.edge_count_estimate = orig
    want = {
        0: (1.78374, 0.0),
        1: (2.22544, 0.0),
        2: (0.99082, 0.98958),
        3: (0.0, 2.22488),
        4: (0.0, 1.78554),
    }
    for node, (h, a) in want.items():
        assert abs(got[node][0] - h) <= 1e-5, (node, got[node])
        assert abs(got[node][1] - a) <= 1e-5, (node, got[node])


def test_edge_count_hint_releases_cache_on_failure(spark):
    """_graph_loop owns the loop's edge cache: the src-partitioned,
    persisted frame it yields is released even when the loop body
    raises, and the AQE and width settings are restored on that path.
    Every loop runs with AQE off; the width is 1 partition per 200k
    estimated edges up to 8, then 1 per 2M; n_edges=None keeps the
    session's width without running a job."""
    import pytest

    from neo_olap_spark.operators.graph_algos import _graph_loop

    aqe, width = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    before = {k: spark.conf.get(k) for k in (aqe, width)}
    assert before[aqe] == "true"
    for n_edges, want in ((15_000, "1"), (1_500_000, "8"), (7_500_000, "8")):
        with _graph_loop(spark, n_edges):
            assert (spark.conf.get(aqe), spark.conf.get(width)) == ("false", want)
    df = spark.range(100).selectExpr("id AS src", "id + 1 AS dst")
    with pytest.raises(RuntimeError, match="boom"):
        with _graph_loop(spark, 100_000_000, df) as cached:
            assert cached.storageLevel.useMemory  # persisted for reuse
            assert "hashpartitioning(src" in (
                cached._jdf.queryExecution().executedPlan().toString()
            )
            assert spark.conf.get(aqe) == "false"
            assert spark.conf.get(width) == "50"  # 1e8 edges / 2M per partition
            raise RuntimeError("boom")
    assert not cached.storageLevel.useMemory  # released on the error path
    assert {k: spark.conf.get(k) for k in (aqe, width)} == before

    sc = spark.sparkContext
    group = "graph_loop_no_hint"
    sc.setJobGroup(group, group)
    try:
        with _graph_loop(spark, None, df) as cached:
            assert spark.conf.get(aqe) == "false"
            assert spark.conf.get(width) == before[width]
        with _graph_loop(spark, None) as none:
            assert none is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not cached.storageLevel.useMemory
    assert {k: spark.conf.get(k) for k in (aqe, width)} == before
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def _loop_frames(spark, sf_dir):
    from neo_olap_spark import graph as g

    return {
        "sym_edges": g.sym_edges(spark, sf_dir),
        "weighted_sym_edges": g.weighted_sym_edges(spark, sf_dir),
        "directed_edges": g.directed_edges(spark, sf_dir),
    }


@pytest.mark.parametrize("aqe", [True, False])
def test_loop_edge_frames_plan_one_exchange(spark, sf_dir, aqe):
    """Every edge frame a graph loop caches is built with ONE exchange,
    _graph_loop's own repartition("src") included: the frame is
    src-partitioned before its dedupe, so the dedupe and the loop's
    repartition add none (the symmetrize-then-dedupe form planned 3,
    the directed distinct 2). ``aqe`` is the session's setting on
    entry: the loop turns AQE off whatever it was, so the plan is the
    same either way, and the setting is back on exit."""
    import re

    from neo_olap_spark.operators.graph_algos import _graph_loop
    from neo_olap_spark.plans import plan_str

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, str(aqe).lower())
    try:
        for name, frame in _loop_frames(spark, sf_dir).items():
            with _graph_loop(spark, 1_000_000, frame) as cached:
                assert spark.conf.get(key) == "false"
                p = plan_str(cached, "simple")
            assert spark.conf.get(key) == str(aqe).lower()
            assert len(re.findall(r"\bExchange ", p)) == 1, (name, p)
            assert "ReusedExchange" not in p, (name, p)
    finally:
        spark.conf.set(key, before)


def test_loop_edge_frames_equal_edges_multisets(spark, sf_dir):
    """The one-exchange loop frames equal the derived graph built the
    dedupe-first way, as multisets: symmetrize(edges()), edges(), and
    the weighted list with each order→part edge's min line quantity,
    symmetrized."""
    from neo_olap_spark.graph import ORDER_OFFSET, PART_OFFSET, edges, symmetrize
    from neo_olap_spark.tables import load

    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.min("l_quantity").cast("long").alias("w"))
        .select(
            (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
            (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
            "w",
        )
    )
    w = o.unionAll(li)
    want = {
        "sym_edges": symmetrize(edges(spark, sf_dir)),
        "weighted_sym_edges": w.unionAll(w.selectExpr("dst AS src", "src AS dst", "w")),
        "directed_edges": edges(spark, sf_dir),
    }
    for name, got in _loop_frames(spark, sf_dir).items():
        assert got.columns == want[name].columns, name
        assert got.count() == want[name].count() > 0, name
        assert got.exceptAll(want[name]).isEmpty(), name
        assert want[name].exceptAll(got).isEmpty(), name


def test_derived_graph_sql_has_one_definition():
    """The derived graph's oracle SQL is defined once: the edge and
    node-list SQL in neo_olap_spark/graph.py, the basket-pair SQL in
    operators/graph_algos.py. Every other oracle composes those
    fragments; a re-typed copy drifts from them unnoticed."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "neo_olap_spark")
    owners = {
        # plain and weighted edges
        r"o_custkey AS src,\s*\{": ("graph.py", 2),
        r"c_custkey AS node FROM customer": ("graph.py", 1),
        r"PARTITION BY l_orderkey ORDER BY l_partkey": (
            os.path.join("operators", "graph_algos.py"), 1,
        ),
    }
    found = {pat: {} for pat in owners}
    for dirpath, _, filenames in os.walk(pkg):
        for name in filenames:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for pat in owners:
                n = len(re.findall(pat, text))
                if n:
                    found[pat][os.path.relpath(path, pkg)] = n
    for pat, (owner, n) in owners.items():
        assert found[pat] == {owner: n}, (pat, found[pat])
