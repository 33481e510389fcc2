"""sf1 soak of the five expensive graph keys (VERDICT r3 item 9).

Builds a 10x-scale dataset from the driver's sf0.1 fixtures — orders
and lineitem replicated 10 times with orderkey offsets (customers and
parts SHARED, so the derived customer-order-part graph densifies the
way real growth does instead of splitting into disjoint copies) — and
runs the expensive iterative keys against it, recording wall times.
Success implies each loop's converge-or-raise ceiling held at 10x
(the keys RAISE on non-convergence rather than return partials);
sssp/cc round depths are additionally recorded via the stats hook on
the underlying functions.

Scaled tables live under /tmp (never committed); unchanged tables are
symlinked from the sf0.1 fixture directory.

Usage: python tools/soak_sf1_keys.py [keys...]
Prints one JSON line; results are recorded in NEXT.md per round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from neo_olap_spark.registry import REGISTRY, queries
from neo_olap_spark.session import get_spark
from neo_olap_spark.tables import TABLES

SRC = "/root/testdata/sf0.1"
DST = "/tmp/neo_olap_sf1"
N_COPIES = 10
KEY_OFFSET = 10_000_000  # far above sf0.1's max o_orderkey (149 999)

DEFAULT_KEYS = [
    "q_graph_sssp",
    "q_connected_components",
    "q_pagerank",
    "q_betweenness_sample",
    "q_graph_clustering",
]


def build_sf1(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    for t in TABLES:
        if t in ("orders", "lineitem"):
            continue
        link = f"{DST}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    if os.path.exists(f"{DST}/lineitem.parquet/_SUCCESS"):
        return  # already built
    for t, keycols in (("orders", ["o_orderkey"]), ("lineitem", ["l_orderkey"])):
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = None
        for k in range(N_COPIES):
            c = df
            for col in keycols:
                c = c.withColumn(col, F.col(col) + F.lit(k * KEY_OFFSET))
            copies = c if copies is None else copies.unionByName(c)
        copies.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")


DOCS10_DIR = "/tmp/neo_olap_docs10"


def build_docs10(spark) -> str:
    """A second scaled fixture dir: documents replicated 10x with
    doc_id offsets (90% duplicate rate — worst case for the LSH bucket
    caps, since identical shingle sets pile into the same buckets);
    every other table symlinked from sf0.1 so the registered dedup
    keys run unchanged against it."""
    from pyspark.sql import functions as F

    os.makedirs(DOCS10_DIR, exist_ok=True)
    for t in TABLES:
        if t == "documents":
            continue
        link = f"{DOCS10_DIR}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    if not os.path.exists(f"{DOCS10_DIR}/documents.parquet/_SUCCESS"):
        docs = spark.read.parquet(f"{SRC}/documents.parquet")
        copies = None
        for k in range(N_COPIES):
            c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * KEY_OFFSET))
            copies = c if copies is None else copies.unionByName(c)
        copies.write.mode("overwrite").parquet(f"{DOCS10_DIR}/documents.parquet")
    return DOCS10_DIR


FULL_DIR = "/tmp/neo_olap_sf1_full"


def build_sf1_full(spark) -> str:
    """The whole-surface 10x fixture (VERDICT r4 item 4): every FACT
    table replicated 10x with disjoint key offsets — orders/lineitem by
    orderkey, events by (event_id, user_id) so per-user window/session
    state stays constant-size while group count grows 10x (the shape
    real growth has), documents by doc_id, embeddings by vec_id.
    Dimension tables (customer/part/supplier/nation/region) are shared
    via symlink, exactly like the graph soak — so joins densify rather
    than splitting into disjoint universes."""
    os.makedirs(FULL_DIR, exist_ok=True)
    scaled = {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t in TABLES:
        if t in scaled:
            continue
        link = f"{FULL_DIR}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    if os.path.exists(f"{FULL_DIR}/embeddings.parquet/_SUCCESS"):
        return FULL_DIR
    for t, keycols in scaled.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = None
        for k in range(N_COPIES):
            c = df
            for col in keycols:
                c = c.withColumn(col, F.col(col) + F.lit(k * KEY_OFFSET))
            copies = c if copies is None else copies.unionByName(c)
        copies.write.mode("overwrite").parquet(f"{FULL_DIR}/{t}.parquet")
    return FULL_DIR


def soak_waves(spark, qs, keys: list[str]) -> dict:
    """Two-point scaling measurement per key: run at sf0.1 then at the
    10x fixture IN THE SAME SESSION (the ±20% machine drift between
    sessions would swamp small keys), record the ratio and the implied
    scaling exponent log10(t10/t1). Keys faster than 2 s at 10x are
    tagged overhead_bound — their ratio measures JVM fixed costs, not
    data scaling, so the exponent is not evidence of super-linearity."""
    import math

    d10 = build_sf1_full(spark)
    out: dict = {}
    for key in keys:
        rec: dict = {}
        for tag, sf_dir in (("sf01_sec", SRC), ("sf1_sec", d10)):
            t0 = time.time()
            try:
                qs[key](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                rec[tag] = round(time.time() - t0, 2)
            except Exception as e:  # record, keep soaking
                rec[tag + "_err"] = f"{type(e).__name__}: {e}"[:160]
            spark.catalog.clearCache()
        if "sf01_sec" in rec and "sf1_sec" in rec and rec["sf01_sec"] > 0:
            rec["ratio"] = round(rec["sf1_sec"] / rec["sf01_sec"], 2)
            rec["exponent"] = round(math.log10(max(rec["ratio"], 0.01)), 2)
            rec["overhead_bound"] = rec["sf1_sec"] < 2.0
        out[key] = rec
    return out


DEDUP_KEYS = ["q_dedup_exact", "q_dedup_near", "q_dedup_simhash", "q_dedup_ngram"]


def soak_dedup_10x(spark, qs) -> dict:
    """Run the dedup keys at the 10x duplicate-saturated corpus: the
    claim under test is that the bucket/df caps keep wall time bounded
    when nearly everything is a duplicate, and the exact path finds
    each text in a multiple-of-10 group."""
    from pyspark.sql import functions as F

    d = build_docs10(spark)
    out: dict = {}
    # exact path first, with its invariant check — ONE aggregated job
    # so "sec" measures one run (same semantics as the other keys),
    # and guarded like them so a failure doesn't abort the soak
    t0 = time.time()
    try:
        exact = qs["q_dedup_exact"](spark, d)
        stats = exact.agg(
            F.count(F.lit(1)).alias("groups"),
            F.sum((F.col("n_copies") % N_COPIES != 0).cast("int")).alias("bad"),
        ).collect()[0]
        out["q_dedup_exact"] = {
            "groups": stats["groups"],
            "non_multiple_of_10": int(stats["bad"]),
            "sec": round(time.time() - t0, 1),
        }
    except Exception as e:  # record, keep soaking
        out["q_dedup_exact"] = {"err": f"{type(e).__name__}: {e}"[:160]}
    spark.catalog.clearCache()
    for key in DEDUP_KEYS[1:]:
        t0 = time.time()
        try:
            n = qs[key](spark, d).count()
            out[key] = {"rows": n, "sec": round(time.time() - t0, 1)}
        except Exception as e:  # record, keep soaking
            out[key] = {"err": f"{type(e).__name__}: {e}"[:160]}
        spark.catalog.clearCache()
    return out



def main() -> None:
    keys = sys.argv[1:] or DEFAULT_KEYS
    spark = get_spark(
        "neo-olap-soak-sf1", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    if keys == ["dedup10"]:
        print(json.dumps(soak_dedup_10x(spark, queries())))
        return
    if keys and keys[0] == "waves":
        import bench

        wave_keys = keys[1:] or [k for _, w in bench.WAVES[:3] for k in w]
        print(json.dumps(soak_waves(spark, queries(), wave_keys)))
        return
    t0 = time.time()
    build_sf1(spark)
    out: dict = {"build_sec": round(time.time() - t0, 1)}
    qs = queries()

    for key in keys:
        t0 = time.time()
        n = qs[key](spark, DST).count()  # converge-or-raise contract
        out[key] = {"rows": n, "sec": round(time.time() - t0, 1)}
        spark.catalog.clearCache()

    # round depths for the frontier loops, via the stats hook
    from neo_olap_spark.graph import edge_count_estimate, weighted_sym_edges
    from neo_olap_spark.operators.graph_algos import SSSP_MAX_ROUNDS, sssp

    st: dict = {}
    src0 = (
        spark.read.parquet(f"{DST}/customer.parquet")
        .agg(F.min("c_custkey"))
        .collect()[0][0]
    )
    t0 = time.time()
    sssp(
        weighted_sym_edges(spark, DST), sources=[int(src0)],
        max_rounds=SSSP_MAX_ROUNDS, n_edges=edge_count_estimate(spark, DST),
        stats=st,
    ).write.format("noop").mode("overwrite").save()
    out["sssp_depth"] = {
        "rounds": st.get("rounds"),
        "max_rounds": SSSP_MAX_ROUNDS,
        "sec": round(time.time() - t0, 1),
    }
    if REGISTRY:  # keep import referenced; registry already populated
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()

