"""Similarity search over the ``embeddings`` table (north star surface).

Two paths, mirroring how a 100 TB pipeline would tier them:

- brute-force cosine top-k (oracle-checked): broadcast the query set,
  score every corpus vector with a codegen'd expression, take top-k
  per query with a window — exact, O(corpus) per query batch, the
  right answer when the query set is small.
- IVF-style ANN (rows-only): coarse-quantize the corpus against a
  deterministic centroid set, probe only the closest nprobe cells —
  the scale path: the corpus is partitioned by cell, and a query
  touches nprobe/ncells of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve by
# name under `from __future__ import annotations` (NEXT.md landmine 6)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import cents, cents_sql, local_rows_frame, trunc_div_sql
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load

TOP_K = 10
N_QUERIES = 5
N_CELLS = 16
N_PROBE = 4


def brute_force_topk(corpus: DataFrame, queries_df: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k: broadcast queries, score all, window top-k.
    Tie-break (rounded sim desc, vec_id asc) keeps results total-ordered."""
    from neo_olap_spark.functions import dot, norm

    q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),
    )
    c = corpus.select(
        F.col("vec_id"), F.col("embedding").alias("ce"), norm(F.col("embedding")).alias("cn")
    )
    # norms per vector, dot per pair (folds are interpreted — see dedup)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


@query(
    "q_sim_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id,
             ROUND(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (TOP_K=10) for the N_QUERIES=5 query vectors."""
    e = load(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.where(F.col("vec_id") < N_QUERIES), TOP_K)


KNN_K = 5


@query(
    "q_embed_knn_graph",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id, b.vec_id AS nbr_id,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, nbr_id) AS rank
      FROM scored
    )
    SELECT vec_id, nbr_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {KNN_K}
    """,
)
def q_embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph (k=5) over the embedding corpus, blocked by
    label — every vector's 5 nearest same-label neighbors by cosine,
    with deterministic tie-break (rounded cosine desc, neighbor id
    asc). The k-NN graph is the bridge from similarity search to
    graph analytics: its edges feed community detection / LPA /
    connected-components for semantic clustering, and mutual-kNN
    edges are the standard graph-based near-dup signal.

    Shape: pair scoring is quadratic WITHIN a block by construction
    (the q_dedup_embed precedent — blocking keys the pair space; at
    100 TB the block is an IVF cell or LSH bucket from the ANN tier
    and this same ranking runs per cell). Scoring runs in the Arrow
    cosine kernel (one einsum per batch, no per-row Python); ranking
    is row_number over (vec_id) with the rank<=k filter, which Spark
    plans as WindowGroupLimit — only k rows per vector survive the
    rank shuffle. Ranking uses the ROUNDED cosine so both engines
    order identically (the q_sim_search contract).

    Residual risk (ADVICE r7): F.round here vs the oracle's ROUND —
    differing summation order in the two engines' cosine kernels plus
    differing half-way rounding could flip a rank tie if a true cosine
    lands within an ulp of a 1e-6 boundary. Parity passes at every
    fixture; if a boundary hit ever surfaces, switch BOTH sides to the
    repo's shared FLOOR(x*1e6+0.5)/1e6 expression (the HITS/PSI
    pattern) instead of engine-native round."""
    from neo_olap_spark.operators.llm_dedup import cosine_pairs_kernel

    e = load(spark, sf_dir, "embeddings")
    a = e.select("vec_id", "label", F.col("embedding").alias("ea"))
    b = e.select(
        F.col("vec_id").alias("nbr_id"), "label", F.col("embedding").alias("eb")
    )
    cos = cosine_pairs_kernel()
    scored = (
        a.join(b, "label")
        .where(F.col("vec_id") != F.col("nbr_id"))
        .withColumn("cos_sim", F.round(cos("ea", "eb"), 6))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select(
            "vec_id", "nbr_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


KMEANS_SAMPLE_CAP = 10_000
KMEANS_ITERS = 10


def _kmeans_centroids(
    corpus_n: DataFrame,
    n_cells: int,
    seed: int,
    sample_cap: int = KMEANS_SAMPLE_CAP,
    n_iters: int = KMEANS_ITERS,
):
    """Spherical k-means centroids, fit driver-side on a deterministic
    hash-sample (the sample_cap vectors with the lowest xxhash64).

    The collect is bounded at O(sample_cap), never O(corpus) — the
    at-scale shape: a fixed-size sample fits a codebook the whole
    corpus is then quantized against distributedly. Determinism: init
    = the first n_cells sample vectors in hash order, fixed Lloyd
    iteration count, argmax ties to the lowest cell index. Returns a
    list of unit-norm centroid rows (cell, cent, cent_n=1.0).
    """
    import numpy as np

    sample = (
        corpus_n.withColumn("h", F.xxhash64("vec_id", F.lit(seed)))
        .orderBy("h")
        .limit(sample_cap)
        .select("embedding")
        .collect()
    )
    X = np.stack([r.embedding for r in sample]).astype(np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    C = X[: min(n_cells, len(X))].copy()
    for _ in range(n_iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    C[c] = v / nv
    return [(i + 1, [float(x) for x in C[i]], 1.0) for i in range(len(C))]


QUANT_MAX = 127  # symmetric int8 range (same scheme as q_embed_quantize)
RESCORE_FACTOR = 4  # candidate pool = RESCORE_FACTOR * k per query


def _dot_int(a, b):
    """Integer dot product of two int array columns, accumulated in
    long — int8 products can't overflow a 64-bit sum until ~5e14
    dimensions."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _quantize(emb):
    """(scale, int8-array) pair for a float embedding column —
    q_embed_quantize's scheme: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5). Engine-portable floor(x+.5)
    rounding, zero vectors get scale 0 and an all-zero code."""
    max_abs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        max_abs > 0,
        F.transform(
            emb,
            lambda x: F.floor(x.cast("double") * QUANT_MAX / max_abs + 0.5).cast("int"),
        ),
    ).otherwise(F.transform(emb, lambda x: F.lit(0)))
    return (max_abs / QUANT_MAX).alias("scale"), q


def ivf_topk(
    corpus: DataFrame,
    queries_df: DataFrame,
    k: int,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    seed: int = 42,
    centroids: str = "kmeans",
    quantized: bool = False,
    rescore_factor: int = RESCORE_FACTOR,
) -> DataFrame:
    """IVF-style ANN: a centroid codebook coarse-quantizes the corpus;
    every vector is assigned to its nearest centroid; a query probes
    its n_probe nearest cells and brute-forces only those.

    centroids="kmeans" (default) fits a spherical k-means codebook on
    a bounded deterministic sample (_kmeans_centroids) — better cell
    balance and recall than raw sampling at equal n_probe (asserted in
    tests/test_llm_ops.py). centroids="hash" keeps the cheaper tier:
    the n_cells corpus vectors with the lowest xxhash64.

    quantized=True is the production memory shape (IVF-SQ8): the cell
    scan reads int8 codes + one scale per vector (4× smaller than
    float32, 8× than float64), ranks a candidate pool of
    rescore_factor·k per query by approximate int-dot cosine, then
    rescores ONLY the pool at full precision — the full-width
    embedding column is fetched for ≤ rescore_factor·k·n_queries rows
    instead of every probed-cell row.
    """
    from neo_olap_spark.functions import dot, norm, numbered_sample

    spark = corpus.sparkSession
    # norms precomputed per vector/centroid once — cosine() would
    # re-fold both norms per PAIR (see brute_force_topk)
    corpus_n = corpus.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("vn")
    )
    if centroids == "kmeans":
        cents = local_rows_frame(
            spark,
            _kmeans_centroids(corpus_n, n_cells, seed),
            "cell int, cent array<double>, cent_n double",
        )
    else:
        cents = numbered_sample(
            corpus_n.withColumn("h", F.xxhash64("vec_id", F.lit(seed))),
            n_cells, "h", "_cell0",
        ).select(
            (F.col("_cell0") + 1).alias("cell"),
            F.col("embedding").alias("cent"),
            F.col("vn").alias("cent_n"),
        )
    # assign corpus vectors to nearest centroid (cells broadcast twice:
    # once for assignment, once for probing — both tiny)
    sim_to_cent = dot(F.col("embedding"), F.col("cent")) / (F.col("vn") * F.col("cent_n"))
    assign_w = W.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("cell"))
    assigned = (
        corpus_n.crossJoin(F.broadcast(cents))
        .withColumn("cs", sim_to_cent)
        .withColumn("rn", F.row_number().over(assign_w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "vn", "cell")
    )
    probes = (
        queries_df.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm(F.col("embedding")).alias("qn"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("cs", dot(F.col("qe"), F.col("cent")) / (F.col("qn") * F.col("cent_n")))
        .withColumn("rn", F.row_number().over(
            W.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("cell"))))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qe", "qn", "cell")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    if not quantized:
        scored = (
            probes.join(assigned, "cell")
            .where(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "cos_sim",
                F.round(
                    dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("vn")), 6
                ),
            )
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")
            )
        )

    # --- IVF-SQ8 tier: int8 cell scan, full-precision rescore ---
    c_scale, c_code = _quantize(F.col("embedding"))
    qcorpus = assigned.select(
        "vec_id", "cell", "vn", c_scale.alias("c_scale"), c_code.alias("c_code")
    )
    q_scale, q_code = _quantize(F.col("qe"))
    qprobes = probes.select(
        "query_id", "qn", "cell", q_scale.alias("q_scale"), q_code.alias("q_code")
    )
    # approximate cosine: int-dot · both dequant scales / true norms;
    # only used to RANK the pool, so quantization error never reaches
    # the reported similarity
    pool_w = W.partitionBy("query_id").orderBy(F.col("approx").desc(), F.col("vec_id"))
    pool = (
        qprobes.join(qcorpus, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "approx",
            _dot_int(F.col("q_code"), F.col("c_code"))
            * F.col("q_scale") * F.col("c_scale") / (F.col("qn") * F.col("vn")),
        )
        .withColumn("prn", F.row_number().over(pool_w))
        .where(F.col("prn") <= rescore_factor * k)
        .select("query_id", "vec_id")
    )
    # fetch full-width vectors for the pool only; exact cosine there
    full_q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),
    )
    rescored = (
        pool.join(corpus_n, "vec_id")
        .join(F.broadcast(full_q), "query_id")
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("vn")), 6
            ),
        )
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


ANN_VERDICT_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id,
             ROUND(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id,
           MAX(CASE WHEN rank = 1 THEN vec_id END) AS exact_top1_id,
           MAX(CASE WHEN rank = 1 THEN cos_sim END) AS exact_top1_sim,
           TRUE AS recall_ok
    FROM ranked GROUP BY query_id
    """


def _ann_verdict(
    spark: SparkSession, sf_dir: str, ann_fn, recall_floor: float
) -> DataFrame:
    """Hash-checkable ANN verdict (the tolerance-oracle pattern): the
    candidate set depends on hyperplanes / a fitted codebook DuckDB
    cannot replay, but the EXACT top-k is cross-engine (q_sim_search's
    oracle already hash-matches), so each query emits exact anchors
    (top-1 id + similarity, engine-exact at 6 decimals) plus a
    recall@k boolean the oracle answers TRUE. Both ANN tiers are fully
    deterministic at a fixed SF (seeded sample / hyperplanes, fixed
    Lloyd iterations, tie-broken ranks), so the boolean is a constant
    of the dataset, not a flaky measurement; the floor sits well under
    the measured recall (tests/test_llm_ops.py measures the margins)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(e, q, TOP_K)
    ann = ann_fn(e, q, TOP_K)
    # the tier's contract is AGGREGATE recall over the query set (a
    # single query may legitimately land in thin buckets), so the
    # boolean keys on the mean — one tiny scalar, cross-joined onto
    # the per-query anchor rows
    hits = ann.select("query_id", "vec_id").join(
        exact.select("query_id", "vec_id"), ["query_id", "vec_id"]
    )
    mean_ok = hits.agg(
        (F.count("*") / F.lit(N_QUERIES * TOP_K) >= recall_floor).alias(
            "recall_ok"
        )
    )
    top1 = exact.where(F.col("rank") == 1).select(
        "query_id",
        F.col("vec_id").alias("exact_top1_id"),
        F.col("cos_sim").alias("exact_top1_sim"),
    )
    return top1.crossJoin(F.broadcast(mean_ok)).select(
        "query_id", "exact_top1_id", "exact_top1_sim", "recall_ok"
    )


@query("q_sim_ann_ivf", oracle=ANN_VERDICT_ORACLE)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 approximate top-k (TOP_K=10): k-means cells,
    int8-quantized cell scan, full-precision rescore of a 4·k pool —
    the production ANN memory shape (the hot scan reads 4× less than
    float32). ORACLE-BACKED verdict: exact top-1 anchors re-derived by
    DuckDB + mean-recall@10 ≥ 0.35 boolean (measured 0.48-0.62 across
    SFs; deterministic seeded codebook). The raw (query_id, vec_id,
    cos_sim, rank) operator stays available as ivf_topk; recall vs
    q_sim_search and vs the full-precision tier is asserted in
    tests/test_llm_ops.py."""
    return _ann_verdict(
        spark,
        sf_dir,
        lambda e, q, k: ivf_topk(e, q, k, quantized=True),
        recall_floor=0.35,
    )


LSH_TABLES, LSH_BITS = 12, 4
LSH_SEED = 42
LSH_MAX_BUCKET = 1024  # same degenerate-bucket cap pattern as llm_dedup


def _hyperplanes(dim: int, n_tables: int, n_bits: int, seed: int):
    """Deterministic random hyperplanes (n_tables × n_bits × dim),
    standard-normal via a seeded generator — the signing directions
    for cosine LSH (SRP: sign(h·x) preserves angle locality)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    H = rng.standard_normal((n_tables, n_bits, dim))
    return [[[float(x) for x in bits] for bits in table] for table in H]


def _lsh_buckets_kernel(planes):
    """Arrow-batched bucket kernel: ALL n_tables × n_bits hyperplane
    sign tests in one numpy matmul per batch (the §7.4 exception,
    same rationale as cosine_pairs_kernel). The Catalyst form — 48
    higher-order-function dot folds per row — was dominated by
    analysis + interpreted per-element evaluation of a ~3000-node
    expression tree: measured 3.3 s per signature pass over a 2000-row
    corpus at sf0.1, and lsh_topk builds two passes (corpus + queries).
    The matmul batch is E(n×d) @ M(d×T·B) → sign bits → packed bucket
    ints: same semantics (bit b set iff dot(e, plane[t][b]) ≥ 0);
    float summation order differs from the sequential fold only in the
    last bits, which can flip a sign only for a vector lying within
    ~1e-15 of a hyperplane — the recall floors hold with ≥0.2 margin
    and determinism across runs is preserved (fixed numpy order).
    Built lazily: pandas_udf resolves types against the active
    session."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # T × B × D
    n_tables, n_bits, _ = P.shape
    M = P.reshape(n_tables * n_bits, -1).T  # D × (T·B)
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def buckets(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            # np.stack raises on an empty sequence; Spark normally
            # skips empty partitions but a zero-row Arrow batch must
            # return empty, not crash
            return pd.Series([], dtype=object)
        E = np.stack(col.to_numpy()).astype(np.float64)
        signs = (E @ M >= 0).astype(np.int64)
        packed = (signs.reshape(len(E), n_tables, n_bits) * weights).sum(axis=2)
        return pd.Series(list(packed))

    return buckets


def lsh_signatures(
    vecs: DataFrame,
    dim: int,
    n_tables: int = LSH_TABLES,
    n_bits: int = LSH_BITS,
    seed: int = LSH_SEED,
) -> DataFrame:
    """(vec_id, table, bucket) hyperplane-LSH signatures: per table,
    the bucket is the n_bits sign-pattern of the vector against that
    table's hyperplanes, packed into an int. One Arrow-vectorized
    projection pass over the corpus (_lsh_buckets_kernel) — the
    signature build never shuffles; only consumers key on
    (table, bucket)."""
    buckets = _lsh_buckets_kernel(_hyperplanes(dim, n_tables, n_bits, seed))
    return vecs.select(
        "vec_id", F.posexplode(buckets(F.col("embedding")))
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("table"),
        F.col("col").alias("bucket"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries_df: DataFrame,
    k: int,
    n_tables: int = LSH_TABLES,
    n_bits: int = LSH_BITS,
    seed: int = LSH_SEED,
) -> DataFrame:
    """Approximate cosine top-k via sign-random-projection LSH: a
    query's candidates are the corpus vectors sharing a bucket in ANY
    of the n_tables hash tables; candidates are exact-rescored and
    the top k kept (same output schema as brute_force_topk, so recall
    is directly measurable — asserted in tests/test_llm_ops.py).

    Scale shape: the corpus signature build is one shuffle-free
    projection pass; candidate generation is an equi-join on (table,
    bucket) — the 100 TB path partitions the corpus by bucket so a
    query touches only its buckets' shards, ~n_tables/2^n_bits of the
    data on a balanced table. Bit count is a RECALL/COST dial set by
    the corpus's neighbor-similarity profile: this synthetic corpus's
    nearest neighbors sit at cos≈0.3 (near-orthogonal), so 4 bits/12
    tables is what reaches 0.8 recall (measured; 8 bits drops to
    0.2); a real text-embedding corpus with neighbors at cos≥0.8
    supports 16+ bits and a ~L/65536 candidate fraction. Buckets larger than LSH_MAX_BUCKET are
    DROPPED before the join (a near-constant direction at web scale
    would otherwise funnel the corpus through one reducer — the same
    hazard and the same cap as the MinHash/SimHash dedup tiers;
    recall degrades gracefully because an overfull bucket carries
    almost no angular information anyway)."""
    from neo_olap_spark.functions import dot, norm

    dim = len(corpus.select("embedding").first()["embedding"])
    csig = lsh_signatures(corpus, dim, n_tables, n_bits, seed)
    bucket_sizes = csig.groupBy("table", "bucket").agg(F.count("*").alias("n"))
    ok_buckets = bucket_sizes.where(F.col("n") <= LSH_MAX_BUCKET).select(
        "table", "bucket"
    )
    csig = csig.join(F.broadcast(ok_buckets), ["table", "bucket"], "left_semi")
    qsig = lsh_signatures(queries_df, dim, n_tables, n_bits, seed).withColumnRenamed(
        "vec_id", "query_id"
    )
    cand = (
        csig.join(qsig.hint("broadcast"), ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qn"),
    )
    c = corpus.select(
        "vec_id", F.col("embedding").alias("ce"), norm(F.col("embedding")).alias("cn")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "vec_id")
        .withColumn(
            "cos_sim",
            F.round(dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


@query("q_sim_ann_lsh", oracle=ANN_VERDICT_ORACLE)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-k for the same query set as q_sim_search
    — the bucketed alternative to the IVF tier: no codebook to fit
    (hyperplanes are free), at the cost of probing n_tables buckets
    per query. ORACLE-BACKED verdict (same shape as q_sim_ann_ivf):
    exact top-1 anchors + recall@10 ≥ 0.6 boolean (measured
    0.82-0.92 across SFs; deterministic seeded hyperplanes). The raw
    top-k operator stays available as lsh_topk; recall is asserted in
    tests/test_llm_ops.py."""
    return _ann_verdict(spark, sf_dir, lsh_topk, recall_floor=0.6)


# ---------------------------------------------------------------------------
# q_sim_centroid_assign / q_sim_outliers — k-means assignment + outlier audit
# ---------------------------------------------------------------------------

KMEANS_K = 8  # fixed deterministic centroids: the vectors with vec_id < K

# the assignment CTE chain shared by BOTH centroid-tier oracles (one
# text, two consumers — the capped_postings single-definition rule
# applied to oracle SQL)
_ASSIGN_CTES = f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> {cents_sql("CAST(x AS DOUBLE)", 6)}) AS qv
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {KMEANS_K}),
    d AS (
      SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT)
               AS dist
      FROM q CROSS JOIN c
    ),
    a AS (
      SELECT vec_id, CAST(cid AS BIGINT) AS centroid, dist AS dist_q
      FROM (SELECT vec_id, cid, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d)
      WHERE rn = 1
    )
"""


def centroid_assignments(
    spark: SparkSession, sf_dir: str, with_qv: bool = False,
    with_second: bool = False,
) -> DataFrame:
    """(vec_id, centroid, dist_q[, qv]) nearest-centroid assignment —
    the shared implementation behind q_sim_centroid_assign,
    q_sim_outliers, and q_sim_kmeans_update (one definition so the
    downstream tiers can never drift from the assignment they build
    on). ``with_qv=True`` additionally emits the micro-quantized
    integer vector, still from the SAME single scan — the update step
    consumes it without a second embeddings scan or a corpus-sized
    join (round-10 self-review: the first cut joined assignment back
    to a second scan, a broadcast of the full corpus at scale).
    ``with_second=True`` additionally emits ``dist2_q``, the distance
    to the SECOND-nearest centroid (the silhouette b-term), computed
    in-array from the same distance vector. See
    q_sim_centroid_assign for the exactness and zero-shuffle scale
    arguments."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: cents(x.cast("double"), 6),
    )
    seeds = (
        e.where(F.col("vec_id") < KMEANS_K)
        .select("vec_id", qv.alias("cv"))
        .orderBy("vec_id")
        .collect()  # bounded: exactly KMEANS_K rows
    )
    # the emitted cluster id is the POSITION in this list; the oracle
    # (and the documented semantics) use the seed's vec_id — identical
    # only when the seed ids are exactly 0..K-1, so enforce it rather
    # than silently emitting ids that mean something else on a corpus
    # with non-dense vec_ids (round-10 self-review finding)
    seed_ids = [row["vec_id"] for row in seeds]
    if seed_ids != list(range(KMEANS_K)):
        raise ValueError(
            f"centroid seeding needs dense vec_ids 0..{KMEANS_K - 1}; "
            f"found {seed_ids} — remap ids or pass explicit centroids"
        )
    carr = F.array(*[
        F.array(*[F.lit(int(v)) for v in row["cv"]]) for row in seeds
    ])
    dists = F.transform(
        carr,
        lambda cv: F.aggregate(
            F.zip_with(qv, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    extra = [F.col("qv")] if with_qv else []
    if with_second:
        # sorted[1] is the second-smallest distance; on a tied minimum
        # it equals the minimum — exactly the silhouette b-term
        # convention (b == a -> s == 0)
        extra = extra + [
            F.element_at(F.array_sort(F.col("dists")), 2).alias("dist2_q")
        ]
    return e.select(
        "vec_id",
        qv.alias("qv"),
        dists.alias("dists"),
    ).select(
        "vec_id",
        (F.array_position(F.col("dists"), F.array_min(F.col("dists"))) - 1)
        .cast("long")
        .alias("centroid"),
        F.array_min(F.col("dists")).alias("dist_q"),
        *extra,
    )


@query(
    "q_sim_centroid_assign",
    oracle=f"""
    WITH {_ASSIGN_CTES}
    SELECT vec_id, centroid, dist_q FROM a
    """,
)
def q_sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means ASSIGNMENT step — nearest-centroid labeling of every
    embedding (the inner loop of Lloyd's, and the clustering primitive
    a data-curation pipeline uses for domain bucketing, diversity
    sampling, and per-cluster mixing quotas). Centroids here are the
    {KMEANS_K} vectors with vec_id < {KMEANS_K} — the deterministic
    seeding round (first-iteration shape); the full Lloyd's loop
    alternates this operator with a per-cluster mean (one
    map-side-combined groupBy), exactly like the repo's other
    iterative loops.

    Exactness: per-element micro-quantization (the PCA anchor rule)
    makes every vector integer, so squared-L2 distances are EXACT
    BIGINTs in any evaluation order (max |q|≈5e6 → dist ≤ 64·1e14,
    far under int64), and argmin with the (dist, cid) tie-break is
    total-ordered — no float comparison anywhere.

    Scale shape: the centroid table broadcasts as ONE literal
    array-of-vectors column (collected {KMEANS_K} rows — aggregate-
    sized by construction); assignment is a PER-ROW projection (a
    transform computing all K distances + array_min/array_position
    argmin) fused into the scan — ZERO shuffle, the map-side shape the
    K×N explode-join alternative would destroy (plan-pinned by
    test_centroid_assign_zero_shuffle). K up to a few thousand stays
    broadcastable; beyond that the IVF key (q_sim_ann_ivf) is the
    celled path."""
    return centroid_assignments(spark, sf_dir)


OUTLIER_MEDIAN_FACTOR = 2  # flag dist > factor x cluster median


@query(
    "q_sim_outliers",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    m AS (
      SELECT centroid, dist_q AS med_dist FROM (
        SELECT centroid, dist_q,
               ROW_NUMBER() OVER (PARTITION BY centroid
                                  ORDER BY dist_q, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY centroid) AS cnt
        FROM a)
      WHERE rn = (cnt + 1) // 2
    )
    SELECT a.vec_id, a.centroid, a.dist_q, m.med_dist,
           a.dist_q > {OUTLIER_MEDIAN_FACTOR} * m.med_dist AS is_outlier
    FROM a JOIN m USING (centroid)
    """,
)
def q_sim_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit — the curation pass that runs ON
    TOP of the centroid assignment: per cluster, the (rank-pick lower)
    median squared distance is the robust scale anchor, and any vector
    farther than {OUTLIER_MEDIAN_FACTOR}x its cluster's median is
    flagged — mislabeled, off-domain, or garbage embeddings that
    distort both training mixes and ANN recall. Median-based (the
    q_anomaly_mad argument): a mean/stddev anchor gets dragged by the
    very outliers under audit; the integer median + integer
    cross-multiply keeps the whole verdict float-free.

    Scale shape: assignment is the shared zero-shuffle projection
    (centroid_assignments — localCheckpointed here because it feeds
    BOTH the median window and the final join, the shared-subtree
    rule); the median is one window Exchange on the centroid key over
    (vec_id, centroid, dist) triples — 3 ints per vector, never the
    embeddings; the K-row median table broadcasts back. Flags stay
    with the rows: the caller decides drop-vs-review."""
    assign = centroid_assignments(spark, sf_dir).localCheckpoint()
    w = W.partitionBy("centroid").orderBy("dist_q", "vec_id")
    wc = W.partitionBy("centroid")
    med = (
        assign.select(
            "centroid",
            "dist_q",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .where(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("centroid", F.col("dist_q").alias("med_dist"))
    )
    return assign.join(F.broadcast(med), "centroid").select(
        "vec_id",
        "centroid",
        "dist_q",
        "med_dist",
        (F.col("dist_q") > OUTLIER_MEDIAN_FACTOR * F.col("med_dist")).alias(
            "is_outlier"
        ),
    )


@query(
    "q_sim_kmeans_update",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    grid AS (
      SELECT a.centroid, r.i AS pos, q.qv[r.i] AS v
      FROM a JOIN q USING (vec_id), range(1, 65) r(i)
    )
    SELECT centroid, CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(v) AS BIGINT) AS sum_q,
           {trunc_div_sql("SUM(v)", "COUNT(*)", "//")} AS mean_q
    FROM grid GROUP BY 1, 2
    """,
)
def q_sim_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means UPDATE step — the other half of Lloyd's iteration: per
    (cluster, dimension), the member count, exact integer coordinate
    sum, and the truncated-toward-zero integer mean that becomes the
    next centroid. Together with q_sim_centroid_assign this is one
    full Lloyd round; a driver loop alternating the two (re-seeding
    the assignment's centroid literals from this output) is the
    complete distributed k-means, shaped exactly like the repo's
    other iterative loops.

    Exactness: coordinates are the micro-quantized integers of the
    assignment key, so per-dim sums are exact in any order; the mean
    is integer division truncated TOWARD ZERO in both engines via the
    shared trunc_div_sql form (DuckDB // floors, Spark ANSI div
    truncates — the negate-divide-negate text agrees under either).
    Output is K×64 rows — aggregate-sized regardless of corpus size.

    Scale shape: ZERO joins — centroid_assignments(with_qv=True)
    emits (vec_id, centroid, qv) from ONE embeddings scan (the
    assignment is a per-row projection, so the integerized vector
    rides along for free); posexplode fans each vector into (pos, v)
    pairs that aggregate map-side into K×64 partials — the classic
    big-in/small-out moment pass (the PCA anchor shape), one shuffle
    total (plan-pinned: no Join node, one fact scan, one Exchange).
    The first cut joined the assignment back to a SECOND embeddings
    scan — a broadcast of the full corpus at scale; killed by the
    round-10 self-review."""
    a = centroid_assignments(spark, sf_dir, with_qv=True)
    grid = a.select("centroid", F.posexplode("qv").alias("pos0", "v"))
    return (
        grid.groupBy("centroid", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("v").cast("long").alias("sum_q"),
        )
        .selectExpr(
            "centroid",
            "pos",
            "n_members",
            "sum_q",
            f"{trunc_div_sql('sum_q', 'n_members', 'div')} AS mean_q",
        )
    )


# ---------------------------------------------------------------------------
# q_sim_silhouette — simplified silhouette score per cluster
# ---------------------------------------------------------------------------

# per-vector silhouette from exact integer squared distances, the
# single division in doubles (corr-micro discipline); b >= a by
# construction (a IS the minimum), so s in [0, 1e6]
_SIL_PPM = cents_sql("(b_q - a_q) / b_q", 6)


@query(
    "q_sim_silhouette",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    r AS (
      SELECT vec_id, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cid) AS rn
      FROM d
    ),
    ab AS (
      SELECT vec_id,
             CAST(MIN(CASE WHEN rn = 1 THEN cid END) AS BIGINT) AS centroid,
             CAST(MIN(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS a_q,
             CAST(MIN(CASE WHEN rn = 2 THEN dist END) AS BIGINT) AS b_q
      FROM r WHERE rn <= 2 GROUP BY vec_id
    ),
    sc AS (
      SELECT centroid, {_SIL_PPM} AS s_ppm FROM ab WHERE b_q > 0
    )
    SELECT centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_s_ppm,
           CAST(MIN(s_ppm) AS BIGINT) AS min_s_ppm
    FROM sc GROUP BY centroid
    """,
)
def q_sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette score per cluster — the clustering-
    quality readout that closes the k-means family (assign → update →
    outliers → EVALUATE): for each vector, a = squared distance to
    its own centroid, b = squared distance to the second-nearest
    centroid, s = (b−a)/b ∈ [0,1] (the centroid-based "simplified
    silhouette" — O(n·K), not the O(n²) pairwise form, which is the
    variant that exists at 100 TB). Low mean or min per cluster says
    the centroid set under-fits there — the signal that picks K.

    Exactness: both distances are exact integer squared-L2 on the
    micro-quantized grid (the assignment substrate); b comes from the
    SAME in-array distance vector via array_sort (tied minima give
    b = a → s = 0 in both engines); the single division runs in
    doubles from exact integers and micro-quantizes (corr-micro
    discipline); the per-cluster mean is positive-only integer
    division.

    Scale shape: centroid_assignments(with_second=True) — the
    zero-shuffle scan-fused projection (no join, no Exchange; the
    K-bounded centroid literal rides in the plan) — followed by ONE
    K-bounded groupBy Exchange. Output is one row per cluster."""
    a = centroid_assignments(spark, sf_dir, with_second=True)
    sc = a.where(F.col("dist2_q") > 0).selectExpr(
        "centroid",
        f"{_SIL_PPM.replace('b_q', 'dist2_q').replace('a_q', 'dist_q')} AS s_ppm",
    )
    return sc.groupBy("centroid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("CAST(SUM(s_ppm) div COUNT(*) AS BIGINT)").alias("mean_s_ppm"),
        F.min("s_ppm").cast("long").alias("min_s_ppm"),
    )
