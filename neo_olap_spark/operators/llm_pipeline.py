"""Training-data pipeline operators beyond per-document scoring:
benchmark decontamination, mixture sampling, context-window packing,
and embedding quantization (north star surface — the stages a 100 TB
corpus passes through between raw scrape and training shards).

All oracle-checked. Scale notes per operator; the common theme is that
every stage is a declarative plan (expressions + one bounded shuffle),
never a driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import (
    cents,
    cents_sql,
    floor_round,
    floor_round_sql,
    local_rows_frame,
    shingles,
    ws_tokens,
)
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load

# every doc_id divisible by BENCH_MOD plays the "held-out benchmark";
# the rest is the training corpus to be decontaminated against it
BENCH_MOD = 50
CONTAM_THRESHOLD = 0.2

# deterministic per-language mixture rates (per-mille, integer compare
# so Spark and DuckDB agree bit-for-bit)
MIX_RATES_PM = {"en": 1000, "es": 500, "de": 250, "fr": 100}
MIX_HASH_A, MIX_HASH_M = 1_000_003, 1000

CONTEXT_TOKENS = 512  # packing target window

QUANT_BITS_MAX = 127  # symmetric int8


_DECON_SHINGLE_CTE = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toks WHERE len(t) >= 3
    )
"""


@query(
    "q_text_decontaminate",
    oracle=f"""
    WITH
    {_DECON_SHINGLE_CTE},
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS s
      FROM sh WHERE doc_id % {BENCH_MOD} <> 0
    ),
    hits AS (
      SELECT c.doc_id, ANY_VALUE(c.n_shingles) AS n_shingles,
             COUNT(b.s) AS n_contaminated
      FROM corpus c LEFT JOIN bench b ON c.s = b.s
      GROUP BY c.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_contaminated AS BIGINT) AS n_contaminated,
           ROUND(n_contaminated * 1.0 / n_shingles, 4) AS contam_ratio,
           n_contaminated * 1.0 / n_shingles >= {CONTAM_THRESHOLD} AS flagged
    FROM hits
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose 3-gram
    shingle overlap with a held-out benchmark set (doc_id % BENCH_MOD
    == 0) exceeds CONTAM_THRESHOLD — the standard eval-leakage gate a
    training pipeline runs before sharding.

    Scale shape: the benchmark shingle set is orders of magnitude
    smaller than the corpus (it's an eval suite), so the membership
    probe is a broadcast LEFT join against the distinct benchmark
    shingles; the corpus side stays one explode + one groupBy(doc_id)
    — no corpus self-join anywhere."""
    d = load(spark, sf_dir, "documents")
    # exchange between tokenize and shingle (the 40× lambda-CSE
    # landmine _shingled documents), then localCheckpoint: the
    # shingled frame feeds BOTH the benchmark side and the corpus
    # side — unmaterialized, the whole shingle pipeline executes
    # twice (once more inside the broadcast build). Measured at
    # sf0.1: 14.9 s → 7.2 s.
    toks = (
        d.select("doc_id", ws_tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 3)
        .repartition(spark.sparkContext.defaultParallelism * 2)
    )
    sh = toks.select("doc_id", shingles(F.col("t")).alias("sh")).localCheckpoint()
    bench = (
        sh.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("sh").alias("s"))
        .distinct()
        .withColumn("is_bench", F.lit(1))
    )
    corpus = sh.where(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("s")
    )
    hits = (
        corpus.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.count("is_bench").alias("n_contaminated"),
        )
    )
    ratio = F.col("n_contaminated") / F.col("n_shingles")
    return hits.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        F.round(ratio, 4).alias("contam_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("flagged"),
    )


def _mix_keep_sql() -> str:
    rate = " ".join(
        f"WHEN lang = '{lg}' THEN {pm}" for lg, pm in MIX_RATES_PM.items()
    )
    return (
        f"(doc_id * {MIX_HASH_A} + 7) % {MIX_HASH_M} < (CASE {rate} ELSE 0 END)"
    )


@query(
    "q_mix_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_mix_keep_sql()}
    """,
)
def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling: downsample each language to a target
    rate (MIX_RATES_PM, per-mille) with a DETERMINISTIC per-doc keep
    decision — an integer hash of doc_id compared against the rate, so
    reruns and both engines select the identical subset (seeded
    rand() would not be reproducible across engines).

    Scale shape: a pure per-row predicate on the scan — no shuffle,
    no per-language pass; rebalancing a 100 TB corpus's language mix
    is one filter."""
    d = load(spark, sf_dir, "documents")
    return d.where(_mix_keep_expr()).select("doc_id", "lang")


def _mix_keep_expr():
    """Spark twin of _mix_keep_sql: deterministic per-doc keep
    predicate for the language-mixture rates."""
    rate = F.lit(0)
    for lg, pm in reversed(MIX_RATES_PM.items()):
        rate = F.when(F.col("lang") == lg, F.lit(pm)).otherwise(rate)
    return ((F.col("doc_id") * MIX_HASH_A + 7) % MIX_HASH_M) < rate


PRETRAIN_MIN_TOKENS = 5


@query(
    "q_pipeline_pretrain",
    oracle=f"""
    WITH canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
    kept AS (
      SELECT d.doc_id, d.source, d.lang,
             len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_tokens
      FROM documents d JOIN canon USING (doc_id)
      WHERE {_mix_keep_sql()}
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(CEIL(SUM(n_tokens) * 1.0 / {CONTEXT_TOKENS}) AS BIGINT) AS n_shards
    FROM kept
    WHERE n_tokens >= {PRETRAIN_MIN_TOKENS}
    GROUP BY source, lang
    """,
)
def q_pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining shard-prep pipeline END TO END: exact dedup
    (keep the canonical min-id copy per text) ∘ language-mixture
    sampling (deterministic hash keep) ∘ length gate ∘ per-(source,
    lang) shard accounting (docs, tokens, CONTEXT_TOKENS-sized shard
    count). One query — the point is that the whole corpus-to-shards
    path stays a single declarative plan.

    Scale shape: the dedup groupBy(text) is the only wide stage over
    full documents (at 100 TB, group on a fingerprint hash instead of
    raw text — q_text_fingerprint is that operator); the mixture and
    length gates are per-row predicates fused into the scan; the final
    rollup shuffles only (source, lang, n_tokens) triples with
    map-side partials."""
    d = load(spark, sf_dir, "documents")
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    kept = (
        d.join(canon, "doc_id")
        .where(_mix_keep_expr())
        .select(
            "source", "lang", F.size(ws_tokens(F.col("text"))).alias("n_tokens")
        )
        .where(F.col("n_tokens") >= PRETRAIN_MIN_TOKENS)
    )
    return kept.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.ceil(F.sum("n_tokens") / CONTEXT_TOKENS).cast("long").alias("n_shards"),
    )


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ),
    b AS (
      SELECT source, CAST(FLOOR((cum - n_tokens) / {CONTEXT_TOKENS}) AS BIGINT) AS bin,
             doc_id, n_tokens
      FROM c
    )
    SELECT source, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM b GROUP BY source, bin
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents (in deterministic
    doc_id order, per source) to training windows of CONTEXT_TOKENS by
    cumulative token count — each doc lands in the bin its starting
    offset falls into, the streaming-friendly packing a shard writer
    uses.

    Scale shape: the running sum is windowed PER SOURCE, so packing
    parallelizes across sources instead of funneling the corpus
    through one global cumsum partition; within a source the window
    is one sort-based pass."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source", "doc_id", F.size(ws_tokens(F.col("text"))).alias("n_tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    b = c.select(
        "source",
        F.floor((F.col("cum") - F.col("n_tokens")) / CONTEXT_TOKENS).alias("bin"),
        "doc_id",
        "n_tokens",
    )
    return b.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(max_abs / {QUANT_BITS_MAX}, 6) AS scale,
           array_to_string(
             list_transform(embedding, x ->
               CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT_BITS_MAX} / max_abs + 0.5) AS BIGINT)),
             ',') AS q_csv
    FROM m WHERE max_abs > 0
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per vector, scale =
    max|x|/127 and q_i = floor(x_i·127/max|x| + 0.5) — the 4×
    shrink an embedding store applies before ANN serving. floor(x+.5)
    instead of round() because the engines' round-half rules differ;
    the quantized vector is emitted as a CSV string so the oracle
    hash covers every component exactly.

    Scale shape: pure per-row expressions over the scan — no shuffle,
    no UDF; the transform stays in whole-stage codegen."""
    e = load(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    m = e.select(
        "vec_id",
        "embedding",
        F.array_max(F.transform("embedding", lambda x: F.abs(xd(x)))).alias("max_abs"),
    ).where(F.col("max_abs") > 0)
    q = F.transform(
        "embedding",
        lambda x: F.floor(xd(x) * QUANT_BITS_MAX / F.col("max_abs") + 0.5).cast("long"),
    )
    return m.select(
        "vec_id",
        F.round(F.col("max_abs") / QUANT_BITS_MAX, 6).alias("scale"),
        F.concat_ws(",", F.transform(q, lambda v: v.cast("string"))).alias("q_csv"),
    )


@query(
    "q_embed_stats",
    oracle=f"""
    WITH n AS (
      SELECT label,
             sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
             len(embedding) AS dim
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(MIN(dim) AS BIGINT) AS min_dim,
           CAST(MAX(dim) AS BIGINT) AS max_dim,
           {floor_round_sql("AVG(nrm)", 4)} AS avg_norm,
           {floor_round_sql("MIN(nrm)", 4)} AS min_norm,
           {floor_round_sql("MAX(nrm)", 4)} AS max_norm
    FROM n GROUP BY label
    """,
)
def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store health profile per label: vector counts,
    dimension bounds (a ragged store is a broken store), and the norm
    envelope (collapsed or exploding norms are the first symptom of a
    bad encoder run). Norms accumulate left-to-right in double on both
    engines (the repo's shared fold discipline), so the floor-rounded
    stats hash-match; one scan, one small-key shuffle."""
    from neo_olap_spark.functions import norm

    e = load(spark, sf_dir, "embeddings")
    n = e.select(
        "label", norm(F.col("embedding")).alias("nrm"), F.size("embedding").alias("dim")
    )
    return n.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        floor_round(F.avg("nrm"), 4).alias("avg_norm"),
        floor_round(F.min("nrm"), 4).alias("min_norm"),
        floor_round(F.max("nrm"), 4).alias("max_norm"),
    )


SPLIT_HASH_A, SPLIT_HASH_M = 1_000_003, 100
SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 90, 95


@query(
    "q_pipeline_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, lang,
             (doc_id * {SPLIT_HASH_A} + 17) % {SPLIT_HASH_M} AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM assigned
    GROUP BY split, lang
    """,
)
def q_pipeline_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) with per-split
    per-language accounting — the assignment every training pipeline
    needs to be REPRODUCIBLE: an integer hash of doc_id, not rand(),
    so re-runs, both engines, and any subset of the corpus assign
    identically, and a document can never migrate between splits when
    the corpus grows (assignment depends only on the doc's own id).

    Scale shape: the assignment is a pure per-row projection fused
    into the scan (zero shuffle — splitting 100 TB costs one pass);
    only the tiny accounting rollup (3 splits × languages) shuffles.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * SPLIT_HASH_A + 17) % SPLIT_HASH_M
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# q_pipeline_dataset_card — per-(source, lang) dataset documentation
# ---------------------------------------------------------------------------


@query(
    "q_pipeline_dataset_card",
    oracle="""
    WITH base AS (
      SELECT source, lang, doc_id, n_chars, md5(text) AS h,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
      FROM documents
    ),
    agg AS (
      SELECT source, lang,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT h) AS n_unique_texts,
             SUM(n_chars) AS total_chars,
             SUM(ntok) AS total_tokens
      FROM base GROUP BY source, lang
    ),
    r AS (
      SELECT source, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source, lang
                                ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY source, lang) AS cnt
      FROM base
    ),
    med AS (
      SELECT source, lang, MIN(n_chars) AS med_chars
      FROM r WHERE rn = (cnt + 1) // 2 GROUP BY source, lang
    )
    SELECT agg.source, agg.lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_unique_texts AS BIGINT) AS n_unique_texts,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(med_chars AS BIGINT) AS med_chars
    FROM agg JOIN med USING (source, lang)
    """,
)
def q_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics per (source, lang) stratum: doc and
    unique-text counts (the exact-dedup rate is their difference),
    char/token volume, and the exact lower-median document length —
    the numbers a training-data release documents per slice (and the
    first thing reviewed when a mixture is rebalanced). One pass
    computes the hash + token projections; the counts are one
    partial-aggregable groupBy; the median reuses the rank-based
    lower-median pattern (q_agg_median): the value at ⌊(n+1)/2⌋ of
    each stratum's sort — an actual row value, engine-exact, where
    interpolating medians differ at the last ulp. countDistinct over
    16-byte digests means text bytes never shuffle for uniqueness —
    the q_dedup_exact accounting at card granularity."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(ws_tokens(F.col("text"))).cast("long").alias("ntok"),
    )
    agg = base.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_unique_texts"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("ntok").cast("long").alias("total_tokens"),
    )
    w = W.partitionBy("source", "lang")
    r = base.select(
        "source",
        "lang",
        "n_chars",
        F.row_number().over(w.orderBy("n_chars")).alias("rn"),
        F.count("*").over(w).alias("cnt"),
    )
    med = (
        r.where(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .groupBy("source", "lang")
        .agg(F.min("n_chars").cast("long").alias("med_chars"))
    )
    return agg.join(med, ["source", "lang"]).select(
        "source", "lang", "n_docs", "n_unique_texts",
        "total_chars", "total_tokens", "med_chars",
    )


# ---------------------------------------------------------------------------
# q_embed_pca — distributed one-pass PCA (whitening / compression tier)
# ---------------------------------------------------------------------------

PCA_K = 8  # retained components


def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding store: ONE Arrow pass
    computes per-partition moment partials (n, Σx, ΣxᵀX — d + d²
    doubles each), the driver assembles the d×d covariance and
    eigendecomposes it (O(d³) on 64 dims ≈ microseconds), and a
    second broadcast pass projects every vector onto the top-K
    components. The canonical map-reduce PCA: driver state is O(d²)
    regardless of corpus size, data is read exactly twice, and the
    projection is an embarrassingly-parallel Arrow kernel — the shape
    that holds at 100 TB (the reduce is 32 rows of ~33 KB here, and
    one row per executor-partition at scale).

    Sign convention: each component is flipped so its largest-|coord|
    entry is positive (eigenvector sign is arbitrary; pinning it makes
    the output stable across runs). Orthonormality / variance-ordering /
    reconstruction invariants are asserted in tests/test_llm_ops.py;
    the registered key q_embed_pca wraps this projection in a
    hash-checkable verdict row.

    No reference analog — driver-mandated training-pipeline surface
    (SURVEY.md §2.3); shares the bounded-driver-state design of the
    reference's int[] accumulator merge (Runner.java:118-126).
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    n_total, mean, cov, comps, _ = _pca_fit(e)
    comps_b = spark.sparkContext.broadcast(comps)
    mean_b = spark.sparkContext.broadcast(mean)

    def project(batches):
        w = comps_b.value
        mu = mean_b.value
        for pdf in batches:
            x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            proj = (x - mu) @ w.T if x.size else np.zeros((0, w.shape[0]))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "pc": [row.tolist() for row in proj],
                }
            )

    return e.mapInPandas(project, "vec_id long, label int, pc array<double>")


def _pca_fit(e: DataFrame):
    """One-pass moment fit: per-partition Arrow partials (n, Σx, ΣxᵀX)
    reduce to the driver as O(partitions) rows of O(d²) doubles, the
    d×d covariance eigendecomposes there (O(d³) on 64 dims), and the
    top-K components get their signs pinned. Returns
    (n_total, mean, cov, comps K×d, evals_desc all-d)."""
    import numpy as np
    import pandas as pd

    dim = 64  # asserted below from the first batch; embeddings are fixed-width

    def moment_partials(batches):
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        g = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            assert x.shape[1] == dim
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
        )

    partials = e.select("embedding").mapInPandas(
        moment_partials, "n long, s array<double>, g array<double>"
    )
    # Bounded collect: one ~33 KB row per partition (documented trade —
    # this IS the reduce step; at cluster scale it lands on the driver
    # as numPartitions rows, same as any treeAggregate).
    rows = [r for r in partials.collect() if r["n"] > 0]
    n_total = sum(r["n"] for r in rows)
    s_total = np.sum([np.array(r["s"]) for r in rows], axis=0)
    g_total = np.sum([np.array(r["g"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s_total / n_total
    cov = (g_total - n_total * np.outer(mean, mean)) / (n_total - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    evals_desc = evals[::-1].copy()
    order = np.argsort(evals)[::-1][:PCA_K]
    comps = evecs[:, order].T  # (K, d)
    # pin signs: largest-|coord| entry of each component is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return n_total, mean, cov, comps, evals_desc


PCA_QUANT = 10**6  # scale of the exact anchors' per-element cents(v, 6)


@query(
    "q_embed_pca",
    oracle=f"""
    WITH q AS (
      SELECT r.i AS pos,
             {cents_sql("CAST(embedding[r.i] AS DOUBLE)", 6)} AS qv
      FROM embeddings, range(1, 65) r(i)
    ),
    per AS (SELECT pos, SUM(qv) AS sx, SUM(qv * qv) AS sxx FROM q GROUP BY pos),
    nn AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT n AS n_vectors, 64 AS dim,
           CAST((SELECT SUM(CAST(n AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
                 FROM per) AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * (n - 1) * {PCA_QUANT}::HUGEINT
                    * {PCA_QUANT} AS DOUBLE) AS trace,
           (SELECT CAST(SUM(ABS(sx)) AS BIGINT) FROM per) AS mean_l1_q,
           TRUE AS ortho_ok, TRUE AS var_ordered_ok,
           TRUE AS explained_ok, TRUE AS recon_ok
    FROM nn
    """,
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable PCA verdict (the tolerance-oracle pattern of
    q_agg_approx_quantile): eigenvectors themselves have no SQL twin,
    so the key emits what BOTH engines can derive exactly plus contract
    booleans the oracle answers with literal TRUEs.

    Exact anchors — per-element quantization (FLOOR(x·1e6 + 0.5), an
    IEEE-identical float64 expression on both engines) makes every
    moment an INTEGER, so Σx and Σx² per dimension are exact in any
    summation order; the covariance trace derives from them via one
    shared closed-form division (Python-int exact ↔ HUGEINT exact →
    one double cast each), and mean_l1_q = Σ_d|Σx_d| is a pure-integer
    fingerprint of the mean vector. Booleans — the fitted model must
    satisfy: WWᵀ = I to 1e-8 (ortho_ok); eigenvalues descending,
    non-negative to spectrum scale (var_ordered_ok); retained top-K
    variance within [K/d · trace, trace] with 1e-3 quantization slack
    (explained_ok — top-K eigenvalues can never fall below the
    average-eigenvalue floor); and the PROJECTED output's empirical
    second moment must reproduce trace − Σ_K λ as its reconstruction
    residual (recon_ok — ties the actual emitted projection back to
    the spectrum, not just the fit).

    The anchors cost one extra zero-shuffle-to-64-groups integer
    aggregate; the verdict row is O(1) regardless of corpus size."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    n_total, mean, cov, comps, evals_desc = _pca_fit(e)

    # exact integer anchors (bounded collect: exactly 64 rows)
    per = (
        e.select(F.posexplode("embedding").alias("pos", "v"))
        .select(
            "pos",
            cents(F.col("v").cast("double"), 6).alias("qv"),
        )
        .groupBy("pos")
        .agg(F.sum("qv").alias("sx"), F.sum(F.col("qv") * F.col("qv")).alias("sxx"))
        .collect()
    )
    trace_num = sum(n_total * r.sxx - r.sx * r.sx for r in per)  # exact int
    trace_q = float(trace_num) / float(n_total * (n_total - 1) * PCA_QUANT**2)
    mean_l1_q = sum(abs(r.sx) for r in per)

    # contract booleans over the float64 fit + the emitted projection
    k, d = comps.shape
    ortho_ok = bool(np.abs(comps @ comps.T - np.eye(k)).max() < 1e-8)
    scale = max(1.0, float(evals_desc[0]))
    var_ordered_ok = bool(
        all(
            evals_desc[i] >= evals_desc[i + 1] - 1e-9 * scale
            for i in range(len(evals_desc) - 1)
        )
        and evals_desc[-1] >= -1e-9 * scale
    )
    top_k = float(evals_desc[:k].sum())
    explained_ok = bool(
        top_k >= (k / d) * trace_q * (1 - 1e-3) and top_k <= trace_q * (1 + 1e-3)
    )
    proj = embed_pca_project(spark, sf_dir)
    s2 = proj.select(
        F.aggregate(
            "pc", F.lit(0.0), lambda acc, x: acc + x * x
        ).alias("s2")
    ).agg(F.sum("s2").alias("t")).collect()[0].t
    trace_f64 = float(np.trace(cov))
    resid_emp = trace_f64 - float(s2) / (n_total - 1)
    resid_fit = trace_f64 - top_k
    recon_ok = bool(
        resid_emp >= -1e-9 * max(1.0, trace_f64)
        and abs(resid_emp - resid_fit) <= 1e-6 * max(1.0, trace_f64)
    )
    return local_rows_frame(
        spark,
        [
            (
                n_total,
                d,
                trace_q,
                mean_l1_q,
                ortho_ok,
                var_ordered_ok,
                explained_ok,
                recon_ok,
            )
        ],
        "n_vectors long, dim int, trace double, mean_l1_q long,"
        " ortho_ok boolean, var_ordered_ok boolean,"
        " explained_ok boolean, recon_ok boolean",
    )


# ---------------------------------------------------------------------------
# q_text_chunk — sliding-window chunking (the embedding-pipeline primitive)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@query(
    "q_text_chunk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    starts AS (
      SELECT doc_id, t, UNNEST(range(0, len(t), {CHUNK_STRIDE})) AS start
      FROM toks
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           array_to_string(list_slice(t, start + 1, start + {CHUNK_TOKENS}), ' ')
             AS chunk_text,
           CAST(least({CHUNK_TOKENS}, len(t) - start) AS BIGINT) AS n_tokens
    FROM starts
    ORDER BY doc_id, chunk_id
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking ({CHUNK_TOKENS}-token windows,
    {CHUNK_OVERLAP}-token overlap) — the step that turns documents
    into embedding-model inputs; every RAG / retrieval corpus build
    runs it. Each document yields ceil(n/stride) chunks; the overlap
    preserves cross-boundary context.

    Scale shape: tokenize + window-start generation + slice are all
    per-row array expressions; the only row expansion is the explode
    to ~n/stride chunks per doc (data-proportional, not quadratic),
    and there is NO shuffle — chunking 100 TB is one read pass that
    parallelizes perfectly. The final orderBy exists for the oracle
    hash only; production writes unsorted."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens(F.col("text")).alias("t")).where(
        F.size("t") > 0
    )
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.concat_ws(
            " ", F.slice(F.col("t"), F.col("start") + 1, CHUNK_TOKENS)
        ).alias("chunk_text"),
        F.least(F.lit(CHUNK_TOKENS), F.size("t") - F.col("start"))
        .cast("long")
        .alias("n_tokens"),
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# q_mix_temperature — temperature-scaled language sampling weights
# ---------------------------------------------------------------------------

MIX_EPOCH_TARGET = 100_000  # docs per training epoch to apportion

# temperature-sampled weight w_i = n_i^alpha with alpha = 1/2 — the
# sqrt is the one irrational op both engines evaluate identically on
# an exact integer (repo rule: sqrt blessed, pow banned); quantizing
# each weight to an integer BEFORE summing keeps every share and
# quota an exact integer division.
_TEMP_W = cents_sql("sqrt(n_docs * 1.0e0)", 6)


@query(
    "q_mix_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    w AS (SELECT lang, n_docs, {_TEMP_W} AS w FROM counts),
    tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS total_w,
             CAST(SUM(n_docs) AS BIGINT) AS total_n
      FROM w
    )
    SELECT lang, n_docs,
           CAST((n_docs * 1000000) // total_n AS BIGINT) AS raw_share_ppm,
           CAST((w * 1000000) // total_w AS BIGINT) AS temp_share_ppm,
           CAST(({MIX_EPOCH_TARGET} * w) // total_w AS BIGINT) AS epoch_quota,
           (w * 1000000) // total_w > (n_docs * 1000000) // total_n
             AS upsampled
    FROM w CROSS JOIN tot
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language — the
    multilingual mixing recipe (mT5/XLM-R style): sampling languages
    proportional to n^α with α<1 UPSAMPLES low-resource languages and
    damps the head; here α = 1/2 (the sqrt point of the temperature
    family). Complements q_mix_sample (which APPLIES fixed per-lang
    keep rates): this key DERIVES the rates from the corpus itself,
    plus each language's document quota for a {MIX_EPOCH_TARGET}-doc
    epoch and an upsampled flag vs the raw proportion.

    Exactness: per-language counts are exact; each weight √n is ONE
    shared micro-quantized expression (sqrt blessed, pow banned — the
    corr-micro rule), so the weight SUM is an exact integer sum and
    every share/quota is positive-only integer division.

    Scale shape: one map-side-combined groupBy to the lang-bounded
    count table, a 1-row total broadcast back — nothing else moves.
    Output is one row per language."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = counts.selectExpr("lang", "n_docs", f"{_TEMP_W} AS w").localCheckpoint()
    tot = w.agg(
        F.sum("w").cast("long").alias("total_w"),
        F.sum("n_docs").cast("long").alias("total_n"),
    )
    return w.crossJoin(F.broadcast(tot)).selectExpr(
        "lang",
        "n_docs",
        "CAST((n_docs * 1000000) div total_n AS BIGINT) AS raw_share_ppm",
        "CAST((w * 1000000) div total_w AS BIGINT) AS temp_share_ppm",
        f"CAST(({MIX_EPOCH_TARGET} * w) div total_w AS BIGINT) AS epoch_quota",
        "(w * 1000000) div total_w > (n_docs * 1000000) div total_n"
        " AS upsampled",
    )
