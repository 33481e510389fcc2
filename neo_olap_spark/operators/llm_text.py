"""Text-analysis operators over ``documents`` (north star, BASELINE.json;
the reference's unused S-Space dependency signaled exactly this intent,
pom.xml:18-22 / SURVEY.md §2.2).

All oracle-checked; every expression is a built-in (no UDFs): at 100 TB
these run inside whole-stage codegen over the parquet scan with no
shuffle at all (pure per-row projections).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from neo_olap_spark.functions import (
    bigrams,
    bounded_sequence,
    cents_sql,
    local_rows_frame,
    ws_tokens,
)
from neo_olap_spark.operators.analytics import _REG_COV, _REG_VX
from neo_olap_spark.registry import query
from neo_olap_spark.tables import load

# language-marker stopword sets (tiny, deterministic, shared with oracles)
LANG_MARKERS = {
    "en": ("the", "a", "of", "is", "and"),
    "es": ("el", "la", "de", "los", "que"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "des", "est"),
}
EN_STOPWORDS = ("the", "a", "of", "is", "and", "to", "in")

# BPE-ish pre-tokenizer: word pieces, digit runs, single punctuation
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "q_text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_distinct,
           CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a
    BPE-ish regex pre-tokenization count."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).cast("long").alias("n_bpe"),
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_replace(text, '\\s', '', 'g') AS squeezed
      FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(len(list_filter(toks, x -> list_contains({_sql_list(EN_STOPWORDS)}, x)))
                 * 1.0 / len(toks), 4) AS stopword_ratio,
           ROUND(length(squeezed) * 1.0 / len(toks), 4) AS avg_token_len
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + average token length —
    the standard cheap pre-filters of a training-data pipeline."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n = F.size(toks)
    return d.select(
        "doc_id",
        "n_chars",
        n.cast("long").alias("n_tokens"),
        F.round(
            F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))) / n, 4
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", r"\s", "")) / n, 4
        ).alias("avg_token_len"),
    )


def _langid_oracle() -> str:
    score = {
        lang: f"len(list_filter(toks, x -> list_contains({_sql_list(ws)}, x)))"
        for lang, ws in LANG_MARKERS.items()
    }
    return f"""
    WITH t AS (
      SELECT doc_id, lang AS true_lang,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, true_lang,
             {score['en']} AS s_en, {score['es']} AS s_es,
             {score['de']} AS s_de, {score['fr']} AS s_fr
      FROM t
    )
    SELECT doc_id, true_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'unknown' END AS pred_lang
    FROM s
    """


@query("q_text_langid", oracle=_langid_oracle())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: count language-marker stopwords,
    argmax with a fixed priority tie-break (en > es > de > fr)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    def marker_count(ws: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    scores = {lang: marker_count(ws) for lang, ws in LANG_MARKERS.items()}
    s = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") > 0), "es")
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") > 0), "de")
        .when(F.col("s_fr") > 0, "fr")
        .otherwise("unknown")
    )
    return s.select("doc_id", "true_lang", pred.alias("pred_lang"))


@query(
    "q_text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
           ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 4) AS tfidf
    FROM tf JOIN dfc USING (token) CROSS JOIN n
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token) with smoothed idf — the Spark-ML
    CountVectorizer/IDF pipeline expressed as two hash aggregates plus a
    join, all codegen'd built-ins (the reference's unused S-Space dep
    signaled exactly this text-to-weight intent, pom.xml:18-22).

    Scale: tf aggregates map-side before the (doc_id, token) shuffle;
    the document-frequency table is orders of magnitude smaller than
    the corpus and broadcast to the tf side."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(dfc), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
            ).alias("tfidf"),
        )
    )


# winnowing parameters: k-gram size, window width, hash constants —
# plain int64 arithmetic so Spark and DuckDB compute identical values
WINNOW_K = 3
WINNOW_W = 4
P1, P2, MOD = 1_000_003, 4_099, 2_147_483_647


@query(
    "q_text_winnow",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             list_transform(toks, s ->
               length(s) * 131 + ascii(substr(s, 1, 1)) * 31
               + ascii(substr(s, length(s), 1))) AS codes
      FROM t
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(codes) - {WINNOW_K - 2}, 1)), i ->
               (codes[i] * {P1} + codes[i+1] * {P2} + codes[i+2]) % {MOD}) AS gh
      FROM c
    ),
    w AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(gh) - {WINNOW_W - 2}, 1)), i ->
                 list_min(gh[i:i+{WINNOW_W - 1}]))) AS fps
      FROM g
    )
    SELECT doc_id, unnest(fps) AS fp FROM w
    """,
)
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    rolling polynomial hash over token-code 3-grams (WINNOW_K), then the
    minimum of each 4-wide window (WINNOW_W) — the selected minima are
    the fingerprint set, guaranteeing any sufficiently long match
    between two documents shares a fingerprint. All int64 arithmetic
    on both engines, so the oracle matches exactly; per-row expression
    work only — no shuffle until a downstream fingerprint join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("toks")).repartition(
        spark.sparkContext.defaultParallelism
    )
    code = lambda s: (  # noqa: E731
        F.length(s) * 131
        + F.ascii(F.substr(s, F.lit(1), F.lit(1))) * 31
        + F.ascii(F.substr(s, F.length(s), F.lit(1)))
    ).cast("long")
    # localCheckpoint barriers between the array stages are load-
    # bearing: a lambda that reads a COMPUTED array column via
    # element_at/slice re-inlines the whole upstream transform per
    # element (projection collapse, no CSE across lambda scopes) —
    # without hard barriers the plan is quadratic-in-doc-length per row
    # (measured 200s for 500 docs; repartition is NOT enough, projects
    # push through it). Eager materialization of two tiny array tables.
    c = toks.select(
        "doc_id", F.transform("toks", code).alias("codes")
    ).localCheckpoint()
    gh = c.select(
        "doc_id",
        F.transform(
            bounded_sequence(F.size("codes") - (WINNOW_K - 1)),
            lambda i: (
                F.element_at("codes", i)
                * P1
                + F.element_at("codes", (i + 1).cast("int")) * P2
                + F.element_at("codes", (i + 2).cast("int"))
            )
            % MOD,
        ).alias("gh"),
    ).localCheckpoint()
    fps = gh.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                bounded_sequence(F.size("gh") - (WINNOW_W - 1)),
                lambda i: F.array_min(F.slice("gh", i, WINNOW_W)),
            )
        ).alias("fps"),
    )
    return fps.select("doc_id", F.explode("fps").alias("fp"))


MIN_TOKENS = 5
MAX_STOPWORD_RATIO = 0.6


def _pipeline_oracle() -> str:
    return f"""
    WITH pred AS ({_langid_oracle()}),
    qual AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> list_contains({_sql_list(EN_STOPWORDS)}, x)))
               * 1.0 / len(regexp_split_to_array(trim(text), '\\s+')) AS stop_ratio
      FROM documents
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text)
    SELECT p.doc_id, p.pred_lang, CAST(q.n_tokens AS BIGINT) AS n_tokens
    FROM pred p
    JOIN qual q USING (doc_id)
    JOIN canon c USING (doc_id)
    WHERE p.pred_lang = 'en'
      AND q.n_tokens >= {MIN_TOKENS}
      AND q.stop_ratio <= {MAX_STOPWORD_RATIO}
    """


@query("q_pipeline_filter", oracle=_pipeline_oracle())
def q_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data filter: exact-dedup (keep canonical
    copy) ∘ language gate (predicted English) ∘ quality gate (length +
    stopword ratio). The composition stays one declarative plan —
    Catalyst fuses the three gates into the same scan where possible,
    which is the point of building each stage as expressions rather
    than materialized passes."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n = F.size(toks)
    qual = d.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))) / n).alias(
            "stop_ratio"
        ),
    )
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    pred = q_text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    return (
        pred.join(qual, "doc_id")
        .join(canon, "doc_id")
        .where(
            (F.col("pred_lang") == "en")
            & (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("stop_ratio") <= MAX_STOPWORD_RATIO)
        )
        .select("doc_id", "pred_lang", F.col("n_tokens").cast("long").alias("n_tokens"))
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized,
    lowercased text (content-defined identity for dedup joins)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("fp"),
    )


# PII patterns — conservative syntax shared verbatim by Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def _pii_oracle() -> str:
    # deterministically inject PII (the synthetic corpus has none),
    # then count + redact — identical construction on the Spark side
    return f"""
    WITH p AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@' || source || '.example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' ssn ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS full_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text, '{EMAIL_RE}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(full_text, '{SSN_RE}')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(full_text, '{PHONE_RE}')) AS BIGINT) AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(full_text, '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{SSN_RE}', '[SSN]', 'g'),
             '{PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM p
    """


@query("q_text_pii", oracle=_pii_oracle())
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and mask emails, SSNs, and
    phone numbers. The corpus is synthetic word-salad with no real
    PII, so both engines first inject deterministic PII derived from
    (doc_id, source) — the operator under test is the regex
    count/redact pass, which is what a 100 TB pipeline runs.

    Pure per-row projection: zero shuffles, runs fused into the scan
    inside whole-stage codegen. Redaction order (email, SSN, phone) is
    fixed and identical in both engines; the three patterns are
    mutually non-overlapping by construction (3-2-4 vs 3-3-4 digit
    groups, '@' anchor)."""
    d = load(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def pad(expr, n):
        return F.lpad(expr.cast("string"), n, "0")

    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" mail u"), did.cast("string"), F.lit("@"),
                 F.col("source"), F.lit(".example.com")),
    ).otherwise("")
    phone = F.when(
        did % 5 == 0,
        F.concat(F.lit(" call 555-"), pad(did % 1000, 3), F.lit("-"),
                 pad(did % 10000, 4)),
    ).otherwise("")
    ssn = F.when(
        did % 7 == 0,
        F.concat(F.lit(" ssn "), pad(did % 900 + 100, 3), F.lit("-"),
                 pad(did % 90 + 10, 2), F.lit("-"), pad(did % 10000, 4)),
    ).otherwise("")
    full = F.concat(F.col("text"), email, phone, ssn)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(full, F.lit(EMAIL_RE), F.lit("[EMAIL]")),
            F.lit(SSN_RE), F.lit("[SSN]")),
        F.lit(PHONE_RE), F.lit("[PHONE]"))
    return d.select(
        "doc_id",
        F.regexp_count(full, F.lit(EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(full, F.lit(SSN_RE)).cast("long").alias("n_ssn"),
        F.regexp_count(full, F.lit(PHONE_RE)).cast("long").alias("n_phone"),
        red.alias("redacted"),
    )



# tokenize + bigram-explode shared by the repetition and bigram-LM
# scorers — one Spark helper and one oracle CTE so the two can't drift
_BIGRAM_CTE = """
    t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    )
"""


def _doc_bigrams(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tokens-per-doc, exploded-bigrams-per-doc). The token array is
    localCheckpoint-barriered before the bigram lambda indexes into it
    (NEXT.md landmine #1)."""
    toks_df = d.select("doc_id", ws_tokens(F.col("text")).alias("toks")).localCheckpoint()
    bigrams_df = toks_df.where(F.size("toks") >= 2).select(
        "doc_id", F.explode(bigrams(F.col("toks"))).alias("bigram")
    )
    return toks_df, bigrams_df


@query(
    "q_text_repetition",
    oracle=f"""
    WITH {_BIGRAM_CTE},
    stats AS (
      SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
      FROM t
    ),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
    top AS (SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           ROUND(1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_tokens, 4) AS dup_frac,
           CAST(COALESCE(top.top_c, 0) AS BIGINT) AS top_bigram_n,
           ROUND(CAST(COALESCE(top.top_c, 0) AS DOUBLE)
                 / GREATEST(s.n_tokens - 1, 1), 4) AS top_bigram_frac
    FROM stats s LEFT JOIN top USING (doc_id)
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring (Gopher/C4-style): duplicate-
    token fraction and the fraction of bigram slots taken by the
    single most-frequent bigram — the standard boilerplate/spam
    signals a corpus filter thresholds on.

    Shape: per-doc projections plus ONE shuffle (bigram counts keyed
    on (doc_id, bigram), map-side partial aggregation first), then a
    per-doc max that reuses the doc_id clustering. The token array is
    localCheckpoint-barriered before the bigram lambda indexes into it
    (see NEXT.md: computed-array lambdas re-inline their upstream per
    element — the barrier keeps bigram construction O(n) per doc)."""
    d = load(spark, sf_dir, "documents")
    toks, bigrams_df = _doc_bigrams(d)
    stats = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    top = (
        bigrams_df.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 4)
        .alias("dup_frac"),
        F.coalesce(F.col("top_c"), F.lit(0)).cast("long").alias("top_bigram_n"),
        F.round(
            F.coalesce(F.col("top_c"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
            4,
        ).alias("top_bigram_frac"),
    )


@query(
    "q_text_bigram_lm",
    oracle=f"""
    WITH {_BIGRAM_CTE},
    pairs AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM bg),
    c2 AS (SELECT bigram, COUNT(*) AS n2 FROM pairs GROUP BY bigram),
    c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(n2) AS n1 FROM c2 GROUP BY 1),
    v AS (
      SELECT COUNT(DISTINCT tok) AS vocab
      FROM (SELECT unnest(toks) AS tok FROM t)
    ),
    scored AS (
      SELECT p.doc_id,
             ln(CAST(c2.n2 + 1 AS DOUBLE) / (c1.n1 + v.vocab)) AS logp
      FROM pairs p JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(logp), 4) AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model scoring (the cheap tier of a
    perplexity quality filter): add-one-smoothed ln P(w2|w1) under the
    corpus's own bigram distribution, averaged per document. Low
    scores = improbable word sequences = gibberish/boilerplate — the
    KenLM-filter shape without an external model artifact.

    Scale shape: the bigram count table is the only big intermediate
    (bounded by observed-bigram cardinality, not corpus size) and both
    count joins are equi-joins on bigram/head keys with map-side
    partial aggregation feeding them; the vocab scalar broadcasts.
    The token array is localCheckpoint-barriered before the bigram
    lambda (NEXT.md landmine #1)."""
    d = load(spark, sf_dir, "documents")
    toks_df, bigrams_df = _doc_bigrams(d)
    pairs = bigrams_df.withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
    c2 = pairs.groupBy("bigram").agg(F.count("*").alias("n2"))
    c1 = (
        c2.withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .groupBy("w1")
        .agg(F.sum("n2").alias("n1"))
    )
    vocab = (
        toks_df.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    scored = (
        pairs.join(c2, "bigram")
        .join(c1, "w1")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("n2") + 1).cast("double") / (F.col("n1") + F.col("vocab"))).alias(
                "logp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logp"),
    )


LEV_PREFIX = 80  # chars compared per pair — bounds the O(n*m) DP cell count


@query(
    "q_text_levenshtein",
    oracle=f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, {LEV_PREFIX}),
                            substr(b.text, 1, {LEV_PREFIX})) AS BIGINT) AS edit_dist,
           ROUND(1.0 - levenshtein(substr(a.text, 1, {LEV_PREFIX}),
                                   substr(b.text, 1, {LEV_PREFIX}))
                 * 1.0 / GREATEST(length(substr(a.text, 1, {LEV_PREFIX})),
                                  length(substr(b.text, 1, {LEV_PREFIX})), 1),
                 4) AS sim
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
)
def q_text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification tier: exact Levenshtein (and its
    normalized similarity) over candidate pairs — here the adjacent-id
    pairing as a deterministic oracle-friendly candidate set; in the
    full pipeline the candidates come from the LSH/SimHash tiers and
    this is the final precise filter.

    Scale shape: cost is pairs × LEV_PREFIX² DP cells, linear in the
    candidate count — the quadratic blowup lives in candidate
    GENERATION, which the capped LSH tiers already bound. The prefix
    cap bounds the per-pair cost exactly like MAX_SHINGLE_DF bounds
    the join. Both engines compute codepoint-level distance, so the
    oracle matches on any text."""
    d = load(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("doc_a"), F.substring("text", 1, LEV_PREFIX).alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.substring("text", 1, LEV_PREFIX).alias("tb"))
    lev = F.levenshtein("ta", "tb")
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("edit_dist"),
            F.round(
                1.0
                - lev / F.greatest(F.length("ta"), F.length("tb"), F.lit(1)),
                4,
            ).alias("sim"),
        )
    )


TOP_NGRAMS = 50

POSTINGS_TOP_TERMS = 100
POSTINGS_HEAD = 20


@query(
    "q_text_postings",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
               AS term
      FROM documents
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
    top AS (
      SELECT term, df FROM dfreq ORDER BY df DESC, term
      LIMIT {POSTINGS_TOP_TERMS}
    ),
    heads AS (
      SELECT t.term,
             array_to_string(
               list_slice(list_sort(list(t.doc_id)), 1, {POSTINGS_HEAD}), ',')
               AS postings_head
      FROM t JOIN top USING (term) GROUP BY t.term
    )
    SELECT top.term, CAST(top.df AS BIGINT) AS df, heads.postings_head
    FROM top JOIN heads USING (term)
    """,
)
def q_text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval-side primitive of a
    training-data pipeline: decontamination lookups, BM25 retrieval,
    doc-level term filters all start from posting lists): per term,
    document frequency + the first {POSTINGS_HEAD} doc ids of its
    posting list, for the top {POSTINGS_TOP_TERMS} terms by df
    (total-ordered by (df DESC, term) so the cut is deterministic).

    Scale shape: the full index stays DISTRIBUTED as (term, doc_id)
    rows — exactly the layout a posting-list shard store consumes —
    and only the reported HEAD is materialized per term, via the
    WindowGroupLimit pattern (row_number ≤ {POSTINGS_HEAD} prunes to
    20 rows/term inside each partition BEFORE the final per-term
    collect, the q_text_keywords plan): no stopword's full
    million-doc posting list ever funnels anywhere. df counting is a
    partial-aggregable groupBy on the same exploded rows.

    The head is emitted as a CSV string (numeric sort FIRST, join
    after — q_agg_collect_sorted's pattern): the driver's row
    canonicalizer sorts on raw output columns and cannot hash/sort
    ARRAY cells, so composite types never appear in a registered
    query's final schema (guarded repo-wide by
    tests/test_parity.py::test_no_composite_output_columns)."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("term"),
    )
    dfreq = t.groupBy("term").agg(F.count("*").alias("df"))
    top = (
        dfreq.orderBy(F.col("df").desc(), "term")
        .limit(POSTINGS_TOP_TERMS)
        .select("term", "df")
    )
    ranked = (
        t.join(F.broadcast(top.select("term")), "term")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("term").orderBy("doc_id")),
        )
        .where(F.col("rn") <= POSTINGS_HEAD)
    )
    heads = ranked.groupBy("term").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("doc_id"))).alias(
            "postings_head"
        )
    )
    return top.join(heads, "term").select("term", "df", "postings_head")


@query(
    "q_text_ngram_stats",
    oracle=f"""
    WITH {_BIGRAM_CTE},
    cnt AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram),
    ranked AS (
      SELECT bigram, n, ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rnk
      FROM cnt
    )
    SELECT bigram, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_NGRAMS}
    """,
)
def q_text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-N bigram frequency table — the vocabulary /
    collocation statistics a tokenizer-training or boilerplate-
    detection pass starts from. One (bigram) shuffle with map-side
    partials, then a rank cut; the (count desc, bigram) tie-break
    makes the top-N total-ordered, so the LIMIT is deterministic
    cross-engine. At 100 TB the count table is bounded by the distinct
    bigram vocabulary, not the corpus size."""
    from neo_olap_spark.functions import numbered_sample

    d = load(spark, sf_dir, "documents")
    _, bigrams_df = _doc_bigrams(d)
    cnt = bigrams_df.groupBy("bigram").agg(F.count("*").alias("n"))
    # total order: n desc, bigram asc — encode as a single sortable
    # key for numbered_sample (it orders ascending): (-n, bigram)
    ranked = numbered_sample(
        cnt.withColumn("negn", -F.col("n")).withColumn("k", F.struct("negn", "bigram")),
        TOP_NGRAMS,
        "k",
        "rnk0",
    )
    return ranked.select(
        "bigram",
        F.col("n").cast("long").alias("n"),
        (F.col("rnk0") + 1).cast("long").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# q_text_keywords — per-document top-K TF-IDF keyword extraction
# ---------------------------------------------------------------------------

KEYWORDS_PER_DOC = 3


@query(
    "q_text_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 4) AS tfidf
      FROM tf JOIN dfc USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rk
      FROM scored
    )
    SELECT doc_id, CAST(rk AS INTEGER) AS rk, token, tfidf
    FROM ranked WHERE rk <= {KEYWORDS_PER_DOC}
    ORDER BY doc_id, rk
    """,
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-{KEYWORDS_PER_DOC}
    TF-IDF terms per doc — the feature every retrieval index and
    topic dashboard wants next to the raw text.

    Ranking is over the ROUNDED score with a token tie-break, so both
    engines order identically even where unrounded doubles differ in
    the last ulp. Scale shape: reuses the TF-IDF plan (token shuffle
    + broadcast doc count) and adds one per-doc-key Exchange — but
    Spark plans a PARTIAL WindowGroupLimit before that shuffle, so
    only {KEYWORDS_PER_DOC} rows per doc ever move (verified in the
    executed plan: WindowGroupLimit Partial → Exchange(doc_id) →
    WindowGroupLimit Final). The added shuffle carries ~K rows per
    document, not the token multiset."""
    scored = q_text_tfidf(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KEYWORDS_PER_DOC)
        .select("doc_id", "rk", "token", "tfidf")
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# q_vocab_build — frequency-ranked vocabulary construction
# ---------------------------------------------------------------------------

VOCAB_SIZE = 1000


def _build_vocab(d: DataFrame) -> DataFrame:
    """The ONE vocabulary construction both q_vocab_build and
    q_text_encode share — any change to the ordering, size, or
    tie-break applies to the published vocabulary AND the encoder
    simultaneously (a split here would silently encode against a
    different token→id mapping). Returns (token_id, token, freq);
    bounded TopN numbered in one sorted partition (numbered_sample
    pattern — no WindowExec)."""
    freq = (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        freq.orderBy(F.desc("freq"), "token")
        .limit(VOCAB_SIZE)
        .coalesce(1)
        .sortWithinPartitions(F.desc("freq"), "token")
        .withColumn("token_id", F.monotonically_increasing_id())
    )


@query(
    "q_vocab_build",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
    ranked AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS token_id
      FROM freq
    )
    SELECT CAST(token_id AS BIGINT) AS token_id, token, freq
    FROM ranked WHERE token_id < {VOCAB_SIZE}
    ORDER BY token_id
    """,
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: the {VOCAB_SIZE} most frequent corpus
    tokens, assigned dense ids in (freq DESC, token) order — the
    token→id mapping every tokenizer training run materializes first.
    The token tie-break makes the id assignment a total order, so the
    mapping is reproducible across engines and runs.

    Scale shape: one (token) shuffle with map-side partial counts,
    then a bounded TopN ({VOCAB_SIZE} rows) numbered in ONE sorted
    partition via monotonically_increasing_id — the repo's
    numbered_sample pattern (no unpartitioned WindowExec; the set is
    already TopN-pruned, so the single partition holds {VOCAB_SIZE}
    rows regardless of corpus size). At 100 TB the shuffle carries
    (token, partial-count) pairs only, and the vocab broadcasts back
    to encode the corpus."""
    return _build_vocab(load(spark, sf_dir, "documents")).select(
        "token_id", "token", "freq"
    ).orderBy("token_id")


_VOCAB_CTE = f"""
    tok0 AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS freq FROM tok0 GROUP BY token),
    vocab AS MATERIALIZED (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS token_id
      FROM freq QUALIFY token_id < {VOCAB_SIZE}
    )"""


@query(
    "q_text_encode",
    oracle=f"""
    WITH {_VOCAB_CTE},
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tok AS (
      SELECT doc_id, r.i, t[r.i] AS token
      FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
    ),
    mapped AS (
      SELECT tok.doc_id, tok.i, COALESCE(v.token_id, -1) AS id
      FROM tok LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY i) AS ids_csv,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE id = -1) AS BIGINT) AS n_oov
    FROM mapped GROUP BY doc_id
    """,
)
def q_text_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding against the built vocabulary: every document's
    token sequence becomes a dense-id sequence (OOV → -1), emitted as
    CSV so the driver hash covers every position exactly, plus the
    OOV count the coverage report needs. With q_vocab_build this is
    the full tokenizer-apply step of a training pipeline.

    Scale shape: the vocabulary collapses to a ONE-ROW map column
    (map_from_entries over {VOCAB_SIZE} entries) broadcast to every
    task; encoding is then a per-row array transform fused into the
    scan — no token explode, no shuffle on the corpus side at all.
    The corpus is read once and written once, which is the floor."""
    d = load(spark, sf_dir, "documents")
    vocab = _build_vocab(d)
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("token", "token_id"))
        ).alias("vmap")
    )
    toks = d.select("doc_id", ws_tokens(F.col("text")).alias("t")).where(
        F.size("t") > 0
    )
    ids = F.transform(
        "t", lambda tk: F.coalesce(F.element_at("vmap", tk), F.lit(-1).cast("long"))
    )
    return (
        toks.crossJoin(F.broadcast(vmap))
        .select(
            "doc_id",
            F.concat_ws(",", F.transform(ids, lambda v: v.cast("string"))).alias(
                "ids_csv"
            ),
            F.size("t").cast("long").alias("n_tokens"),
            F.size(F.filter(ids, lambda v: v == -1)).cast("long").alias("n_oov"),
        )
    )


# ---------------------------------------------------------------------------
# q_text_readability — Flesch-style readability scoring (quality tier)
# ---------------------------------------------------------------------------

# one shared float tail parsed by BOTH engines from exact integer
# counts — the q_agg_corr_matrix expression-string discipline
_FLESCH_EXPR = cents_sql(
    "(206.835"
    " - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))"
    " - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))",
    3,
)


@query(
    "q_text_readability",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             GREATEST(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                           AS BIGINT), 1) AS n_words,
             GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                      1) AS n_sentences,
             GREATEST(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                           AS BIGINT), 1) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           {_FLESCH_EXPR} AS flesch_milli
    FROM c
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease readability scoring — the classic
    document-quality signal a pretraining pipeline runs next to
    q_text_quality's length/punctuation ratios: score = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words). Sentences are
    runs of terminal punctuation; syllables use the standard
    vowel-group proxy ([aeiouy]+ runs — exact syllabification needs a
    dictionary, and the proxy preserves the ranking the filter
    thresholds on). All three counts are floored at 1 so fragment
    docs score instead of dividing by zero.

    Exactness: the three counts are exact integers extracted with the
    same regex semantics in both engines (char classes and + only);
    the score is ONE shared expression string both engines parse from
    those integers (_FLESCH_EXPR, milli-quantized) — the corr-matrix
    discipline, so no float path diverges.

    Scale shape: pure per-row projection fused into the scan — zero
    shuffles, embarrassingly parallel at any corpus size."""
    d = load(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        # explicit ≥1 guard (not just the incidental [''] of splitting
        # an empty string): ALL THREE counts are floored at 1 so the
        # two divisions can never hit zero in either engine
        F.greatest(
            F.size(ws_tokens(F.col("text"))).cast("long"),
            F.lit(1).cast("long"),
        ).alias("n_words"),
        F.greatest(
            # idx=0 (whole match): the patterns have no capture group,
            # and Spark's default idx=1 raises on group-less patterns
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0)))
            .cast("long"),
            F.lit(1).cast("long"),
        ).alias("n_sentences"),
        F.greatest(
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit("[aeiouy]+"), F.lit(0)
                )
            ).cast("long"),
            F.lit(1).cast("long"),
        ).alias("n_syllables"),
    )
    return c.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(_FLESCH_EXPR).alias("flesch_milli"),
    )


# ---------------------------------------------------------------------------
# q_text_bm25 — ranked retrieval over the inverted index (Lucene intent)
# ---------------------------------------------------------------------------

BM25_TOP_K = 10

# fixed multi-term query workload (the decontamination / RAG lookup
# shape): query_id -> bag of terms. Tuples, not dict, so iteration
# order is the literal order in both engines' plans.
BM25_QUERIES = (
    ("q_spark_join", "spark"),
    ("q_spark_join", "join"),
    ("q_spark_join", "fast"),
    ("q_stream_win", "stream"),
    ("q_stream_win", "window"),
    ("q_sort_merge", "hash"),
    ("q_sort_merge", "merge"),
    ("q_sort_merge", "sort"),
)

# Okapi BM25 per-(term, doc) partial, micro-quantized: k1=1.2 b=0.75
# (k1+1 and 1-b pre-folded to the exact literals 2.2 / 0.25 so both
# engines parse identical constants). Inputs are all exact integers
# (tf, df, dl, n_docs, total_tok); the ONE float tail is this shared
# expression text — evaluated by both engines on the same integers in
# the same operation order, then FLOOR(x*1e6+0.5) micro-quantized (the
# tfidf/psi/benford ln precedent). Per-term partials are summed as
# INTEGERS, so the query score is order-free (float sums are not).
# LANDMINE: bare decimal literals (0.5, 2.2) parse as DECIMAL in both
# engines, pulling the whole expression into decimal arithmetic whose
# scale/truncation rules DIFFER cross-engine — the scientific form
# (0.5e0) is a DOUBLE literal in both, keeping every step in IEEE
# doubles (seen in the plan: cast(... as decimal(20,0)) before the fix).
_BM25_TERM_MICRO = cents_sql(
    "ln(1.0e0 + (n_docs - df + 0.5e0) / (df + 0.5e0))"
    " * (tf * 2.2e0)"
    " / (tf + 1.2e0 * (0.25e0 + 0.75e0 * (dl * CAST(n_docs AS DOUBLE)) / total_tok))",
    6,
)

_BM25_QT_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)


@query(
    "q_text_bm25",
    oracle=f"""
    WITH qt AS (
      SELECT * FROM (VALUES {_BM25_QT_VALUES}) AS v(query_id, term)
    ),
    tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ),
    dl AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS dl
      FROM documents
    ),
    scal AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS total_tok,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM dl
    ),
    tfd AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2
    ),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfd GROUP BY term),
    ts AS (
      SELECT qt.query_id, tfd.doc_id,
             {_BM25_TERM_MICRO} AS term_score_micro
      FROM tfd
      JOIN dft USING (term)
      JOIN dl USING (doc_id)
      JOIN qt ON qt.term = tfd.term
      CROSS JOIN scal
    ),
    sc AS (
      SELECT query_id, doc_id,
             CAST(SUM(term_score_micro) AS BIGINT) AS score_micro
      FROM ts GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, doc_id, score_micro,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_micro DESC, doc_id
             ) AS BIGINT) AS rnk
      FROM sc
    )
    SELECT query_id, doc_id, score_micro, rnk
    FROM ranked WHERE rnk <= {BM25_TOP_K}
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the inverted index — the retrieval
    scorer a decontamination / RAG pipeline runs against the corpus
    (the completion of the reference's Lucene intent signal,
    pom.xml:50-54, on top of q_text_postings' posting-list layout):
    per query, the top-{BM25_TOP_K} documents by Okapi BM25
    (k1=1.2, b=0.75, Lucene's ln(1 + (N-df+.5)/(df+.5)) idf).

    Exactness: every model input is an exact integer (tf, df, dl, N,
    total tokens); the float arithmetic lives in ONE shared expression
    string micro-quantized per (term, doc) BEFORE the per-query sum,
    so the query score is an order-free integer sum (a float sum
    across terms would be partition-order-dependent); ranks are
    total-ordered by (score DESC, doc_id).

    Scale shape, stage by stage: doc lengths are a PROJECTION
    (size(split()) — no explode) localCheckpointed once (doc-sized,
    two ints per doc; it feeds both the corpus scalars and the score
    join, and recompute would re-scan the wide text column — the
    shared-subtree rule); the exploded token stream is filtered to
    query terms by a BROADCAST semi-join BEFORE its groupBy, so only
    query-term rows ever shuffle (posting-list retrieval, not a corpus
    aggregation); per-term df derives from the checkpointed tf table
    (which also feeds the score join — shared-subtree again) and
    broadcasts back; the final top-k is a per-query row_number whose
    filter prunes partially below the Exchange (WindowGroupLimit, the
    q_text_postings plan). Nothing corpus-sized funnels anywhere:
    at 100 TB this is exactly Lucene's norms-file + posting-list
    architecture expressed relationally."""
    d = load(spark, sf_dir, "documents")
    qt = local_rows_frame(spark, list(BM25_QUERIES), "query_id string, term string")
    dl = d.select(
        "doc_id", F.size(ws_tokens(F.col("text"))).cast("long").alias("dl")
    ).localCheckpoint()
    scal = dl.agg(
        F.sum("dl").cast("long").alias("total_tok"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tok = d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("term"))
    tfd = (
        tok.join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    dft = tfd.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    ts = (
        tfd.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(scal))
        .selectExpr(
            "query_id",
            "doc_id",
            f"{_BM25_TERM_MICRO} AS term_score_micro",
        )
    )
    sc = ts.groupBy("query_id", "doc_id").agg(
        F.sum("term_score_micro").cast("long").alias("score_micro")
    )
    ranked = sc.withColumn(
        "rnk",
        F.row_number()
        .over(W.partitionBy("query_id").orderBy(F.col("score_micro").desc(), "doc_id"))
        .cast("long"),
    )
    return ranked.where(F.col("rnk") <= BM25_TOP_K).select(
        "query_id", "doc_id", "score_micro", "rnk"
    )


# ---------------------------------------------------------------------------
# q_text_collocations — PMI-scored collocations (tokenizer/vocab signal)
# ---------------------------------------------------------------------------

COLLOC_MIN_COUNT = 5  # significance floor: rare pairs have unstable PMI
COLLOC_TOP_N = 40

# pointwise mutual information, micro-quantized: PMI = ln p(ab) -
# ln p(a) - ln p(b) with p(ab)=c_ab/n_bg and p(w)=c_w/n_uni, expanded
# to the overflow-free sum-of-logs form (products like c_a*c_b*n_bg
# would overflow BIGINT at corpus scale; each ln input here is a bare
# integer). One shared expression text evaluated by both engines on
# identical integers (the BM25/tfidf/psi ln precedent); double
# literals in scientific form per the BM25 decimal landmine.
_PMI_MICRO = cents_sql(
    "(ln(c_ab * 1.0e0) + 2.0e0 * ln(n_uni * 1.0e0)"
    " - ln(n_bg * 1.0e0) - ln(c_a * 1.0e0) - ln(c_b * 1.0e0))",
    6,
)


@query(
    "q_text_collocations",
    oracle=f"""
    WITH {{bigram_cte}},
    bgc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY bigram),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM
        (SELECT unnest(toks) AS w FROM t) GROUP BY w
    ),
    scal AS (
      SELECT (SELECT SUM(c) FROM uni) AS n_uni,
             (SELECT SUM(c_ab) FROM bgc) AS n_bg
    ),
    scored AS (
      SELECT bgc.bigram, bgc.c_ab,
             {_PMI_MICRO.replace('c_a ', 'ua.c ').replace('c_b ', 'ub.c ')}
               AS pmi_micro
      FROM bgc
      JOIN uni ua ON ua.w = split_part(bgc.bigram, ' ', 1)
      JOIN uni ub ON ub.w = split_part(bgc.bigram, ' ', 2)
      CROSS JOIN scal
      WHERE bgc.c_ab >= {COLLOC_MIN_COUNT}
    ),
    ranked AS (
      SELECT bigram, c_ab, pmi_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY pmi_micro DESC, bigram)
                  AS BIGINT) AS rnk
      FROM scored
    )
    SELECT bigram, c_ab, pmi_micro, rnk FROM ranked
    WHERE rnk <= {COLLOC_TOP_N}
    """.format(bigram_cte=_BIGRAM_CTE),
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocation mining — which adjacent word pairs
    co-occur far above chance: the association statistic behind
    tokenizer merge candidates, multi-word-expression vocabularies,
    and boilerplate phrase detection (next to q_text_ngram_stats'
    raw frequencies, which rank common pairs, PMI ranks SURPRISING
    pairs). Rare-pair noise is floored at c_ab ≥ {COLLOC_MIN_COUNT};
    the top-{COLLOC_TOP_N} cut is total-ordered (pmi DESC, bigram).

    Exactness: all counts are integers; PMI is ONE shared
    sum-of-logs expression micro-quantized (overflow-free at any
    corpus size — no count ever multiplies another). Scale shape:
    two vocabulary-bounded aggregations (unigram + bigram counts,
    both map-side combined; the exploded streams shuffle only
    vocab-bounded partials), two joins against the (bounded) unigram
    table, broadcast scalars, and a rank cut over the floored
    collocation table — nothing corpus-sized past the partial
    aggregates. The checkpoint-barriered token/bigram chain is the
    shared _doc_bigrams helper — ONE definition with
    q_text_repetition / q_text_bigram_lm and the oracle's
    _BIGRAM_CTE, so a barrier or tokenization fix can never miss
    this key (round-10 self-review)."""
    d = load(spark, sf_dir, "documents")
    toks_df, bigrams_df = _doc_bigrams(d)
    bgc = (
        bigrams_df.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .localCheckpoint()  # feeds the n_bg scalar AND the join
    )
    uni = (
        toks_df.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # feeds the n_uni scalar AND two joins
    )
    scal = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bgc.agg(F.sum("c_ab").alias("n_bg"))
    )
    ua = uni.select(F.col("w").alias("wa"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c").alias("c_b"))
    scored = (
        bgc.where(F.col("c_ab") >= COLLOC_MIN_COUNT)
        .withColumn("wa", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("wb", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(scal))
        .selectExpr("bigram", "c_ab", f"{_PMI_MICRO} AS pmi_micro")
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.col("pmi_micro").desc(), "bigram"))
        .cast("long"),
    )
    return ranked.where(F.col("rnk") <= COLLOC_TOP_N)


# ---------------------------------------------------------------------------
# q_text_zipf — Zipf rank-frequency law fit over the corpus vocabulary
# ---------------------------------------------------------------------------

# per-row micro-quantized natural logs of BARE integers (rank, freq) —
# ln of an exact integer is the one float op both engines evaluate on
# identical input (the collocations/BM25 precedent); quantizing BEFORE
# summing makes the moment sums order-free exact integers. Double
# literals in scientific form per the BM25 decimal landmine.
_ZIPF_X = cents_sql("ln(rank * 1.0e0)", 6)
_ZIPF_Y = cents_sql("ln(freq * 1.0e0)", 6)

# OLS slope/intercept of y on x from exact integer moment sums, cast
# to double once each; ONE expression text parsed by both engines.
# The variance/covariance ALGEBRA is the q_agg_regression fragments
# (one definition — round-10 self-review); only the quantization
# scale is zipf's own (y is already micro-nats, so the intercept
# rounds at unit scale), and x-values are distinct ranks, so the
# variance denominator is never 0 and no guard is needed.
_ZIPF_SLOPE = cents_sql(f"{_REG_COV} / {_REG_VX}", 6)
_ZIPF_INTERCEPT = cents_sql(f"(sy * {_REG_VX} - {_REG_COV} * sx) / (n * {_REG_VX})", 0)


@query(
    "q_text_zipf",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    fr AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY token),
    ranked AS (
      SELECT freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
               AS rank
      FROM fr
    ),
    pts AS (
      SELECT rank, freq, {_ZIPF_X} AS x, {_ZIPF_Y} AS y
      FROM ranked WHERE rank <= {VOCAB_SIZE}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           {_ZIPF_SLOPE} AS slope_micro,
           {_ZIPF_INTERCEPT} AS intercept_micro
    FROM s
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary — the OLS slope of
    ln(freq) on ln(rank) for the top-{VOCAB_SIZE} tokens (natural
    corpora slope ≈ −1; a much flatter or steeper tail is the classic
    signature of templated/synthetic or truncated text, which makes
    this the corpus-level counterpart of q_text_repetition's per-doc
    screen and a standard sanity gate before tokenizer training on
    scraped data). Rank assignment is the SAME total order as
    q_vocab_build (freq DESC, token).

    Exactness: ln(rank) and ln(freq) are micro-quantized PER ROW from
    bare integers (each a single engine-identical float op — the
    collocations discipline), so the six moment sums are order-free
    exact integers accumulated in 128-bit; slope and intercept are
    each ONE shared expression on doubles cast once from those sums
    (single division; denominator positive since ranks are distinct).

    Scale shape: one (token) shuffle with map-side partial counts;
    the rank cut is the vocab_build bounded-TopN (the top
    {VOCAB_SIZE} rows sorted in one bounded partition — no
    unpartitioned WindowExec over the full vocabulary); the fit is a
    1-row aggregate over {VOCAB_SIZE} points."""
    d = load(spark, sf_dir, "documents")
    fr = (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ranked = (
        fr.orderBy(F.desc("freq"), "token")
        .limit(VOCAB_SIZE)
        .coalesce(1)
        .sortWithinPartitions(F.desc("freq"), "token")
        .withColumn("rank", F.monotonically_increasing_id() + 1)
    )
    pts = ranked.selectExpr(f"{_ZIPF_X} AS x", f"{_ZIPF_Y} AS y")
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * F.col("x")).cast("double").alias("sxx"),
        F.sum(xd * F.col("y")).cast("double").alias("sxy"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_points",
        f"{_ZIPF_SLOPE} AS slope_micro",
        f"{_ZIPF_INTERCEPT} AS intercept_micro",
    )
