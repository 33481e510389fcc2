"""Pathological-corpus bounds for the dedup tiers.

A corpus-common shingle (boilerplate header / license block) must not
make the exact inverted-index join or the SimHash chunk join quadratic
in the corpus size. These tests plant a 2 000-doc corpus where EVERY
doc shares the same boilerplate prefix (so the uncapped self-join would
materialize ~2M pair rows per shared shingle) and assert the capped
paths complete and return the df-capped semantics.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from neo_olap_spark.operators import llm_dedup

N_DOCS = 2000
BOILER = "common boiler plate header tokens appear in every document"


@pytest.fixture(scope="module")
def planted_sf_dir(spark):
    """A temp sf-dir whose documents table is the pathological corpus:
    shared boilerplate prefix (stop-shingles, df = N_DOCS) + a unique
    per-doc tail (df = 1)."""
    tmp = tempfile.mkdtemp(prefix="planted_docs_")
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(BOILER + " "),
            F.format_string("u%da u%db u%dc u%dd", "id", "id", "id", "id"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("planted").alias("source"),
        F.length(F.lit(BOILER)).cast("long").alias("n_chars"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_exact_jaccard_df_cap_bounds_join(spark, planted_sf_dir):
    """With df-cap 1024 < 2000, every boilerplate shingle is dropped;
    the surviving shingles are unique per doc, so zero pairs share a
    shingle and the join output is empty — and bounded, instead of
    ~2M rows per stop-shingle."""
    pairs = llm_dedup.exact_jaccard_pairs(
        llm_dedup._shingled(spark, planted_sf_dir), llm_dedup.JACCARD_THRESHOLD
    )
    assert pairs.count() == 0


def test_exact_jaccard_cap_keeps_low_df_pairs(spark):
    """The cap must only drop HIGH-df shingles: two docs sharing a rare
    shingle still pair, with Jaccard over the filtered sets."""
    sh = (
        spark.range(3)
        .select(
            F.col("id").alias("doc_id"),
            F.array(
                F.concat(F.lit("rare"), (F.col("id") % 2).cast("string")),
                F.lit("stop"),  # df = 3 > max_df
            ).alias("sh"),
        )
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in llm_dedup.exact_jaccard_pairs(sh, 0.2, max_df=2).collect()
    }
    # docs 0 and 2 share "rare0"; filtered sets are {"rare0"} each -> J=1
    assert got == {(0, 2): 1.0}


def test_simhash_bucket_cap_bounds_degenerate_bucket(spark, planted_sf_dir):
    """2 000 near-identical docs land in the same SimHash chunk buckets;
    the capped expansion must complete with O(cap^2 + n) pairs per
    bucket, not n^2, while overflow docs still pair with the anchor so
    true duplicates are not lost."""
    out = llm_dedup.q_dedup_simhash(spark, planted_sf_dir)
    n = out.count()
    # every doc is a near-dup of the anchor at minimum; all-pairs would
    # be ~2M — the cap keeps it in the hundreds of thousands at most
    assert n >= N_DOCS - 1
    max_pairs = llm_dedup.SIMHASH_N_CHUNKS * (
        llm_dedup.MAX_BUCKET_DOCS**2 // 2 + N_DOCS
    )
    assert n <= max_pairs
