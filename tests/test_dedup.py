"""Dedup operators: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndap_data_validator_spark.operators import dedup as D


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "The  Quick Brown  Fox jumps over the lazy dog"),  # normalized dup
        (3, "the quick brown fox leaps over the lazy dog"),  # near-dup (1 word)
        (4, "completely different text about spark aggregation engines"),
        (5, "another unrelated document mentioning iceberg tables only"),
        (6, "the quick brown fox jumps over the lazy cat today"),  # near-dup-ish
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicate_groups(corpus):
    groups = D.exact_duplicate_groups(corpus).collect()
    assert len(groups) == 1
    assert groups[0]["keeper_id"] == 0 and groups[0]["dup_count"] == 3


def test_dedup_exact_keeps_min_id(corpus):
    kept = sorted(r["doc_id"] for r in D.dedup_exact(corpus).collect())
    assert kept == [0, 3, 4, 5, 6]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    got = df.select(D.shingles(F.col("t"), 2).alias("s")).first()["s"]
    assert got == ["a b", "b c", "c d"]
    # short text falls back to whole-string shingle
    df2 = spark.createDataFrame([("a b",)], "t string")
    assert df2.select(D.shingles(F.col("t"), 3).alias("s")).first()["s"] == ["a b"]


def test_minhash_signatures_shape(corpus):
    sigs = D.minhash_signatures(corpus, num_hashes=8)
    rows = sigs.collect()
    assert len(rows) == 7
    assert all(len(r["sig"]) == 8 for r in rows)
    # identical text → identical signature
    by_id = {r["doc_id"]: r["sig"] for r in rows}
    assert by_id[0] == by_id[1]


def test_minhash_near_duplicates(corpus):
    pairs = D.minhash_near_duplicates(
        corpus, num_hashes=16, bands=8, shingle_n=2, threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact dups are certainly found; near-dup 0-3 shares most 2-shingles
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert all(a != 4 and b != 4 for a, b in got)  # unrelated doc not paired


def test_simhash_similar_texts_close(spark, corpus):
    sh = corpus.select("doc_id", D.simhash(F.col("text")).alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in sh}
    assert by_id[0] == by_id[1]  # identical text → identical simhash

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(by_id[0], by_id[3]) < hamming(by_id[0], by_id[4])


def test_simhash_buckets_find_near_dups(corpus):
    # bands=8 (8-bit bands): hamming(0,3)=6 flips can unluckily touch all 4
    # 16-bit bands, but 8 bands guarantee a collision for hamming ≤ 7
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_buckets(corpus, bands=8).collect()}
    assert (0, 1) in pairs
    assert (0, 3) in pairs


def test_ngram_jaccard_pairs(corpus):
    pairs = D.ngram_jaccard_pairs(corpus, n=1, threshold=0.7)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 3)] >= 0.7  # 8/10 words shared (distinct-set jaccard)
    assert (0, 4) not in got


def test_minhash_on_real_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # append an exact copy of doc 0 with a new id → must be found
    clone = docs.where(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(100000).cast("long")
    )
    aug = docs.unionByName(clone)
    pairs = D.minhash_near_duplicates(aug, num_hashes=16, bands=8, threshold=0.9)
    assert (0, 100000) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}


# ---------------------------------------------------------------- skew guards


def test_lsh_bucket_cap_bounds_identical_doc_flood(spark):
    """1000 byte-identical docs land in ONE band bucket per band: without a
    cap that's ~500k pairs/band; with the cap the bucket degrades to star
    pairs — O(n) total, connectivity preserved via the anchor."""
    flood = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("same same text repeated for every flood document here").alias(
            "text"
        ),
    )
    sigs = D.minhash_signatures(flood, num_hashes=16, shingle_n=3)
    pairs = D.lsh_candidate_pairs(sigs, bands=4, max_bucket_size=100)
    n = pairs.count()
    assert n == 999  # star pairs only: anchor 0 ↔ each of 1..999
    anchors = pairs.select("id_a").distinct().collect()
    assert [r["id_a"] for r in anchors] == [0]
    # connectivity: every doc participates
    assert pairs.select("id_b").distinct().count() == 999


def test_null_bucket_keys_emit_no_pairs(spark):
    """NULL bucket keys pair with nothing, like the equi-join the bucket
    windows replaced: 300 NULL-key rows (over the cap, so they would
    otherwise become anchor-star pairs) and 3 NULL-key rows (under it)
    contribute no pairs; the one real bucket still pairs fully."""
    banded = spark.createDataFrame(
        [(i, 0, None) for i in range(300)]
        + [(1000 + i, 1, None) for i in range(3)]
        + [(2000 + i, 0, 7) for i in range(3)],
        "doc_id long, band_idx int, band_hash long",
    )
    pairs = D._bucket_pairs(
        banded, "doc_id", ["band_idx", "band_hash"], ("id_a", "id_b"), 100
    )
    assert sorted((r["id_a"], r["id_b"]) for r in pairs.collect()) == [
        (2000, 2001), (2000, 2002), (2001, 2002),
    ]


def test_simhash_bucket_cap(spark):
    flood = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.lit("identical content in all of these documents").alias("text"),
    )
    pairs = D.simhash_buckets(flood, max_bucket_size=50)
    assert pairs.count() == 599


def test_small_buckets_still_full_pairs(corpus):
    """The cap must not change results when buckets are small."""
    sigs = D.minhash_signatures(corpus, num_hashes=16, shingle_n=3)
    capped = D.lsh_candidate_pairs(sigs, bands=4, max_bucket_size=512)
    uncapped = D.lsh_candidate_pairs(sigs, bands=4, max_bucket_size=10**9)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_ngram_token_df_cap_bounds_hot_token(spark):
    """One stop-word-grade token shared by every doc must not create an
    O(n²) join cell when max_token_df is set; reported pairs keep their
    EXACT full-set jaccard."""
    rows = [(i, f"common unique{i} word{i} token{i} extra{i}") for i in range(500)]
    rows += [(1000, "common unique7 word7 token7 extra7")]  # true near-dup of 7
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.ngram_jaccard_pairs(df, n=1, threshold=0.8, max_token_df=50)
    got = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()]
    assert got == [(7, 1000, 1.0)]


def test_ngram_df_cap_exact_verify_scores(spark):
    """Candidate generation may drop hot tokens, but the score is computed
    over FULL sets: a pair sharing a capped token still gets exact jaccard."""
    df = spark.createDataFrame(
        [(0, "hot a b c"), (1, "hot a b d"), (2, "hot x y z"), (3, "hot x y w")],
        "doc_id long, text string",
    )
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, n=1, threshold=0.4).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, n=1, threshold=0.4, max_token_df=3
        ).collect()
    }
    # 'hot' (df=4) is dropped from candidate gen; pairs still found via
    # a/b and x/y, and their scores INCLUDE 'hot' (3/5 = 0.6)
    assert capped == exact == {(0, 1): 0.6, (2, 3): 0.6}


# --------------------------------------------------- clusters / keepers


def test_connected_components_basic(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["comp"]
        for r in D.connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_long_chain_converges(spark):
    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = D.connected_components(pairs, max_iterations=40).collect()
    assert {r["comp"] for r in comp} == {0}
    assert len(comp) == n + 1


def test_dedup_keepers(corpus):
    pairs = D.ngram_jaccard_pairs(corpus, n=1, threshold=0.6,
                                  broadcast_tokens=True)
    kept = D.dedup_keepers(pairs, corpus.select("doc_id"))
    ids = sorted(r["doc_id"] for r in kept.collect())
    # docs 0/1/2 are (near-)identical → keep 0; 3 and 6 are near 0 at 0.6
    assert 0 in ids and 4 in ids and 5 in ids
    assert 1 not in ids and 2 not in ids


def test_jaccard_plan_explodes_shingles_inline(corpus):
    """Regression guard for the InferFiltersFromGenerate pathology: if the
    shingle array is aliased in a projection and exploded by NAME, the
    optimizer clones the whole (CodegenFallback) shingle tree into a
    per-scan-row Filter — measured 15x slower. The fix keeps the shingle
    expression INLINE in the Generate, so it must appear exactly once in
    the physical plan (the generator), never in a Filter."""
    pairs = D.ngram_jaccard_pairs(corpus, n=1, threshold=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    marker = "array_distinct(transform("
    assert plan.count(marker) == plan.count("Generate explode(")
    for line in plan.splitlines():
        if "Filter " in line:
            assert marker not in line, "shingle tree cloned into a Filter"
