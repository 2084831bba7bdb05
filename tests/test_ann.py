"""ANN / near-dup scale-path behavior: plan shape (no cross join, no
corpus collect), exact-refine precision vs the brute-force baselines,
and the n-gram document-frequency cap on skewed corpora."""

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from go_spatial_spark.operators import dedup, similarity


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ann_plans_have_no_cross_join(spark, sf001):
    """cosine_topk / cosine_near_dup are bucketed candidate plans:
    every join is an equi-join on (cid) / (band, sig) / vec_id keys —
    no CartesianProduct, no BroadcastNestedLoopJoin (the crossJoin
    baselines are quarantined in *_bruteforce)."""
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    for df in (similarity.cosine_topk(emb),
               similarity.cosine_near_dup(emb)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bruteforce_guards_raise(spark, sf001):
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    with pytest.raises(ValueError, match="small-N baseline"):
        similarity.cosine_topk_bruteforce(emb, max_rows=10)
    with pytest.raises(ValueError, match="baseline"):
        similarity.cosine_near_dup_bruteforce(emb, max_rows=10)


def test_near_dup_precision_vs_bruteforce(spark, sf001):
    """LSH-candidate near-dup has exact precision: every reported pair
    appears (with the bit-identical cos) in the all-pairs baseline.
    Recall is the documented LSH tradeoff, so only subset is asserted."""
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    got = {(r.a, r.b, r.cos)
           for r in similarity.cosine_near_dup(emb).collect()}
    ref = {(r.a, r.b, r.cos)
           for r in similarity.cosine_near_dup_bruteforce(emb).collect()}
    assert got <= ref
    assert len(got) > 0


def test_topk_cos_values_exact(spark, sf001):
    """The ANN top-k re-rank is exact on its candidate set: for every
    reported (q, n) pair the cos equals the brute-force cos bitwise."""
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    got = similarity.cosine_topk(emb).collect()
    ref = {(r.vec_id, r.neighbor_id): r.cos
           for r in similarity.cosine_topk_bruteforce(emb, k=50).collect()}
    checked = 0
    for r in got:
        key = (r.vec_id, r.neighbor_id)
        if key in ref:
            assert ref[key] == r.cos
            checked += 1
    assert checked > len(got) // 2  # most ANN hits land in exact top-50


def test_ngram_df_cap_drops_boilerplate(spark):
    """A stop-phrase gram shared by every doc must not explode the
    candidate self-join: with df_cap below the corpus size the
    boilerplate vocabulary is dropped and docs with only-unique tails
    produce no candidate pairs; uncapped, the same corpus pairs
    everything with everything."""
    boiler = "terms of service apply to all pages"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_top1(docs, df_cap=10)
    assert capped.count() == 0
    uncapped = dedup.ngram_jaccard_top1(docs, df_cap=10**9)
    assert uncapped.count() == 40


def test_ngram_df_cap_preserves_results_below_cap(spark, sf001):
    """On a realistic corpus (no gram near the cap) the capped and
    uncapped results are identical."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    a = dedup.ngram_jaccard_top1(docs, df_cap=1000).collect()
    b = dedup.ngram_jaccard_top1(docs, df_cap=10**9).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_plane_weight_spellings_agree(spark):
    """The three spellings of the hyperplane hash (NumPy in
    _lsh_band_sigs, the Spark-SQL expression, the DuckDB oracle) must
    stay bit-identical — this pins the NumPy<->Spark pair (the
    NumPy<->DuckDB pair is pinned by the embed_lsh_pairs parity)."""
    import numpy as np
    from pyspark.sql import functions as F
    dim, planes = 64, 32
    w_expr = similarity._plane_weight_spark(dim)
    got = (spark.range(planes * dim)
           .select((F.col("id") / dim).cast("int").alias("j"),
                   (F.col("id") % dim).cast("int").alias("d"))
           .selectExpr("j", "d", f"{w_expr} AS w")
           .orderBy("j", "d").toPandas())
    j = np.arange(planes, dtype=np.int64)[None, :]
    d = np.arange(dim, dtype=np.int64)[:, None]
    h1 = ((j * dim + d) * 2654435761) % 2147483648
    h2 = ((h1 ^ (h1 >> 15)) * 1597334677) % 2147483648
    wmat = (h2 ^ (h2 >> 13)).astype(np.float64) / 2147483648.0 - 0.5
    ref = wmat.T.ravel()  # (j, d) order
    assert np.array_equal(got["w"].to_numpy(), ref)


def test_ann_index_memoized_and_invalidated(spark, sf001):
    """The ANN index caches are memoized on (applicationId, plan
    semanticHash, params): a repeat call with a semantically equal
    input — even a FRESH DataFrame object — returns the same cached
    frame (production index-at-ingest semantics); any input or
    parameter change, or an explicit release, rebuilds."""
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    try:
        similarity.release_ann_caches()
        idx1 = similarity._ann_index(emb, 16, 2, 32, 16, 64)
        # same object and a semantically-equal fresh frame both hit
        assert similarity._ann_index(emb, 16, 2, 32, 16, 64) is idx1
        emb2 = spark.read.parquet(f"{sf001}/embeddings.parquet")
        assert similarity._ann_index(emb2, 16, 2, 32, 16, 64) is idx1
        # a parameter change misses (single slot: old cache evicted)
        idx2 = similarity._ann_index(emb, 24, 2, 32, 16, 64)
        assert idx2 is not idx1
        # an input change misses
        idx3 = similarity._ann_index(emb.limit(50), 16, 2, 32, 16, 64)
        assert idx3 is not idx2
        # release clears the slot; next call rebuilds
        similarity.release_ann_caches()
        assert idx3.storageLevel == StorageLevel.NONE
        idx4 = similarity._ann_index(emb, 16, 2, 32, 16, 64)
        assert idx4 is not idx3
    finally:
        similarity.release_ann_caches()


def test_memo_fallback_never_aliases(spark, sf001, monkeypatch):
    """When the internal semanticHash API is unavailable, _plan_key
    must return a never-matching sentinel (memoization disabled), not
    id(df): CPython reuses object addresses after GC, so an id-keyed
    memo can serve a stale ANN index for DIFFERENT data. Two distinct
    frames must never share a cache slot under the fallback."""
    k1 = similarity._plan_key(object())  # no _jdf -> fallback path
    k2 = similarity._plan_key(object())
    assert k1 != k2
    # full-path check: monkeypatch the key to always collide and
    # assert the sameSemantics confirm still rejects the hit
    emb = spark.read.parquet(f"{sf001}/embeddings.parquet")
    other = emb.where(F.col("vec_id") % 2 == 0)
    try:
        monkeypatch.setattr(similarity, "_plan_key", lambda df: "fixed")
        idx1 = similarity._ann_index(emb, 16, 2, similarity.LSH_PLANES,
                                     similarity.TOPK_LSH_PER_BAND, 64)
        idx2 = similarity._ann_index(other, 16, 2, similarity.LSH_PLANES,
                                     similarity.TOPK_LSH_PER_BAND, 64)
        # a colliding 32-bit key alone must NOT alias the caches: the
        # public sameSemantics confirm forces a rebuild for `other`
        assert idx1 is not idx2
        assert idx2.count() < idx1.count()
    finally:
        similarity.release_ann_caches()
