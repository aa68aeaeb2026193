"""Blocked near-dup plans vs their all-pairs baselines.

The 100 TB near-dup paths must never form an O(n²) cross product, and
where the blocking is exact (pigeonhole SimHash segments) the blocked
result must equal the all-pairs result row-for-row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_formatter_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_simhash_blocked_equals_all_pairs(spark, docs):
    for max_h in (2, 4, 8):
        blocked = dedup.simhash_pairs_blocked(docs, max_hamming=max_h)
        exact = dedup.simhash_pairs(docs, max_hamming=max_h)
        assert _rows(blocked) == _rows(exact), f"max_hamming={max_h}"


def test_simhash_combinational_blocking_equals_all_pairs(spark, docs):
    """match_segments=2 (the 100×-scale key widening, BENCH.md §11)
    must stay EXACT: coverage holds whenever
    n_blocks - match_segments >= max_hamming."""
    for max_h in (2, 4):
        blocked2 = dedup.simhash_pairs_blocked(docs, max_hamming=max_h, match_segments=2)
        exact = dedup.simhash_pairs(docs, max_hamming=max_h)
        assert _rows(blocked2) == _rows(exact), f"max_hamming={max_h}"
    with pytest.raises(ValueError):
        # under-provisioned blocks must refuse, not silently lose pairs
        dedup.simhash_pairs_blocked(docs, max_hamming=4, n_blocks=5, match_segments=2)


def test_simhash_blocked_plan_has_no_cross_product(spark, docs):
    plan = (
        dedup.simhash_pairs_blocked(docs, max_hamming=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_pairs_reuses_signature_exchange(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = dedup.minhash_pairs(docs, n=3)
    df.collect()  # reuse only shows in the finalized adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the (id -> 16 min-hash) aggregation feeds three consumers; with no
    # persist, AQE exchange reuse must serve them from one shuffle
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan


def _cached_rdd_ids(spark):
    jsc = spark.sparkContext._jsc.sc()
    return {s.id() for s in jsc.getRDDStorageInfo() if s.isCached()}


def test_no_leaked_caches_after_pair_queries(spark, sf_dir):
    # baseline-diff, not absolute-zero: earlier tests may hold live
    # result DataFrames whose backing localCheckpoint block is
    # caller-owned by design (cluster_pairs docstring) — THIS pair
    # query must itself leak nothing
    before = _cached_rdd_ids(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup.minhash_pairs(docs, n=3).write.format("noop").mode("overwrite").save()
    leaked = _cached_rdd_ids(spark) - before
    assert not leaked, f"cached blocks leaked into storage memory: {leaked}"


def test_cluster_pairs_releases_loop_checkpoints(spark, sf_dir):
    """cluster_pairs must leave AT MOST its result-backing checkpoint
    cached (VERDICT r2 #4: round-2 leaked 4 blocks per full-suite run —
    edges + per-round labels now release deterministically), and
    release_backing_cache must drain that last block too."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_pairs(docs, n=3, min_est=0.5)
    before = _cached_rdd_ids(spark)
    res = dedup.cluster_pairs(docs, pairs)
    res.write.format("noop").mode("overwrite").save()
    during = _cached_rdd_ids(spark) - before
    assert len(during) <= 1, f"loop checkpoints leaked: {during}"
    # note: the result plan projects over the final labels checkpoint;
    # reaching it via the analyzed plan's child is what the helper does
    from log_formatter_spark.operators.dedup import release_backing_cache

    release_backing_cache(res)
    after = _cached_rdd_ids(spark) - before
    assert not after, f"result block not drained: {after}"


def test_ngram_guard_unchanged_below_cutoff(spark, docs):
    # on the driver testdata no shingle exceeds the contract cutoff, so
    # the guarded plan must return exactly the unguarded result
    guarded = dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard=0.05, max_doc_freq=200)
    plain = dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard=0.05)
    assert _rows(guarded) == _rows(plain)


def test_ngram_guard_bounds_hot_shingle_candidates(spark):
    # adversarial corpus: every doc shares one boilerplate shingle
    # ("click here now"), plus a unique tail. Unguarded, the hot shingle
    # alone contributes k^2 join rows; guarded, it contributes zero.
    k = 60
    rows = [(i, f"click here now unique{i} tail{i} words{i} end{i}") for i in range(k)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from log_formatter_spark.functions.shingles import shingle_df

    sh = shingle_df(docs, n=3)
    hot_df = sh.groupBy("shingle").count().where(F.col("count") > 10)
    assert hot_df.count() == 1  # exactly the boilerplate shingle is hot

    guarded = dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard=0.01, max_doc_freq=10)
    assert guarded.count() == 0  # no pair shares any non-stop shingle
    unguarded = dedup.ngram_jaccard_pairs(docs, n=3, min_jaccard=0.01)
    assert unguarded.count() == k * (k - 1) // 2  # quadratic without the guard


def test_segment_bounds_cover_all_bits():
    for total, nb in ((60, 5), (60, 3), (64, 7)):
        bounds = dedup._segment_bounds(total, nb)
        assert sum(w for _, w in bounds) == total
        assert bounds[0][0] == 0
        for (s0, w0), (s1, _) in zip(bounds, bounds[1:]):
            assert s1 == s0 + w0
