"""Winnowing guarantee + IVF recall vs the exact baseline."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from log_formatter_spark.functions.shingles import winnow
from log_formatter_spark.operators.similarity import brute_topk, ivf_topk

N, W = 3, 4


def test_winnow_shared_run_guarantee(spark):
    """Schleimer et al. guarantee: two docs sharing a token run of at
    least w + n - 1 tokens share >= 1 selected fingerprint."""
    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens = w+n-1
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"one two {shared} three four five six"),
            Row(doc_id=2, text=f"nine eight seven {shared} ten eleven"),
            Row(doc_id=3, text="completely different words with no overlap here"),
        ]
    )
    fp = winnow(docs, n=N, w=W).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared run must yield a shared fingerprint"
    assert not (by_doc[1] & by_doc[3])


def test_winnow_short_doc_gets_fingerprint(spark):
    """Docs with fewer than w shingles degrade to their global min."""
    docs = spark.createDataFrame([Row(doc_id=1, text="just three tokens")])  # 1 shingle
    fp = winnow(docs, n=N, w=W).collect()
    assert len(fp) == 1


def test_winnow_density(spark, sf_dir):
    """Fingerprints per doc ~ 2/(w+1) of shingles — check the selection
    actually thins the sequence (not a no-op, not empty)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_fp = winnow(docs, n=N, w=W).count()
    from log_formatter_spark.functions.shingles import positional_shingles

    n_sh = positional_shingles(docs, n=N).count()
    assert 0 < n_fp < 0.75 * n_sh


def test_ivf_recall_vs_brute(spark, sf_dir):
    """IVF with n_probe=2 of 8 cells must recover a solid fraction of
    the exact top-10 — and every pair it reports must carry the exact
    cosine (approximation is in coverage only)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r["q_id"], r["neighbor_id"]): r["cos"] for r in brute_topk(emb, k=10).collect()}
    approx = {(r["q_id"], r["neighbor_id"]): r["cos"] for r in ivf_topk(emb, k=10).collect()}
    hits = set(exact) & set(approx)
    recall = len(hits) / len(exact)
    assert recall >= 0.3, f"recall {recall:.2f}"
    for pair in hits:
        assert exact[pair] == approx[pair]  # bit-identical cosines


def test_ivf_plan_no_cross_product(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = ivf_topk(emb, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # probes broadcast into the corpus


def test_anchor_ops_survive_offset_id_space(spark, sf_dir):
    """vec_id spaces that don't start at 0 must still produce full
    anchor/centroid sets (review finding: `id < n` silently returned
    zero anchors and degenerated every anchor-based operator)."""
    from pyspark.sql import functions as F

    from log_formatter_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    assert ivf_topk(emb, k=5, n_queries=10_008).count() > 0
    assert lsh_topk(emb, k=5, n_queries=10_008, n_anchors=4).count() > 0
