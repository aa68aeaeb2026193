"""Trained-quantizer knobs (VERDICT r2 #8): k-means centroids and
sqrt(n) cell auto-sizing for ivf_topk. Non-oracled (training is
sample-based, not SQL-expressible), so the gate here is recall measured
against the exact brute-force baseline."""

from __future__ import annotations

import pytest

from log_formatter_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _hits(df):
    return {(r["q_id"], r["neighbor_id"]) for r in df.collect()}


def test_train_centroids_shape_and_determinism(spark, emb):
    c1 = similarity.train_centroids(emb, 8)
    c2 = similarity.train_centroids(emb, 8)
    assert c1 == c2, "training must be rerun-deterministic"
    assert [cid for cid, _ in c1] == list(range(8))
    import math

    for _, v in c1:
        n = math.sqrt(sum(x * x for x in v))
        assert abs(n - 1.0) < 1e-9, "centroids must be unit vectors"


def _clustered_corpus(spark, n=4000, dim=32, n_clusters=8, seed=7):
    """Deterministic clustered embeddings — the regime IVF exists for.
    The driver testdata's embeddings are near-uniform (no cluster
    structure), where NO quantizer can beat another; real embedding
    corpora are clustered, and that is where trained cells matter."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, n_clusters, size=n)
    X = centers[labels] + 0.15 * rng.randn(n, dim)
    rows = [(int(i), [float(v) for v in X[i]], int(labels[i])) for i in range(n)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 8),
        "vec_id long, embedding array<float>, label int",
    )


def test_trained_beats_anchors_on_clustered_corpus(spark):
    """The production claim (VERDICT r2 #8 done-condition): on a
    clustered corpus, k-means centroids recover the cluster structure,
    so at the same probe budget trained cells find the true neighbors
    (which live in the query's cluster) while arbitrary lowest-id
    anchors split/merge clusters and miss them."""
    emb = _clustered_corpus(spark)
    k = 10
    exact = _hits(similarity.brute_topk(emb, k=k, n_queries=50))
    r = {}
    for mode in ("anchors", "trained"):
        # n_probe=1: the strict regime — recall survives only if each
        # cluster maps to ONE cell. Anchors drawn from the same cluster
        # split it across cells and lose its neighbors.
        # n_queries=50 >> 8 anchors: a query that IS an anchor trivially
        # probes its own Voronoi cell (recall 1.0 by construction) —
        # most of these 50 are ordinary corpus points
        hits = _hits(similarity.ivf_topk(emb, k=k, n_queries=50, n_probe=1, centroids=mode))
        r[mode] = len(hits & exact) / len(exact)
    assert r["trained"] >= 0.9, r
    assert r["trained"] > r["anchors"], r


def test_pretrained_list_reusable(spark, emb):
    cents = similarity.train_centroids(emb, 8)
    a = _hits(similarity.ivf_topk(emb, k=5, centroids=cents))
    b = _hits(similarity.ivf_topk(emb, k=5, centroids="trained"))
    assert a == b


def test_auto_centroids_sqrt_law():
    assert similarity.auto_centroids(0) == 8
    assert similarity.auto_centroids(100) == 10
    assert similarity.auto_centroids(1_000_000) == 1000
    assert similarity.auto_centroids(10**9) == 4096  # clamp


def test_auto_bits_log_law():
    # ⌈log₂(n/64)⌉ clamped to [3, 16]: the sf0.01 corpus (500 vectors)
    # sits on the floor, 10× that grows the code to 7 bits
    assert similarity.auto_bits(0) == 3
    assert similarity.auto_bits(500) == 3
    assert similarity.auto_bits(5000) == 7
    assert similarity.auto_bits(10**12) == 16  # clamp


def test_unknown_centroids_mode_rejected(spark, emb):
    with pytest.raises(ValueError):
        similarity.ivf_topk(emb, centroids="magic")


def test_matrix_kernel_matches_literal_assignment(spark, emb, monkeypatch):
    """Above _CELL_EXPR_MAX_K, ivf assignment switches to the Arrow
    matrix kernel; both paths must agree (same argmax/probe semantics,
    higher-cid tie break)."""
    cents = similarity.train_centroids(emb, 20)
    via_matrix = similarity.ivf_topk(emb, k=5, centroids=cents)  # 20 > 16
    monkeypatch.setattr(similarity, "_CELL_EXPR_MAX_K", 100)
    via_literal = similarity.ivf_topk(emb, k=5, centroids=cents)
    a = sorted(tuple(r) for r in via_matrix.collect())
    b = sorted(tuple(r) for r in via_literal.collect())
    assert [(x[0], x[1], x[2]) for x in a] == [(x[0], x[1], x[2]) for x in b]


def test_anchor_memo_sees_path_overwrite(spark, tmp_path):
    """r3 ADVICE: the memo must not serve stale anchors after the same
    parquet path is overwritten mid-session (the DuckDB oracle would
    recompute from the new bytes and the hash gate would mismatch).
    The memo key's file fingerprint (mtime_ns + size) makes the second
    read miss; clear_anchor_memo() is the belt-and-braces reset."""
    import time

    from pyspark.sql import functions as F

    from log_formatter_spark.functions.vectors import with_unit

    path = str(tmp_path / "emb_overwrite")
    base = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") + i + 1).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    base.write.mode("overwrite").parquet(path)
    u1 = with_unit(spark.read.parquet(path), "vec_id", "embedding")
    a1 = similarity.anchor_units(u1, 4, id_col="vec_id")

    time.sleep(0.05)  # ensure a distinct mtime_ns even on coarse clocks
    base.select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    ).write.mode("overwrite").parquet(path)
    u2 = with_unit(spark.read.parquet(path), "vec_id", "embedding")
    a2 = similarity.anchor_units(u2, 4, id_col="vec_id")
    assert a2 != a1, "overwritten path must refresh the anchor memo"
    assert a2 == [(p, [-x for x in v]) for p, v in a1]

    similarity.clear_anchor_memo()
    assert similarity.anchor_units(u2, 4, id_col="vec_id") == a2
