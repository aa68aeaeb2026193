"""The Arrow/numpy verify kernel (verify="vectorized") must agree with
the bit-exact fold kernel within float tolerance — the production swap
for the interpreted HOF dot fold (BENCH.md r2 §11: 117 s at 100× for
the fold verify; the einsum kernel is the ~10-100× fix)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from log_formatter_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_vectorized_dot_matches_fold(spark):
    from log_formatter_spark.functions.vectors import dot, dot_vectorized

    rows = [([float(i), -0.5 * i, 3.25], [1.0, float(i), 0.125]) for i in range(50)]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        dot(F.col("a"), F.col("b")).alias("fold"),
        dot_vectorized(F.col("a"), F.col("b")).alias("vec"),
    ).collect()
    for r in got:
        assert math.isclose(r["fold"], r["vec"], rel_tol=1e-12, abs_tol=1e-12)


def test_lsh_topk_vectorized_same_ranking(spark, emb):
    fold = similarity.lsh_topk(emb, k=5, verify="fold").collect()
    vec = similarity.lsh_topk(emb, k=5, verify="vectorized").collect()
    assert [(r["q_id"], r["neighbor_id"], r["rank"]) for r in fold] == [
        (r["q_id"], r["neighbor_id"], r["rank"]) for r in vec
    ]


def test_unknown_kernel_rejected():
    from log_formatter_spark.functions.vectors import dot_kernel

    with pytest.raises(ValueError):
        dot_kernel("simd")
