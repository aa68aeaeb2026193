"""length_buckets: semantics and edge cases."""

from __future__ import annotations

from pyspark.sql import Row

from log_formatter_spark.operators.packing import length_buckets


def test_length_buckets_hand_fixture(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=""),  # 0 tokens -> tok_eff 1 -> bucket 1
            Row(doc_id=1, text="a"),  # 1 -> bucket 1
            Row(doc_id=2, text="a b"),  # 2 -> bucket 2
            Row(doc_id=3, text="a b c"),  # 3 -> bucket 4
            Row(doc_id=4, text=" ".join(["t"] * 9)),  # 9 -> bucket 16
            Row(doc_id=5, text=" ".join(["t"] * 40)),  # >max 16 -> trunc
        ]
    )
    out = {r["bucket"]: r for r in length_buckets(docs, max_bucket=16).collect()}
    assert set(out) == {1, 2, 4, 16}
    b1 = out[1]
    assert (b1["n_docs"], b1["sum_tokens"], b1["capacity"], b1["pad_tokens"]) == (
        2,
        2,
        2,
        0,
    )
    assert b1["pad_frac"] == 0.0 and b1["n_truncated"] == 0
    b4 = out[4]
    assert (b4["n_docs"], b4["sum_tokens"], b4["pad_tokens"]) == (1, 3, 1)
    assert b4["pad_frac"] == 0.25
    b16 = out[16]
    assert (b16["n_docs"], b16["sum_tokens"], b16["n_truncated"]) == (2, 25, 1)
    assert b16["pad_tokens"] == 32 - 25


def test_length_buckets_conservation(spark, sf_dir):
    """capacity = sum_tokens + pad_tokens per bucket; every doc lands in
    exactly one bucket."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = length_buckets(docs, max_bucket=256).collect()
    assert rows
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["capacity"] == r["sum_tokens"] + r["pad_tokens"]
        assert r["bucket"] & (r["bucket"] - 1) == 0
        assert 0.0 <= r["pad_frac"] < 1.0


def test_length_buckets_rejects_non_power_of_two(spark, sf_dir):
    import pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        length_buckets(docs, max_bucket=100)
