"""Corpus sampling operators: spec checks and the plan shapes their
100 TB claims rest on."""

from __future__ import annotations

from log_formatter_spark.functions.text import text_stats
from log_formatter_spark.operators.corpus import (
    QUOTA_PER_SOURCE,
    hash_sample,
    source_quota_sample,
)


def test_quota_keeps_top_quality_per_source(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = source_quota_sample(docs).collect()
    # exact quality reference from the established text_stats operator
    q = {
        r["doc_id"]: r["quality_score"]
        for r in text_stats(docs).select("doc_id", "quality_score").collect()
    }
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    by_source: dict[str, list[int]] = {}
    for d in sorted(src, key=lambda d: (-q[d], d)):
        by_source.setdefault(src[d], []).append(d)
    expect = {
        (d, s, i + 1)
        for s, ds in by_source.items()
        for i, d in enumerate(ds[:QUOTA_PER_SOURCE])
    }
    assert {(r["doc_id"], r["source"], r["src_rank"]) for r in got} == expect
    for r in got:
        assert r["quality_score"] == q[r["doc_id"]]


def test_quota_plan_uses_window_group_limit(spark, sf_dir):
    """The scale claim: row_number<=k must compile to partial+final
    WindowGroupLimit so the exchange moves O(partitions*quota) rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = source_quota_sample(docs)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_hash_sample_is_subset_stable(spark, sf_dir):
    """A doc's keep/drop decision must not change when other docs are
    added/removed — the incremental-ingestion property."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {r["doc_id"] for r in hash_sample(docs).collect()}
    part = {r["doc_id"] for r in hash_sample(docs.where("doc_id % 3 = 0")).collect()}
    assert part == {d for d in full if d % 3 == 0}


def test_hash_sample_rates(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = hash_sample(docs).groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in kept}
    n_src0 = docs.where("source = 'src0'").count()
    assert by_src["src0"] == n_src0  # rate 1.0 keeps everything
    # default-rate sources keep strictly fewer than all (rate 0.4)
    n_src2 = docs.where("source = 'src2'").count()
    assert 0 < by_src.get("src2", 0) < n_src2


def test_hash_sample_map_only(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = hash_sample(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sampling_empty_inputs(spark, sf_dir):
    empty = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0)
    assert source_quota_sample(empty).count() == 0
    assert hash_sample(empty).count() == 0
