"""Winnowing guarantee: shared runs, short docs and density."""

from __future__ import annotations

from pyspark.sql import Row

from log_formatter_spark.functions.shingles import winnow

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

