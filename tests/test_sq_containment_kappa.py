"""The rater-agreement kappa audit (``corpus.rater_agreement``).

Oracle parity for the catalog entry is covered by the parameterized
test_contract replica; these tests pin the SEMANTIC properties the hash
can't see (kappa algebra, NULL rules, zero-token exclusion)."""

from __future__ import annotations

import math

from pyspark.sql import Row

from log_formatter_spark.operators.corpus import rater_agreement


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in enumerate(texts)]
    )


def test_kappa_algebra_internal_consistency(spark, sf_dir):
    """po/pe/kappa must equal a Python recomputation from the four
    integer cells — and the fixture must exercise real disagreement."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = rater_agreement(docs).collect()
    assert rows
    saw_disagreement = False
    for r in rows:
        n11, n10, n01, n00 = (
            r["n_both_keep"], r["n_a_only"], r["n_b_only"], r["n_both_drop"],
        )
        n = r["n_docs"]
        assert n == n11 + n10 + n01 + n00
        po = (n11 + n00) / n
        pe = ((n11 + n10) / n) * ((n11 + n01) / n) + ((n01 + n00) / n) * (
            (n10 + n00) / n
        )
        assert math.isclose(r["po"], po, rel_tol=0, abs_tol=1e-12)
        assert math.isclose(r["pe"], pe, rel_tol=0, abs_tol=1e-12)
        if pe != 1.0:
            assert math.isclose(
                r["kappa"], (po - pe) / (1.0 - pe), rel_tol=0, abs_tol=1e-12
            )
        if n10 + n01:
            saw_disagreement = True
    assert saw_disagreement


def test_kappa_null_when_agreement_is_degenerate(spark):
    """Unanimous labelers: po = pe = 1 and kappa is NULL (chance
    agreement is total — kappa is undefined, not 0/0 or a crash)."""
    good = " ".join(["the quick brown fox is happy to run in the field"] * 10)
    df = _docs_df(spark, [good] * 5)
    rows = rater_agreement(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 5 and r["n_both_keep"] == 5
    assert r["po"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None


def test_kappa_excludes_zero_token_docs(spark):
    df = _docs_df(spark, ["", "   ", "the quick brown fox is here to stay ok"])
    rows = rater_agreement(df).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 1
