"""Round-5 session-6 operators: asymmetric containment and the
rater-agreement kappa audit.

Oracle parity for both catalog entries is covered by the
parameterized test_contract replica; these tests pin the SEMANTIC
properties the hash can't see (doc-in-doc detection vs Jaccard, kappa
algebra / NULL rules)."""

from __future__ import annotations

import math

from pyspark.sql import Row

from log_formatter_spark.operators.corpus import rater_agreement
from log_formatter_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

# --- containment ------------------------------------------------------------


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in enumerate(texts)]
    )


def test_containment_finds_doc_in_doc_jaccard_misses(spark):
    """A short quote embedded verbatim in a long page: containment 1.0,
    Jaccard far below any dedup threshold."""
    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(80))
    page = filler + " " + quote + " " + filler.replace("w", "z")
    df = _docs_df(spark, [quote, page])
    got = containment_pairs(df, n=3, min_containment=0.5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"], r["direction"]) == (0, 1, "a_in_b")
    assert r["containment"] == 1.0
    assert r["na"] < r["nb"]
    jac = ngram_jaccard_pairs(df, n=3, min_jaccard=0.0).collect()
    assert jac and jac[0]["jaccard"] < 0.1  # symmetric similarity misses it


def test_containment_direction_and_threshold(spark):
    """Half-overlap sits exactly at the threshold; disjoint docs never
    form a pair (blocking: no shared shingle, no candidate)."""
    a = "a b c d e f"          # shingles: 4
    b = "c d e f g h i j"      # shares 'c d e', 'd e f' with a
    c = "p q r s t u"          # disjoint
    rows = containment_pairs(_docs_df(spark, [a, b, c]), n=3, min_containment=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["containment"] == 0.5  # 2 shared / min(4, 6)
    assert r["direction"] == "a_in_b"


def test_containment_hot_shingle_guard(spark):
    """max_doc_freq drops ubiquitous shingles BEFORE the self-join: with
    the boilerplate shingle excluded, the pair loses its only shared
    shingle and disappears."""
    boiler = "click here to subscribe"
    texts = [f"{boiler} unique{i} only{i} text{i}" for i in range(4)]
    df = _docs_df(spark, texts)
    unguarded = containment_pairs(df, n=3, min_containment=0.1).collect()
    assert unguarded  # the boilerplate shingles form pairs
    guarded = containment_pairs(df, n=3, min_containment=0.1, max_doc_freq=2).collect()
    assert guarded == []


# --- rater agreement --------------------------------------------------------


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
