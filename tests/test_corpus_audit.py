"""Cross-source overlap and drift audits vs pure-Python replicas.

`source_overlap`'s aggregation is re-derived in pure Python on top of
`dedup.minhash_pairs` (itself oracle-validated).
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from log_formatter_spark.operators import dedup
from log_formatter_spark.operators.corpus import OVERLAP_MIN_EST, source_overlap


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_source_overlap_matches_pair_replica(docs):
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    pairs = dedup.minhash_pairs(docs, n=3, min_est=OVERLAP_MIN_EST).collect()
    dups = defaultdict(set)
    for r in pairs:
        a, b = r["doc_a"], r["doc_b"]
        if src[a] != src[b]:
            dups[(src[a], src[b])].add(a)
            dups[(src[b], src[a])].add(b)
    totals = defaultdict(int)
    for s in src.values():
        totals[s] += 1
    got = {
        (r["source"], r["vs_source"]): (r["n_docs"], r["dup_docs"], r["containment"])
        for r in source_overlap(docs).collect()
    }
    assert set(got) == set(dups)
    for key, doc_set in dups.items():
        n, d, c = got[key]
        assert n == totals[key[0]]
        assert d == len(doc_set)
        assert c == len(doc_set) / totals[key[0]]


def test_source_overlap_is_symmetric_in_observation(docs):
    rows = source_overlap(docs).collect()
    keys = {(r["source"], r["vs_source"]) for r in rows}
    assert keys  # exercised at every sf
    assert {(b, a) for a, b in keys} == keys
    for r in rows:
        assert 0 < r["dup_docs"] <= r["n_docs"]
        assert 0.0 < r["containment"] <= 1.0


def test_source_drift_matches_python_replica(docs):
    from fractions import Fraction

    from log_formatter_spark.operators.corpus import source_drift

    per = defaultdict(lambda: defaultdict(int))
    for r in docs.select("source", "text").collect():
        for t in r["text"].lower().split(" "):
            if t:
                per[r["source"]][t] += 1
    tot_t = defaultdict(int)
    for s, d in per.items():
        for t, c in d.items():
            tot_t[t] += c
    n_all = sum(tot_t.values())
    got = {r["source"]: (r["n_tokens"], r["tv_dist"]) for r in source_drift(docs).collect()}
    assert set(got) == set(per)
    for s, d in per.items():
        n_s = sum(d.values())
        tv = sum(
            abs(Fraction(d.get(t, 0), n_s) - Fraction(c, n_all))
            for t, c in tot_t.items()
        ) / 2
        g_n, g_tv = got[s]
        assert g_n == n_s, s
        assert g_tv == pytest.approx(float(tv), abs=1e-12), s
        assert 0.0 <= g_tv <= 1.0
