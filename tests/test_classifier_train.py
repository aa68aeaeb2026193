"""In-engine hashed logistic-regression training (r3 VERDICT #5).

Three gates:
- the one-step contract query is driver-oracled (tests/test_contract.py
  sweeps it); here the MULTI-step trainer is pinned bit-exact against a
  pure-Python replica (the BPE pattern) — every float op in the step is
  IEEE-deterministic (rational link, power-of-two fixed-point and lr),
  so the equality is exact, not approximate;
- training must actually LEARN: on a separable synthetic task the
  trained model's accuracy beats the stand-in and reaches 100%;
- the trained weights drop into hashed_margin(weights=...) — the
  inference path the 10^12-doc scoring scan uses.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from log_formatter_spark.functions import classifier as C


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _py_md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_bucket(tok: str) -> int:
    return _py_md5_60(tok) % C.N_BUCKETS


def _py_train(doc_rows, n_iter: int, lr: float) -> list[float]:
    """Pure-Python replica of train_hashed_logreg: same fold order, same
    rational link, same fixed-point floor, same driver update order."""
    n_docs = len(doc_rows)
    w = [0.0] * C.N_BUCKETS
    for _ in range(n_iter):
        grads: dict[int, int] = {}
        for toks, y in doc_rows:
            m = 0.0
            for t in toks:
                m = m + w[_py_bucket(t)]
            q = m / (1.0 + abs(m))
            p = 0.5 + 0.5 * q
            rfx = math.floor((y - p) * C.FX_SCALE)
            for t in toks:
                b = _py_bucket(t)
                grads[b] = grads.get(b, 0) + rfx
        for b, g in grads.items():
            w[b] = w[b] + lr * ((float(g) / C.FX_SCALE) / float(n_docs))
    return w


def test_trainer_matches_pure_python(spark, docs):
    from log_formatter_spark.functions.text import tokens
    from log_formatter_spark.functions.classifier import clear_train_memo

    rows = docs.select(
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    ).collect()
    expected = _py_train([(list(r["toks"]), r["y"]) for r in rows], n_iter=4, lr=0.5)

    clear_train_memo()
    got = C.train_hashed_logreg(docs, n_iter=4, lr=0.5)
    assert got == expected, "trainer must be bit-exact vs the Python replica"
    # memo hit returns the identical weights
    assert C.train_hashed_logreg(docs, n_iter=4, lr=0.5) == expected


def _separable_corpus(spark):
    """200 docs: even ids speak 'alpha' vocabulary (label 1 via lang=en),
    odd ids speak 'beta' vocabulary — linearly separable by hashed BoW."""
    return spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("alpha bright clean signal "), (F.col("id") % 7).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("beta murky noise chaos "), (F.col("id") % 7).cast("string"))
        )
        .alias("text"),
        F.when(F.col("id") % 2 == 0, F.lit("en")).otherwise(F.lit("xx")).alias("lang"),
    )


def test_training_learns_separable_task(spark):
    corpus = _separable_corpus(spark)
    w = C.train_hashed_logreg(corpus, n_iter=8)

    def _acc(weights):
        scored = C.hashed_margin(corpus, weights=weights).join(
            corpus.select("doc_id", "lang"), "doc_id"
        )
        n_ok = scored.where(
            (F.col("pred") & (F.col("lang") == "en"))
            | (~F.col("pred") & (F.col("lang") != "en"))
        ).count()
        return n_ok / 200.0

    trained_acc = _acc(w)
    assert trained_acc == 1.0, trained_acc
    # the loss-direction sanity: another 4 steps keep it at 1.0 (no blowup)
    w2 = C.train_hashed_logreg(corpus, n_iter=12)
    assert _acc(w2) == 1.0


def test_trained_weights_flow_into_margin_schema(spark, docs):
    w = C.train_hashed_logreg(docs, n_iter=2)
    out = C.hashed_margin(docs, weights=w)
    assert out.columns == ["doc_id", "n_tokens", "margin", "mean_margin", "pred"]
    assert dict(out.dtypes)["margin"] == "double"
    assert out.count() == docs.count()
    # stand-in path unchanged (bigint margin — the oracle schema)
    assert dict(C.hashed_margin(docs).dtypes)["margin"] == "bigint"


def test_train_step_determinism_across_partitioning(spark, docs):
    a = sorted(tuple(r) for r in C.train_step(docs.repartition(13)).collect())
    b = sorted(tuple(r) for r in C.train_step(docs.coalesce(1)).collect())
    assert a == b, "fixed-point gradient sums must be partitioning-independent"


def test_training_memo_sees_path_overwrite(spark, tmp_path):
    """The memo must not serve stale weights after the same parquet
    path is overwritten mid-session: the key's file fingerprint
    (mtime_ns + size) makes the second read miss."""
    import time

    path = str(tmp_path / "train_overwrite")
    corpus = _separable_corpus(spark)
    corpus.write.parquet(path)
    w1 = C.train_hashed_logreg(spark.read.parquet(path), n_iter=2)

    time.sleep(0.05)  # ensure a distinct mtime_ns even on coarse clocks
    flipped = F.when(F.col("lang") == "en", F.lit("xx")).otherwise(F.lit("en"))
    corpus.withColumn("lang", flipped).write.mode("overwrite").parquet(path)
    w2 = C.train_hashed_logreg(spark.read.parquet(path), n_iter=2)
    assert w2 != w1, "overwritten path must miss the training memo"

    C.clear_train_memo()
    assert C.train_hashed_logreg(spark.read.parquet(path), n_iter=2) == w2
