"""Randomized spec tests for the round-3d operators against brute-force
pure-Python oracles (independent of the DuckDB renderings already
checked in tests/test_contract.py): incremental_dedup, mixture_epochs,
temporal_split."""

from __future__ import annotations

import random
import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from log_formatter_spark.operators.conversations import temporal_split
from log_formatter_spark.operators.corpus import mixture_epochs
from log_formatter_spark.operators.dedup import incremental_dedup


def _norm(text: str) -> str:
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()


def test_incremental_dedup_matches_bruteforce(spark):
    rng = random.Random(20260817)
    vocab = [f"w{j}" for j in range(6)]  # tiny vocab -> real collisions
    rows = [
        Row(
            doc_id=i,
            text=" ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 4))),
        )
        for i in range(120)
    ]
    batch = [r for r in rows if r.doc_id % 3 == 0]
    corpus = [r for r in rows if r.doc_id % 3 != 0]
    out = incremental_dedup(
        batch=spark.createDataFrame(batch, "doc_id long, text string"),
        corpus=spark.createDataFrame(corpus, "doc_id long, text string"),
    ).collect()

    corpus_keys = {_norm(r.text) for r in corpus}
    first_in_batch: dict[str, int] = {}
    for r in sorted(batch, key=lambda r: r.doc_id):
        first_in_batch.setdefault(_norm(r.text), r.doc_id)
    expect = {}
    for r in batch:
        k = _norm(r.text)
        if k in corpus_keys:
            expect[r.doc_id] = "dup_of_corpus"
        elif first_in_batch[k] != r.doc_id:
            expect[r.doc_id] = "dup_in_batch"
        else:
            expect[r.doc_id] = "new"
    got = {r["doc_id"]: r["status"] for r in out}
    assert got == expect
    # all three statuses actually occurred on this corpus
    assert set(expect.values()) == {"dup_of_corpus", "dup_in_batch", "new"}


def test_mixture_epochs_matches_bruteforce(spark):
    rng = random.Random(7)
    srcs = ["a", "b", "c", "d"]
    rows = [Row(doc_id=i, text="t", source=rng.choice(srcs)) for i in range(60)]
    epochs = {"a": 3, "b": 1, "c": 0}
    out = mixture_epochs(
        spark.createDataFrame(rows, "doc_id long, text string, source string"),
        epochs=epochs,
        default_epochs=2,
    ).collect()
    expect = {
        (r.doc_id, e)
        for r in rows
        for e in range(epochs.get(r.source, 2))
    }
    assert {(r["doc_id"], r["epoch"]) for r in out} == expect
    assert len({r["mix_key"] for r in out}) == len(expect)


def test_temporal_split_matches_bruteforce(spark):
    rng = random.Random(3)
    cutoff = "2024-06-15 00:00:00"
    rows = []
    for c in range(30):
        for t in range(rng.randrange(1, 5)):
            day = rng.randrange(1, 29)
            rows.append(
                Row(conv_id=f"c{c}", turn_idx=t, ts=f"2024-06-{day:02d} 12:00:00")
            )
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts string"
    ).select("conv_id", "turn_idx", F.col("ts").cast("timestamp").alias("ts"))
    out = {r["conv_id"]: r["split"] for r in temporal_split(t, cutoff).collect()}
    by_conv: dict[str, list[str]] = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r.ts)
    for c, tss in by_conv.items():
        if max(tss) < cutoff:
            assert out[c] == "train", c
        elif min(tss) >= cutoff:
            assert out[c] == "eval", c
        else:
            assert out[c] == "straddle", c


def test_interval_join_matches_bruteforce(spark):
    """Bucketed interval join == the quadratic theta-join spec on random
    data, including bucket-edge timestamps, multi-bucket intervals,
    zero-length intervals, and inclusive bounds."""
    import datetime as dt

    from log_formatter_spark.operators.asof import interval_join

    rng = random.Random(42)
    base = dt.datetime(2024, 5, 1)
    points = [
        Row(k=rng.randrange(4), pid=i,
            ts=base + dt.timedelta(minutes=rng.randrange(0, 48 * 60)))
        for i in range(300)
    ]
    # some points exactly on hour edges (bucket boundaries)
    points += [
        Row(k=k, pid=1000 + k, ts=base + dt.timedelta(hours=k))
        for k in range(4)
    ]
    intervals = []
    for j in range(60):
        lo = base + dt.timedelta(minutes=rng.randrange(0, 47 * 60))
        span = rng.choice([0, 5, 90, 600])  # incl. zero-length + >1 bucket
        intervals.append(
            Row(k=rng.randrange(4), iid=j, lo=lo, hi=lo + dt.timedelta(minutes=span))
        )
    p = spark.createDataFrame(points, "k int, pid int, ts timestamp")
    iv = spark.createDataFrame(intervals, "k int, iid int, lo timestamp, hi timestamp")
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(p, iv, on="k", point_ts="ts").collect()
    }
    expect = {
        (pr.pid, ir.iid)
        for pr in points
        for ir in intervals
        if pr.k == ir.k and ir.lo <= pr.ts <= ir.hi
    }
    assert got == expect and expect  # non-trivial
