"""Semantic tests for the round-3d operators: incremental batch dedup,
mixture assembly, temporal split, validation report, file compaction,
an empty-input interval join, SFT example mining and quality deciles.

The contract replica (test_contract.py) already pins each against its
DuckDB oracle; these tests pin the SEMANTICS — the properties that stay
true when the oracle is re-rendered or the fixture changes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_formatter_spark.operators import corpus, dedup


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- incremental dedup ------------------------------------------------------


def _fixture_docs(spark):
    rows = [
        (0, "alpha beta"),        # batch, survivor of key K1
        (5, "alpha  BETA!"),      # batch, same normalized key -> dup_in_batch
        (10, "gamma delta"),      # batch, key present in corpus -> dup_of_corpus
        (15, "unique batch doc"),  # batch, new
        (1, "gamma delta"),       # corpus
        (2, "corpus only text"),  # corpus
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_statuses(spark):
    d = _fixture_docs(spark)
    out = dedup.incremental_dedup(
        batch=d.where(F.col("doc_id") % 5 == 0),
        corpus=d.where(F.col("doc_id") % 5 != 0),
    )
    got = {r["doc_id"]: r["status"] for r in out.collect()}
    assert got == {0: "new", 5: "dup_in_batch", 10: "dup_of_corpus", 15: "new"}


def test_incremental_dedup_consistent_with_full_dedup(spark, docs):
    """A batch doc is 'new' iff running exact_dedup over batch ∪ corpus
    would keep it as a survivor whose key has no corpus member — i.e.
    incremental processing reaches the same decisions as the full-corpus
    recompute it replaces."""
    batch = docs.where(F.col("doc_id") % 5 == 0)
    rest = docs.where(F.col("doc_id") % 5 != 0)
    inc = dedup.incremental_dedup(batch=batch, corpus=rest).collect()

    full = {
        r["doc_id"]: r
        for r in dedup.exact_dedup(docs).collect()
    }
    corpus_keys = {
        full[r["doc_id"]]["group_key"]
        for r in rest.select("doc_id").collect()
    }
    batch_ids = sorted(r["doc_id"] for r in batch.select("doc_id").collect())
    min_batch_by_key: dict[str, int] = {}
    for i in batch_ids:
        min_batch_by_key.setdefault(full[i]["group_key"], i)
    for r in inc:
        i, key = r["doc_id"], full[r["doc_id"]]["group_key"]
        if key in corpus_keys:
            assert r["status"] == "dup_of_corpus", i
        elif min_batch_by_key[key] != i:
            assert r["status"] == "dup_in_batch", i
        else:
            assert r["status"] == "new", i


def test_incremental_dedup_empty_sides(spark, docs):
    empty = docs.limit(0)
    # empty batch: zero rows, stable schema
    out = dedup.incremental_dedup(batch=empty, corpus=docs)
    assert out.count() == 0
    assert out.columns == ["doc_id", "group_key", "status"]
    # empty corpus: reduces to within-batch exact dedup
    out2 = dedup.incremental_dedup(batch=docs, corpus=empty)
    assert out2.where(F.col("status") == "dup_of_corpus").count() == 0
    assert out2.count() == docs.count()


# --- mixture assembly --------------------------------------------------------


def test_mixture_epochs_counts(spark, docs):
    out = corpus.mixture_epochs(docs)
    per_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    expected = sum(
        per_src[s] * corpus.MIX_EPOCHS.get(s, corpus.MIX_DEFAULT_EPOCHS)
        for s in per_src
    )
    assert out.count() == expected
    # epoch index set per source is exactly 0..e-1
    eps = {
        (r["source"], r["mx"])
        for r in out.groupBy("source").agg(F.max("epoch").alias("mx")).collect()
    }
    for s, mx in eps:
        assert mx == corpus.MIX_EPOCHS.get(s, corpus.MIX_DEFAULT_EPOCHS) - 1
    # the shuffle key is unique per replica (a doc's epochs never collide)
    assert out.select("mix_key").distinct().count() == expected


def test_mixture_epochs_empty(spark, docs):
    out = corpus.mixture_epochs(docs.limit(0))
    assert out.count() == 0
    assert out.columns == ["doc_id", "source", "epoch", "mix_key"]


# --- temporal split ---------------------------------------------------------------


def test_temporal_split_three_way(spark):
    from log_formatter_spark.operators import conversations

    rows = [
        ("a", 1, "2024-01-10 10:00:00"),
        ("a", 2, "2024-01-10 10:05:00"),   # all before -> train
        ("b", 1, "2024-01-20 09:00:00"),   # all after  -> eval
        ("c", 1, "2024-01-15 23:50:00"),
        ("c", 2, "2024-01-16 00:10:00"),   # spans cutoff -> straddle
        ("d", 1, None),                     # null ts: excluded entirely
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts string").select(
        "conv_id", "turn_idx", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        r["conv_id"]: r
        for r in conversations.temporal_split(t, "2024-01-16 00:00:00").collect()
    }
    assert out["a"]["split"] == "train" and out["a"]["n_turns"] == 2
    assert out["b"]["split"] == "eval"
    assert out["c"]["split"] == "straddle"
    assert "d" not in out


def test_temporal_split_no_leakage(spark, sf_dir):
    """The audit property: no unit labeled train contains a turn at or
    after the cutoff; no eval unit contains one before it."""
    from log_formatter_spark import contract
    from log_formatter_spark.operators import conversations, sessions
    from log_formatter_spark.transcripts import transcripts_from_events

    turns = sessions.numbered_sessions(transcripts_from_events(spark, sf_dir))
    out = conversations.temporal_split(
        turns, contract.TEMPORAL_CUTOFF, unit_cols=("conv_id", "sess_id")
    )
    cut = F.lit(contract.TEMPORAL_CUTOFF).cast("timestamp")
    j = turns.join(out, ["conv_id", "sess_id"])
    assert j.where((F.col("split") == "train") & (F.col("ts") >= cut)).count() == 0
    assert j.where((F.col("split") == "eval") & (F.col("ts") < cut)).count() == 0
    # units partition the turns: every non-null-ts turn is covered once
    assert j.count() == turns.where(F.col("ts").isNotNull()).count()


def test_mixture_epochs_zero_drops_source(spark):
    d = spark.createDataFrame(
        [(1, "a", "keep"), (2, "b", "drop"), (3, "c", "keep")],
        "doc_id long, text string, source string",
    )
    out = corpus.mixture_epochs(d, epochs={"keep": 2, "drop": 0})
    rows = out.collect()
    assert {r["source"] for r in rows} == {"keep"}
    assert len(rows) == 4


# --- validation report ---------------------------------------------------------


def test_validation_report_counts_injected_violations(spark):
    from datetime import datetime

    from log_formatter_spark.operators import validate

    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, datetime(2024, 3, 1), 10, "click", 1.0),      # clean
        (2, datetime(2024, 3, 1), None, "view", 2.0),     # null user
        (3, None, 11, "purchase", 3.0),                    # null ts (+ ts rule: null pred -> violation)
        (4, datetime(2024, 3, 1), 12, "bogus", 4.0),      # unknown type
        (5, datetime(2023, 1, 1), 13, "error", 5.0),      # ts below range
        (6, datetime(2024, 3, 1), 14, "signup", -1.0),    # nonpositive value
        (6, datetime(2024, 3, 1), 15, "click", 6.0),      # duplicate id
        (7, datetime(2024, 3, 1), 16, "click", None),     # null value -> violation (unevaluable)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    rep = {r["rule"]: r for r in validate.validate_events(df).collect()}
    assert rep["null_user_id"]["n_violations"] == 1
    assert rep["null_ts"]["n_violations"] == 1
    assert rep["unknown_event_type"]["n_violations"] == 1
    assert rep["ts_out_of_range"]["n_violations"] == 2  # row 5 + null-ts row 3
    assert rep["nonpositive_value"]["n_violations"] == 2  # row 6 + null-value row 7
    assert rep["duplicate_event_id"]["n_violations"] == 1
    assert all(r["n_rows"] == 8 for r in rep.values())
    assert rep["null_user_id"]["violation_rate"] == 1 / 8


def test_validation_report_empty_input(spark):
    from log_formatter_spark.operators import validate

    df = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    rep = {r["rule"]: r for r in validate.validate_events(df).collect()}
    assert len(rep) == 6
    assert all(r["n_rows"] == 0 and r["violation_rate"] is None for r in rep.values())
    assert all(r["n_violations"] == 0 for r in rep.values())


# --- compaction -----------------------------------------------------------------


def test_compact_dir_reduces_files_preserves_rows(spark, tmp_path):
    import os

    from log_formatter_spark.sinks.writer import compact_dir

    src = str(tmp_path / "frag")
    spark.range(0, 20000).selectExpr(
        "id", "CAST(id % 97 AS STRING) AS k"
    ).repartition(64).write.parquet(src)
    before = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(before) == 64
    rows_before = spark.read.parquet(src).count()

    n = compact_dir(spark, src, target_bytes=10 * 1024 * 1024, sort_cols=["id"])
    after = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(after) == n and n < len(before)
    compacted = spark.read.parquet(src)
    assert compacted.count() == rows_before
    assert compacted.agg(F.sum("id")).first()[0] == sum(range(20000))
    # sorted-within-file: ranges of consecutive files don't interleave
    # (repartitionByRange + sortWithinPartitions)
    assert compacted.columns == ["id", "k"]


def test_compact_dir_rejects_remote_and_leftovers(spark, tmp_path):
    """r3 ADVICE: compact_dir is local-FS-only (os.walk sizing + POSIX
    renames) and must fail loudly on remote schemes and on crash
    leftovers instead of miscounting or dying mid-swap."""
    import os

    import pytest as _pytest

    from log_formatter_spark.sinks.writer import compact_dir

    with _pytest.raises(ValueError, match="driver-local"):
        compact_dir(spark, "s3a://bucket/table")
    with _pytest.raises(ValueError, match="not a local directory"):
        compact_dir(spark, str(tmp_path / "missing"))

    src = str(tmp_path / "frag2")
    spark.range(0, 100).write.parquet(src)
    os.mkdir(src + "._compact_old")
    with _pytest.raises(ValueError, match="leftover"):
        compact_dir(spark, src)
    os.rmdir(src + "._compact_old")

    # a file:// URI of a real local dir still works
    n = compact_dir(spark, "file://" + src)
    assert n >= 1 and spark.read.parquet(src).count() == 100


def test_interval_and_neardup_empty_inputs(spark):
    from log_formatter_spark.operators.asof import attribution_window

    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = attribution_window(empty_ev)
    assert out.count() == 0
    assert out.columns == [
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts", "gap_us",
    ]


# --- SFT example mining -----------------------------------------------------------


def test_sft_pairs_context_rendering(spark):
    import hashlib

    from log_formatter_spark.transcripts import sft_pairs

    rows = [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "hello"),
        ("c1", 2, "user", "how are you"),
        ("c1", 3, "assistant", "fine"),
        ("c1", 4, "user", "bye"),
        ("c1", 5, "assistant", "later"),
        ("c2", 0, "assistant", "opener"),  # empty context: excluded
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {(r["conv_id"], r["turn_idx"]): r for r in sft_pairs(t, context_turns=4).collect()}
    # turn 3's context: the 3 preceding turns (frame bounded at conv start)
    ctx3 = "user: hi\nassistant: hello\nuser: how are you"
    assert out[("c1", 3)]["context_md5"] == hashlib.md5(ctx3.encode()).hexdigest()
    assert out[("c1", 3)]["context_chars"] == len(ctx3)
    assert out[("c1", 3)]["response_md5"] == hashlib.md5(b"fine").hexdigest()
    # turn 5's context: exactly the 4 preceding turns, older ones dropped
    ctx5 = "assistant: hello\nuser: how are you\nassistant: fine\nuser: bye"
    assert out[("c1", 5)]["context_md5"] == hashlib.md5(ctx5.encode()).hexdigest()
    # opener with no context excluded; user turns never become examples
    assert ("c2", 0) not in out
    assert set(out) == {("c1", 1), ("c1", 3), ("c1", 5)}


def test_quality_deciles_partition_properties(spark, docs):
    out = corpus.quality_deciles(docs).collect()
    n = docs.count()
    sizes = {r["decile"]: r["n_docs"] for r in out}
    assert set(sizes) == set(range(10))
    assert sum(sizes.values()) == n
    # exact-rank deciles: every band is floor(n/10) or ceil(n/10) docs
    assert all(s in (n // 10, n // 10 + (1 if n % 10 else 0)) for s in sizes.values())
    # bands are ordered and non-overlapping on score
    rows = sorted(out, key=lambda r: r["decile"])
    for a, b in zip(rows, rows[1:]):
        assert a["hi_score"] <= b["lo_score"]
    # token mass conservation
    total = docs.select(
        F.sum(F.size(F.filter(F.split(F.lower("text"), " "), lambda t: t != F.lit("")))
        )
    ).first()[0]
    assert sum(r["total_tokens"] for r in out) == total


# --- review-fix regressions (round-3d code review) -----------------------------


def test_quality_deciles_excludes_zero_token_docs(spark, docs):
    weird = docs.limit(5).withColumn("text", F.lit("")).unionByName(docs)
    out = corpus.quality_deciles(weird).collect()
    # empty docs carry no token mass and must not shift decile edges
    assert sum(r["n_docs"] for r in out) == docs.count()


def test_sft_pairs_null_turns_excluded(spark):
    from log_formatter_spark.transcripts import sft_pairs

    rows = [
        ("c", 0, "user", "hi"),
        ("c", 1, None, "ghost"),        # null role: excluded from frames
        ("c", 2, "assistant", None),    # null text: excluded entirely
        ("c", 3, "assistant", "resp"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    out = {(r["conv_id"], r["turn_idx"]) for r in sft_pairs(t).collect()}
    assert out == {("c", 3)}
    import hashlib

    row3 = sft_pairs(t).collect()[0]
    assert row3["context_md5"] == hashlib.md5(b"user: hi").hexdigest()
