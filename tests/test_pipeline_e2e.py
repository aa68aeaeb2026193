"""E2E: full parse→enrich→route→aggregate pipeline vs the pure-Python
oracle (FIXTURES.md §6 invariants: routed-row equality, per-sink counts,
discard ledger, parallelism-invariance)."""

from __future__ import annotations

from collections import Counter

import pytest

from log_formatter_spark.oracle import run_oracle
from log_formatter_spark.pipeline import (
    PipelineOptions,
    full_pipeline,
    parsed_enriched_routed,
)
from log_formatter_spark.transcripts import synthetic_transcripts, transcripts_from_events


@pytest.fixture(scope="module")
def transcripts(spark, sf_dir):
    return transcripts_from_events(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def oracle_result(spark, transcripts):
    rows = [r.asDict() for r in transcripts.collect()]
    return run_oracle(rows)


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_routed_rows_match_oracle(spark, transcripts, oracle_result, engine):
    routed_o, _, _ = oracle_result
    got = parsed_enriched_routed(
        spark, transcripts, PipelineOptions(engine=engine)
    ).collect()
    want = {
        (d["conv_id"], d["turn_idx"]): (d["route"], d["parse_ok"], d.get("level"), d["role_class"], d["tool_kind"])
        for d in routed_o
    }
    assert len(got) == len(want)
    for r in got:
        w = want[(r["conv_id"], r["turn_idx"])]
        assert (r["route"], r["parse_ok"], r["level"], r["role_class"], r["tool_kind"]) == w


def test_per_turn_text_equality(spark, transcripts, oracle_result):
    # north-rule invariant: per-turn text equality under stable ordering
    routed_o, _, _ = oracle_result
    want = {(d["conv_id"], d["turn_idx"]): d["text"] for d in routed_o}
    from log_formatter_spark.operators.ordering import canonical_order

    got = canonical_order(transcripts).collect()
    assert [r["text"] for r in got] == [
        want[(r["conv_id"], r["turn_idx"])] for r in got
    ]


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_sink_aggregates_match_oracle(spark, transcripts, oracle_result, engine):
    _, agg_o, _ = oracle_result
    got = full_pipeline(spark, transcripts, PipelineOptions(engine=engine)).collect()
    got_c = Counter()
    for r in got:
        got_c[(r["route"], r["role"], r["tool"], r["hour"])] = r["n"]
    assert got_c == agg_o


def test_discard_count_matches(spark, transcripts, oracle_result):
    _, _, metrics = oracle_result
    df = parsed_enriched_routed(spark, transcripts)
    discarded = df.filter(~df.parse_ok).count()
    assert discarded == metrics["rows_discarded"]
    assert df.count() == metrics["rows_in"]


def test_parallelism_invariance(spark, transcripts):
    # identical aggregate results with and without salted repartition,
    # at different partition counts (FIXTURES.md §6.5)
    base = sorted(map(str, full_pipeline(spark, transcripts).collect()))
    salted = sorted(
        map(
            str,
            full_pipeline(
                spark, transcripts, PipelineOptions(repartition=16)
            ).collect(),
        )
    )
    assert base == salted


def test_synthetic_generator_deterministic(spark):
    a = synthetic_transcripts(spark, 5000).collect()
    b = synthetic_transcripts(spark, 5000).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    # schema contract (input_hint)
    df = synthetic_transcripts(spark, 100)
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    assert df.schema["turn_idx"].dataType.simpleString() == "int"
    # hot conv 0 owns ~10%
    n0 = df.filter(df.conv_id == "conv-00000000").count()
    assert n0 == 10
