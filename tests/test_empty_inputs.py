"""Empty-input robustness: every major operator must plan and execute
over zero-row inputs with a stable schema — no crashes from empty
collects, empty windows, or empty aggregations. (Limit(0) is the
verify probe for 'what happens on the first empty micro-batch'.)"""

from __future__ import annotations

import pytest

from log_formatter_spark.functions import shingles as sh
from log_formatter_spark.functions import text as T
from log_formatter_spark.functions.redact import redact_text
from log_formatter_spark.operators import corpus, dedup, sessions
from log_formatter_spark.operators.parser import ParserConfig, apply_parser
from log_formatter_spark.pipeline import full_pipeline
from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN, transcripts_from_events


@pytest.fixture(scope="module")
def empty_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0)


@pytest.fixture(scope="module")
def empty_transcripts(spark, sf_dir):
    return transcripts_from_events(spark, sf_dir).limit(0)


def test_pipeline_on_empty_input(spark, empty_transcripts):
    for engine in ("arrow", "jvm"):
        from log_formatter_spark.pipeline import PipelineOptions

        out = full_pipeline(spark, empty_transcripts, PipelineOptions(engine=engine))
        assert out.count() == 0
        assert set(out.columns) == {"route", "role", "tool", "hour", "n"}


def test_parser_on_empty_input(spark, empty_transcripts):
    for engine in ("arrow", "jvm"):
        out = apply_parser(
            empty_transcripts, ParserConfig(TRANSCRIPT_PATTERN, "text", engine=engine)
        )
        assert out.count() == 0
        assert "parse_ok" in out.columns


@pytest.mark.parametrize(
    "build",
    [
        dedup.exact_dedup,
        lambda d: dedup.minhash_signatures(d, n=3),
        lambda d: dedup.minhash_pairs(d, n=3),
        # ids kept from when the SimHash and n-gram Jaccard cases were
        # <lambda>2-4 and three multimodal cases were <lambda>14-16
        pytest.param(lambda d: corpus.corpus_filter(d), id="<lambda>5"),
        pytest.param(lambda d: T.text_stats(d), id="<lambda>6"),
        pytest.param(lambda d: redact_text(d), id="<lambda>7"),
        pytest.param(lambda d: T.lang_id(d), id="<lambda>8"),
        pytest.param(lambda d: T.token_count(d), id="<lambda>9"),
        pytest.param(lambda d: sh.fingerprint(d, n=5), id="<lambda>10"),
        pytest.param(lambda d: sh.winnow(d, n=3, w=4), id="<lambda>11"),
        pytest.param(lambda d: sh.winnow_pairs(d, n=3, w=4), id="<lambda>12"),
        pytest.param(lambda d: sh.repetition_score(d, n=3), id="<lambda>13"),
        pytest.param(lambda d: corpus.line_dedup(corpus.line_fixture(d)), id="<lambda>17"),
        pytest.param(lambda d: corpus.line_dedup(d), id="<lambda>18"),
        pytest.param(lambda d: corpus.gopher_rules(d), id="<lambda>19"),
    ],
)
def test_doc_operators_on_empty_input(spark, empty_docs, build):
    assert build(empty_docs).count() == 0


def test_sessions_on_empty_input(spark, empty_transcripts):
    assert sessions.conversation_sessions(empty_transcripts).count() == 0


def test_assembly_on_empty_input(spark, empty_transcripts):
    from log_formatter_spark.transcripts import assemble_conversations

    assert assemble_conversations(empty_transcripts).count() == 0


def test_asof_kmv_on_empty_input(spark, sf_dir):
    from log_formatter_spark.functions.sketch import kmv_distinct
    from log_formatter_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    empty = ev.limit(0)
    assert kmv_distinct(empty, "event_type", "user_id").count() == 0
    # empty left keeps schema; empty right means every left row gets nulls
    assert asof_join(empty, ev, on="user_id", ts_col="ts").count() == 0
    joined = asof_join(ev.limit(5), empty, on="user_id", ts_col="ts")
    rows = joined.collect()
    assert len(rows) == 5 and all(r["asof_ts"] is None for r in rows)


def test_round3c_operators_on_empty_input(spark, empty_docs, empty_transcripts):
    from pyspark.sql import functions as F

    from log_formatter_spark.operators import olap
    from log_formatter_spark.operators.conversations import (
        conv_dedup,
        conv_qa,
        conv_session_keys,
    )

    assert conv_dedup(empty_transcripts, prefix_turns=2).count() == 0
    assert conv_qa(empty_transcripts, TRANSCRIPT_PATTERN).count() == 0
    assert conv_session_keys(empty_transcripts).count() == 0
    assert olap.error_burst(empty_transcripts, TRANSCRIPT_PATTERN).count() == 0
    assert (
        corpus.decontaminate(empty_docs, eval_pred=F.col("doc_id") % 23 == 0).count()
        == 0
    )
    assert corpus.boilerplate_fraction(empty_docs).count() == 0


def test_round4d_operators_on_empty_input(spark, empty_transcripts):
    """The seven round-4d operators under the limit(0) probe (empty
    collects, windows and aggregations must keep a stable schema)."""
    from log_formatter_spark.operators import conversations, olap, skew
    from log_formatter_spark.operators.aggregate import merge_sink_aggregates
    from log_formatter_spark.transcripts import (
        TRANSCRIPT_PATTERN,
        tool_pagerank,
        tool_transitions,
    )

    outs = [
        tool_transitions(empty_transcripts),
        tool_pagerank(empty_transcripts),
        olap.rate_anomaly(empty_transcripts),
        olap.error_streaks(empty_transcripts, TRANSCRIPT_PATTERN),
        conversations.conv_protocol(empty_transcripts),
        skew.key_skew_report(empty_transcripts),
        merge_sink_aggregates(
            full_pipeline(spark, empty_transcripts),
            full_pipeline(spark, empty_transcripts),
        ),
    ]
    for out in outs:
        assert out.count() == 0
        assert out.columns  # stable schema


def test_key_skew_report_generic_key(spark, sf_dir):
    """Non-string key + non-transcript salt columns (the code-review
    genericity finding)."""
    from log_formatter_spark.operators import skew

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rep = skew.key_skew_report(ev, key="user_id", salt_cols=("event_id",), k=5)
    rows = rep.collect()
    assert rows
    plain = dict(
        (r["user_id"], r["count"]) for r in ev.groupBy("user_id").count().collect()
    )
    for r in rows:
        assert r["n_rows"] == plain[r["user_id"]]


def test_round5e_ops_on_empty_docs(empty_docs):
    assert corpus.rater_agreement(empty_docs).count() == 0
    assert corpus.token_budget_fill(empty_docs).count() == 0
    assert corpus.quality_calibration(empty_docs).count() == 0
