"""Physical-plan regression tests — the 100 TB guarantees.

Each assertion pins a plan property that keeps the pipeline viable at
cluster scale: broadcast (not shuffle) joins for enrichment, column
pruning into the parquet scan, predicate pushdown, and a bounded
exchange count for the flagship DAG.
"""

from __future__ import annotations

from log_formatter_spark.functions.text import text_stats
from log_formatter_spark.pipeline import PipelineOptions, full_pipeline
from log_formatter_spark.transcripts import transcripts_from_events


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_is_broadcast_join(spark, sf_dir):
    df = full_pipeline(spark, transcripts_from_events(spark, sf_dir))
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 2  # role + tool lookups
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_flagship_has_two_exchanges(spark, sf_dir):
    # window (turn_idx derivation) + final aggregate; broadcast exchanges
    # excluded — they move only the tiny lookup dims
    spark.catalog.clearCache()  # cached views from other modules distort the plan print
    df = full_pipeline(
        spark, transcripts_from_events(spark, sf_dir), PipelineOptions(engine="jvm")
    )
    plan = _plan(df)
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles == 2, f"expected 2 hash exchanges, got {shuffles}:\n{plan}"


def test_text_stats_prunes_scan_columns(spark, sf_dir):
    df = text_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = _plan(df)
    # scan must read only (doc_id, text) — not lang/source/n_chars
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "doc_id" in scan[0] and "text" in scan[0]
    assert "lang" not in scan[0] and "source" not in scan[0]


def test_corpus_filter_is_single_pass(spark, sf_dir):
    # quality/lang/token columns are map-only projections of one scan;
    # the only shuffle is the dedup window — no joins anywhere
    from log_formatter_spark.operators.corpus import corpus_filter

    df = corpus_filter(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_parse_stays_whole_stage_codegen(spark, sf_dir):
    # jvm grok engine must fuse into WholeStageCodegen with the scan
    from log_formatter_spark.operators.parser import ParserConfig, apply_parser
    from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

    t = transcripts_from_events(spark, sf_dir)
    df = apply_parser(t, ParserConfig(TRANSCRIPT_PATTERN, "text", engine="jvm"))
    df.collect()  # finalize this QueryExecution's AQE plan
    plan = _plan(df)
    # "*(n)" prefixes mark WholeStageCodegen stages in the final plan;
    # the parse projection must carry one
    assert "*(" in plan and "RLIKE" in plan
    assert "ArrowEvalPython" not in plan  # no python in the jvm path
    assert "BatchEvalPython" not in plan  # and no row-at-a-time python


def test_arrow_parse_is_single_python_eval(spark, sf_dir):
    # the arrow engine must cross to Python exactly once per row batch
    from log_formatter_spark.operators.parser import ParserConfig, apply_parser
    from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

    t = transcripts_from_events(spark, sf_dir)
    df = apply_parser(t, ParserConfig(TRANSCRIPT_PATTERN, "text", engine="arrow"))
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1

