"""One pipeline definition: the flagship ``pipeline`` section run as a
batch job (``run_batch`` with ``output.aggregates``), as a stream
(``run_streaming_pipeline``) and through the streaming CLI gives the
same routed rows, aggregates and counts, through the one shared writer
(``sinks.writer.write_pipeline_output``)."""

from __future__ import annotations

import textwrap
from collections import Counter

import pytest
from pyspark.sql import functions as F

import log_formatter_spark
from log_formatter_spark.__main__ import main
from log_formatter_spark.operators.route import DEFAULT_ROUTES
from log_formatter_spark.pipeline import PipelineOptions
from log_formatter_spark.plans import run_batch
from log_formatter_spark.sinks import read_sink
from log_formatter_spark.streaming import (
    read_final_aggregates,
    read_ledger,
    read_routed_stream_output,
    run_streaming_pipeline,
)
from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN, transcripts_from_events


@pytest.fixture(scope="module")
def src(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("one_pipeline") / "in")
    transcripts_from_events(spark, sf_dir).repartition(2).write.parquet(path)
    return path


def _keys(df):
    return {(r["conv_id"], r["turn_idx"], r["route"]) for r in df.collect()}


def _agg(df):
    return {(r["route"], r["role"], r["tool"], r["hour"]): r["n"] for r in df.collect()}


def _batch_cfg(src, pipe, out, **input_extra):
    return {
        "input": {"target": "parquet", "path": src, **input_extra},
        "pipeline": pipe,
        "output": {"target": "parquet", "path": f"{out}/routed", "aggregates": f"{out}/agg"},
    }


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_flagship_batch_equals_streaming(spark, src, tmp_path, engine):
    pipe = PipelineOptions(engine=engine).section()
    run_batch(spark, _batch_cfg(src, pipe, tmp_path / "batch"))
    ledger = run_streaming_pipeline(
        spark, src, str(tmp_path / "stream"), str(tmp_path / "ckpt"), pipe,
        max_files_per_trigger=1,
    )

    batch = read_sink(spark, str(tmp_path / "batch" / "routed"))
    stream = read_routed_stream_output(spark, str(tmp_path / "stream"))
    assert stream.count() == batch.count()
    assert _keys(stream) == _keys(batch)

    batch_agg = _agg(spark.read.parquet(str(tmp_path / "batch" / "agg")))
    assert batch_agg and _agg(read_final_aggregates(spark, str(tmp_path / "stream"))) == batch_agg

    routes = Counter(r["route"] for r in batch.select("route").collect())
    parsed = batch.where(F.col("parse_ok")).count()
    snap = ledger.snapshot()
    assert {r: snap[f"routed_{r}"] for r in DEFAULT_ROUTES} == {r: routes[r] for r in DEFAULT_ROUTES}
    assert snap["rows_parsed"] == parsed
    assert snap["rows_discarded"] == batch.count() - parsed


def test_streaming_cli_applies_the_config_pipeline(spark, src, tmp_path, monkeypatch):
    """A non-default chain (salted worker repartition, labels) reaches
    every micro-batch of ``--streaming``."""
    cfg = tmp_path / "stream.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            input: {{target: stream_transcripts, path: "{src}", max_files_per_trigger: 1}}
            pipeline:
              worker: 4
              formatters:
                - parser: {{components_regex: '{TRANSCRIPT_PATTERN}', engine: jvm}}
                - enrich
                - route
              labels: {{env: prod}}
            output: {{target: noop}}
            """
        )
    )
    # the CLI owns its session; lend it the suite's and keep it running
    monkeypatch.setattr(log_formatter_spark, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    out = str(tmp_path / "out")
    argv = ["-c", str(cfg), "--streaming", "--out", out, "--checkpoint", str(tmp_path / "ckpt")]
    assert main(argv) == 0

    got = read_routed_stream_output(spark, out)
    assert [r["env"] for r in got.select("env").distinct().collect()] == ["prod"]
    assert got.count() == spark.read.parquet(src).count()


def test_aggregates_need_the_parquet_target(spark, src, tmp_path):
    cfg = _batch_cfg(src, PipelineOptions().section(), tmp_path)
    cfg["output"]["target"] = "noop"
    with pytest.raises(ValueError, match="aggregates needs the parquet target"):
        run_batch(spark, cfg)


def test_empty_input_through_the_shared_writer(spark, src, tmp_path):
    """Zero rows commit no routed file; the read-back must not need one
    to infer a schema, in batch or in an empty micro-batch."""
    pipe = PipelineOptions(engine="jvm").section()
    run_batch(spark, _batch_cfg(src, pipe, tmp_path / "batch", where="false"))
    assert spark.read.parquet(str(tmp_path / "batch" / "agg")).count() == 0

    empty = str(tmp_path / "empty_in")
    spark.read.parquet(src).limit(0).write.parquet(empty)
    ledger = run_streaming_pipeline(
        spark, empty, str(tmp_path / "stream"), str(tmp_path / "ckpt"), pipe
    )
    assert read_ledger(spark, str(tmp_path / "stream" / "ledger")).count() > 0
    assert ledger.snapshot()["rows_in"] == 0
