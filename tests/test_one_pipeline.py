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
from log_formatter_spark.lookups import ROLE_ROWS, TOOL_ROWS, role_lookup, tool_lookup
from log_formatter_spark.operators.route import DEFAULT_ROUTES
from log_formatter_spark.pipeline import PipelineOptions, parsed_enriched_routed
from log_formatter_spark.plans import run_batch
from log_formatter_spark.sinks import read_sink
from log_formatter_spark.streaming import (
    read_final_aggregates,
    read_ledger,
    read_routed_stream_output,
    run_streaming_pipeline,
)
from log_formatter_spark.streaming.ledger import MetricsLedger
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
    out = str(tmp_path / "out")
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
            output: {{target: parquet, path: "{out}"}}
            """
        )
    )
    # the CLI owns its session; lend it the suite's and keep it running
    monkeypatch.setattr(log_formatter_spark, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    argv = ["-c", str(cfg), "--streaming", "--checkpoint", str(tmp_path / "ckpt")]
    assert main(argv) == 0

    got = read_routed_stream_output(spark, out)
    assert [r["env"] for r in got.select("env").distinct().collect()] == ["prod"]
    assert got.count() == spark.read.parquet(src).count()


@pytest.mark.parametrize(
    "output, flags, named",
    [
        ("{target: noop}", [], "output.target"),
        ('{target: parquet, path: "OUT", index: "logs-{{level}}"}', [], "index"),
        ('{target: parquet, path: "OUT"}', ["--out", "OUT"], "--out"),
    ],
    ids=["noop-target", "index-key", "out-flag"],
)
def test_streaming_cli_refuses_output_it_cannot_honour(
    spark, src, tmp_path, monkeypatch, capsys, output, flags, named
):
    """``--streaming`` writes only to ``output.path`` of a parquet
    target; any other sink setting fails loudly instead of being
    ignored."""
    out = str(tmp_path / "out")
    cfg = tmp_path / "stream.yml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            input: {{target: stream_transcripts, path: "{src}"}}
            pipeline:
              formatters:
                - parser: {{components_regex: '{TRANSCRIPT_PATTERN}', engine: jvm}}
                - enrich
                - route
            output: {output.replace("OUT", out)}
            """
        )
    )
    monkeypatch.setattr(log_formatter_spark, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    argv = ["-c", str(cfg), "--streaming", "--checkpoint", str(tmp_path / "ckpt")]
    with pytest.raises(SystemExit) as exc:
        main(argv + [f.replace("OUT", out) for f in flags])
    assert exc.value.code == 2
    assert named in capsys.readouterr().err


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


def _nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def test_jvm_pipeline_runs_no_python(spark, src, tmp_path):
    """The jvm engine needs no Python worker: the enrich lookups are
    local relations broadcast straight from the driver, and the ledger
    rows are column literals."""
    df = parsed_enriched_routed(spark, spark.read.parquet(src), PipelineOptions(engine="jvm"))
    plan = df._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" not in plan.toString()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    joins = [n for n in _nodes(plan) if n.nodeName() == "BroadcastHashJoin"]
    assert len(joins) == 2
    for join in joins:
        build = [n.nodeName() for n in _nodes(join.right())]
        assert build == ["BroadcastExchange", "LocalTableScan"]

    roles, tools = role_lookup(spark), tool_lookup(spark)
    assert [tuple(r) for r in roles.collect()] == ROLE_ROWS
    assert [tuple(r) for r in tools.collect()] == TOOL_ROWS
    assert roles.schema.simpleString() == "struct<role:string,role_class:string,priority:int>"
    assert tools.schema.simpleString() == "struct<tool:string,tool_kind:string,is_sideeffect:boolean>"

    # a route name with a quote, and a count past 32 bits
    MetricsLedger(spark, ["it's"], str(tmp_path / "ledger")).record_batch(0, {"rows_in": 2**40})
    part = spark.read.parquet(str(tmp_path / "ledger" / "batch_id=0"))
    assert part.schema.simpleString() == "struct<metric:string,batch_value:bigint,cumulative:bigint>"
    assert sorted(tuple(r) for r in part.collect()) == [
        ("routed_it's", 0, 0),
        ("rows_discarded", 0, 0),
        ("rows_in", 2**40, 2**40),
        ("rows_parsed", 0, 0),
    ]
