"""Streaming flagship: exactly-once multi-sink fan-out, checkpoint
resume, ledger accounting, watermarked windowed aggregates.

The resume test is the content-exact upgrade of the reference's E2E
line-count check (test/check-same-line.sh) under restart: run →
add new input → resume from the same checkpoint → final state equals a
single batch run over everything, with no double-writes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from log_formatter_spark.pipeline import full_pipeline, parsed_enriched_routed
from log_formatter_spark.streaming import (
    read_final_aggregates,
    read_ledger,
    read_routed_stream_output,
    run_streaming_pipeline,
    streaming_hourly_counts,
    stream_transcripts,
)
from log_formatter_spark.transcripts import transcripts_from_events


def _routed_key_set(df):
    return {
        (r["conv_id"], r["turn_idx"], r["route"]) for r in df.collect()
    }


def test_streaming_equals_batch_and_resumes(spark, sf_dir, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t = transcripts_from_events(spark, sf_dir).cache()
    first = t.where(F.col("conv_id") < "conv-00000030")
    second = t.where(F.col("conv_id") >= "conv-00000030")

    # stage 1: two files available, one file per micro-batch
    first.repartition(2).write.mode("overwrite").parquet(src)
    ledger = run_streaming_pipeline(
        spark, src, out, ckpt, max_files_per_trigger=1
    )
    snap1 = ledger.snapshot()
    assert snap1["rows_in"] == first.count()
    n_batches_1 = read_ledger(spark, out + "/ledger").select("batch_id").distinct().count()
    assert n_batches_1 >= 2  # maxFilesPerTrigger=1 over 2 files

    # stage 2: new data arrives; resume from the same checkpoint WITH A
    # SWAPPED PLAN CONFIG (arrow -> jvm parse engine) — the rebuild of the
    # reference's hot-reconfig (build new pipeline, swap, continue;
    # agent/pipeline/pipeline.go:125-136): config change = relaunch from
    # checkpoint, results must stay exactly consistent
    from log_formatter_spark.pipeline import PipelineOptions

    second.repartition(1).write.mode("append").parquet(src)
    run_streaming_pipeline(
        spark, src, out, ckpt,
        opts=PipelineOptions(engine="jvm"),
        max_files_per_trigger=1,
    )

    # routed rows == batch pipeline over everything, no dupes
    got = read_routed_stream_output(spark, out)
    want = parsed_enriched_routed(spark, t)
    assert got.count() == t.count()
    assert _routed_key_set(got) == _routed_key_set(want)

    # final aggregates == batch aggregates exactly
    fin = {
        (r["route"], r["role"], r["tool"], r["hour"]): r["n"]
        for r in read_final_aggregates(spark, out).collect()
    }
    batch = {
        (r["route"], r["role"], r["tool"], r["hour"]): r["n"]
        for r in full_pipeline(spark, t).collect()
    }
    assert fin == batch

    # ledger: batch ids strictly continued (no replay of stage-1 batches)
    led = read_ledger(spark, out + "/ledger")
    n_batches_2 = led.select("batch_id").distinct().count()
    assert n_batches_2 == n_batches_1 + 1
    # cumulative rows_in in the ledger's last batch equals total
    last = (
        led.where(F.col("metric") == "rows_in")
        .orderBy(F.col("batch_id").desc())
        .first()
    )
    assert last["cumulative"] == t.count()


def test_ledger_replay_does_not_double_count(spark, sf_dir, tmp_path):
    """Mid-batch-crash simulation: the ledger partition for batch N was
    written but the streaming checkpoint never committed, so batch N is
    replayed after restart. The recovered cumulatives already include
    N; the replayed record_batch must retract before re-adding."""
    from log_formatter_spark.operators.route import DEFAULT_ROUTES
    from log_formatter_spark.streaming.ledger import MetricsLedger

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    t = transcripts_from_events(spark, sf_dir)
    t.write.mode("overwrite").parquet(src)
    run_streaming_pipeline(spark, src, out, str(tmp_path / "ckpt"))

    led = read_ledger(spark, out + "/ledger")
    last_id = led.agg(F.max("batch_id")).first()[0]
    before = {
        r["metric"]: r["cumulative"]
        for r in led.where(F.col("batch_id") == last_id).collect()
    }
    replay_counts = {
        r["metric"]: r["batch_value"]
        for r in led.where(F.col("batch_id") == last_id).collect()
    }

    # restart: a fresh ledger recovers cumulatives that already include
    # the uncommitted batch, then the engine replays that batch
    ledger2 = MetricsLedger(spark, DEFAULT_ROUTES, out + "/ledger")
    assert ledger2.snapshot() == before
    ledger2.record_batch(last_id, replay_counts)
    assert ledger2.snapshot() == before, "replay double-counted the batch"
    after = {
        r["metric"]: r["cumulative"]
        for r in read_ledger(spark, out + "/ledger")
        .where(F.col("batch_id") == last_id)
        .collect()
    }
    assert after == before


def test_ledger_recovers_a_metric_first_seen_in_a_later_batch(spark, tmp_path):
    """Recovery reads only the newest partition; every batch records
    every accumulator, so a metric that appeared after batch 0 and a
    metric absent from the newest batch's counts both come back."""
    from log_formatter_spark.streaming.ledger import MetricsLedger

    led = str(tmp_path / "ledger")
    ledger = MetricsLedger(spark, ["a"], led)
    ledger.record_batch(0, {"rows_in": 3, "routed_a": 3})
    ledger.record_batch(1, {"rows_in": 2, "routed_b": 2})
    ledger.record_batch(2, {"rows_in": 1})
    want = {"rows_in": 6, "rows_parsed": 0, "rows_discarded": 0, "routed_a": 3, "routed_b": 2}
    assert ledger.snapshot() == want
    assert MetricsLedger(spark, ["a"], led).snapshot() == want


def test_ledger_counts_escaped_template_routes(spark, tmp_path):
    """The ledger's routed_* counts come from the committed footers.
    Route values that Spark escapes in directory names, and the empty
    value (stored as the null partition), count under the same keys and
    totals as a grouped count of the rows read back."""
    import datetime

    from log_formatter_spark.streaming.job import TRANSCRIPT_SCHEMA
    from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

    ts = datetime.datetime(2024, 1, 1, 10)
    tools = ["a/b:c", "x%y=z", "é ü{1}", None, "plain"]
    rows = [
        (f"c{i % 7}", i, "tool", f"2024-01-01 10:00:00 INFO turn {i}", tools[i % 5], ts)
        for i in range(40)
    ]
    src = str(tmp_path / "in")
    frame = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    frame.limit(15).coalesce(1).write.parquet(src)
    frame.subtract(frame.limit(15)).coalesce(1).write.mode("append").parquet(src)
    pipe = {
        "formatters": [
            {"parser": {"components_regex": TRANSCRIPT_PATTERN, "engine": "jvm"}},
            {"route": {"template": "{{tool}}"}},
        ]
    }
    out = str(tmp_path / "out")
    ledger = run_streaming_pipeline(
        spark, src, out, str(tmp_path / "ckpt"), pipe, max_files_per_trigger=1
    )
    got = {k: v for k, v in ledger.snapshot().items() if k.startswith("routed_") and v}
    want = {
        f"routed_{r['route']}": r["count"]
        for r in read_routed_stream_output(spark, out).groupBy("route").count().collect()
    }
    assert got == want
    assert got == {
        "routed_a/b:c": 8, "routed_x%y=z": 8, "routed_é ü{1}": 8, "routed_None": 8,
        "routed_plain": 8,
    }
    assert ledger.snapshot()["rows_in"] == 40


def test_watermarked_hourly_counts(spark, sf_dir, tmp_path):
    src = str(tmp_path / "in")
    t = transcripts_from_events(spark, sf_dir)
    t.write.mode("overwrite").parquet(src)

    stream = stream_transcripts(spark, src)
    q = (
        streaming_hourly_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["win"]["start"], r["role"]): r["n"]
        for r in spark.sql("SELECT * FROM hourly").collect()
    }
    want = {
        (r["hour"], r["role"]): r["n"]
        for r in t.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "role"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
