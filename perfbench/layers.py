"""Isolated layer legs and the per-layer metrics of the traced run.

Catalyst fuses scan, parse, enrich and route into one stage, so the event
log cannot split their time. Each isolated leg reads the previous
layer's output, written to parquet before any timer starts, applies one
layer's public function and writes the result to the noop sink. A
layer's busy time is its leg minus a scan-only leg over the same input,
so column pruning cannot confound it (both legs materialise every
column). Each input's scan-only leg runs right before the legs that read
that input; the whole set repeats ``REPS`` times and medians are reported.

``layer_metrics`` then combines those legs with the spans and Spark's
event log into every metric of ``PER_LAYER``.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import arrow_udf

from log_formatter_spark.lookups import role_lookup, tool_lookup
from log_formatter_spark.operators.aggregate import sink_aggregates
from log_formatter_spark.operators.enrich import enrich_role_tool
from log_formatter_spark.operators.parser import ParserConfig, apply_parser
from log_formatter_spark.operators.route import add_route
from log_formatter_spark.operators.skew import salted_repartition
from log_formatter_spark.sinks.writer import write_routed

import eventlog as ev

REPS = 2
TAG = "perfbench/layer/"

PER_LAYER = {  # metric -> unit, in report order
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plan.build_s": "s",
    "scan.busy_s": "s",
    "scan.input_bytes": "bytes",
    "parse.arrow.busy_s": "s",
    "parse.jvm.busy_s": "s",
    "parse.arrow.boundary_s": "s",
    "parse.arrow.compute_s": "s",
    "parse.ok_ratio": "ratio",
    "parse.gc_s": "s",
    "skew.shuffle_s": "s",
    "skew.shuffle_write_bytes": "bytes",
    "skew.task_max_over_median": "ratio",
    "enrich.busy_s": "s",
    "enrich.broadcast_s": "s",
    "route.busy_s": "s",
    "route.rows.sink_errors": "count",
    "route.rows.sink_tool": "count",
    "route.rows.sink_user": "count",
    "route.rows.sink_default": "count",
    "agg.busy_s": "s",
    "agg.groups": "count",
    "agg.shuffle_write_bytes": "bytes",
    "agg.peak_memory_bytes": "bytes",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "sink.spill_bytes": "bytes",
    "stream.batches": "count",
    "stream.jobs_per_batch": "count",
    "stream.count_jobs_s": "s",
    "stream.write_s": "s",
    "ledger.record_s": "s",
    "ledger.recover_s": "s",
    "trace.overhead_s": "s",
}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_text(df: DataFrame) -> DataFrame:
    """``text`` through an identity Arrow UDF: the Python boundary cost
    (serialise, transfer, deserialise) with no regex work."""

    @arrow_udf("string")
    def identity(arr: pa.Array) -> pa.Array:
        return arr

    return df.withColumn("text", identity("text"))


def prepare_inputs(spark: SparkSession, raw_dir: str, pattern: str, work: str) -> dict[str, str]:
    """Write each layer's output once (arrow parse), untimed."""
    paths = {n: os.path.join(work, n) for n in ("parsed", "enriched", "routed")}
    parsed = apply_parser(spark.read.parquet(raw_dir), ParserConfig(pattern, "text", engine="arrow"))
    parsed.write.mode("overwrite").parquet(paths["parsed"])
    enriched = enrich_role_tool(
        spark.read.parquet(paths["parsed"]), role_lookup(spark), tool_lookup(spark)
    )
    enriched.write.mode("overwrite").parquet(paths["enriched"])
    add_route(spark.read.parquet(paths["enriched"])).write.mode("overwrite").parquet(
        paths["routed"]
    )
    return paths


def run_layer_legs(
    spark: SparkSession,
    raw_dir: str,
    pattern: str,
    work: str,
    worker: int,
) -> dict[str, float]:
    """Median busy seconds per layer leg, keyed by metric name, plus the
    scan-only leg over the raw input as ``scan.busy_s``."""
    sc = spark.sparkContext
    paths = prepare_inputs(spark, raw_dir, pattern, work)
    sink_dir = os.path.join(work, "sink_out")

    def routed_write(df: DataFrame) -> None:
        write_routed(df, sink_dir)

    # metric -> (input, transform, terminal)
    legs = {
        "parse.arrow.busy_s": (
            raw_dir,
            lambda df: apply_parser(df, ParserConfig(pattern, "text", engine="arrow")),
            _noop,
        ),
        "parse.jvm.busy_s": (
            raw_dir,
            lambda df: apply_parser(df, ParserConfig(pattern, "text", engine="jvm")),
            _noop,
        ),
        "parse.arrow.boundary_s": (raw_dir, _identity_text, _noop),
        "skew.shuffle_s": (raw_dir, lambda df: salted_repartition(df, worker), _noop),
        "enrich.busy_s": (
            paths["parsed"],
            lambda df: enrich_role_tool(df, role_lookup(spark), tool_lookup(spark)),
            _noop,
        ),
        "route.busy_s": (paths["enriched"], add_route, _noop),
        "agg.busy_s": (paths["routed"], sink_aggregates, _noop),
        "sink.write_s": (paths["routed"], lambda df: df, routed_write),
    }
    samples: dict[str, list[float]] = {k: [] for k in legs}
    scans: dict[str, list[float]] = {}

    def timed(tag: str, fn) -> float:
        sc.setJobDescription(TAG + tag)
        try:
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0
        finally:
            sc.setJobDescription(None)

    for _ in range(REPS):
        for src in dict.fromkeys(src for src, _, _ in legs.values()):
            scan = timed(f"scan:{os.path.basename(src)}", lambda: _noop(spark.read.parquet(src)))
            scans.setdefault(src, []).append(scan)
            for name, (leg_src, transform, terminal) in legs.items():
                if leg_src == src:
                    t = timed(name, lambda: terminal(transform(spark.read.parquet(src))))
                    samples[name].append(t - scan)

    out = {k: statistics.median(v) for k, v in samples.items()}
    out["scan.busy_s"] = statistics.median(scans[raw_dir])
    out["parse.arrow.compute_s"] = out["parse.arrow.busy_s"] - out["parse.arrow.boundary_s"]
    return out


# --- per-layer metrics of the traced run ------------------------------------


def layer_metrics(
    tracer,
    log,
    layer_s: dict[str, float],
    e2e_legs: list[dict],
    untraced_legs: list[dict],
    cold_setup: dict[str, float],
    batch_workload: bool,
    input_bytes: int,
) -> dict[str, float]:
    """Every per-layer metric, from the spans, the event log and the
    isolated legs. ``e2e_legs`` are the traced phase's checked legs (batch
    legs, or streaming drains); ``untraced_legs`` the same legs from the
    untraced phase, for the tracing overhead. The session metrics come
    from the untraced phase's set-up (``cold_setup``), which no span or
    event log slows down."""
    med = statistics.median

    def span_s(name: str) -> list[float]:
        return [s["seconds"] for s in tracer.named(name)]

    done = [leg for leg in e2e_legs if "seconds" in leg and not leg["warm"]]
    first = next(leg for leg in done if "actual" in leg)
    m: dict[str, float] = {
        "session.start_s": cold_setup["start_s"],
        "session.warmup_s": cold_setup["warmup_s"],
        "plan.build_s": med(span_s("build_pipeline")),
        "scan.busy_s": layer_s["scan.busy_s"],
    }
    # bytes one leg scans; a streaming drain scans the whole backlog
    run_batch = log.executions_for("perfbench/e2e/run_batch")
    m["scan.input_bytes"] = (
        sum(x.driver_metrics.get("size of files read", 0) for x in run_batch) / len(done)
        if batch_workload
        else float(input_bytes)
    )

    for k in ("parse.arrow.busy_s", "parse.jvm.busy_s", "parse.arrow.boundary_s",
              "parse.arrow.compute_s"):
        m[k] = layer_s[k]
    m["parse.ok_ratio"] = first["actual"]["rows_parsed"] / first["actual"]["rows_in"]
    # GC in the stages that parse: Catalyst fuses the parser with the scan,
    # enrich and route, so this is the fused stage's GC per leg (batch) or
    # per micro-batch (streaming)
    stream = stream_metrics(tracer, log)
    stream_gc = stream.pop("gc_s")
    m["parse.gc_s"] = (
        ev.gc_seconds(log.stages_for("perfbench/e2e/run_batch")) / len(done)
        if batch_workload
        else stream_gc
    )

    skew = log.stages_for(TAG + "skew.")
    reduce_side = [s for s in skew if s.shuffle_read_bytes > 0]
    m["skew.shuffle_s"] = layer_s["skew.shuffle_s"]
    m["skew.shuffle_write_bytes"] = ev.total(skew, "shuffle_write_bytes") / REPS
    m["skew.task_max_over_median"] = med(s.task_max_over_median for s in reduce_side)

    m["enrich.busy_s"] = layer_s["enrich.busy_s"]
    m["enrich.broadcast_s"] = ev.broadcast_seconds(log.executions_for(TAG + "enrich.")) / REPS

    m["route.busy_s"] = layer_s["route.busy_s"]
    for route, n in first["actual"]["routes"].items():
        m[f"route.rows.{route}"] = float(n)

    agg = log.stages_for(TAG + "agg.")
    m["agg.busy_s"] = layer_s["agg.busy_s"]
    m["agg.groups"] = float(first["agg_groups"])
    m["agg.shuffle_write_bytes"] = ev.total(agg, "shuffle_write_bytes") / REPS
    m["agg.peak_memory_bytes"] = float(max(s.peak_memory_bytes for s in agg))

    # what the routed write committed per leg: the batch legs' run_batch
    # jobs, or (streaming) the isolated sink leg's routed write
    if batch_workload:
        sink_ex, sink_stages, n = run_batch, log.stages_for("perfbench/e2e/run_batch"), len(done)
    else:
        sink_ex, sink_stages, n = (
            log.executions_for(TAG + "sink."), log.stages_for(TAG + "sink."), REPS
        )
    m["sink.write_s"] = layer_s["sink.write_s"]
    m["sink.bytes_written"] = sum(x.driver_metrics.get("written output", 0) for x in sink_ex) / n
    m["sink.files_written"] = (
        sum(x.driver_metrics.get("number of written files", 0) for x in sink_ex) / n
    )
    m["sink.spill_bytes"] = ev.total(sink_stages, "spill_bytes") / n

    m.update(stream)
    after_warm = tracer.named("warm_leg")[-1]["end"]
    m["ledger.record_s"] = med(
        s["seconds"] for s in tracer.named("ledger.record_batch") if s["start"] >= after_warm
    )
    m["ledger.recover_s"] = med(
        s["seconds"] for s in tracer.named("ledger.recover") if s["existed"]
    )
    m["trace.overhead_s"] = med(leg["seconds"] for leg in done) - med(
        leg["seconds"] for leg in untraced_legs if "seconds" in leg and not leg["warm"]
    )
    return m


def stream_metrics(tracer, log) -> dict[str, float]:
    """Per micro-batch costs of the traced streaming drains after the
    warm leg. Jobs run by a streaming query carry Spark's batch id; each
    write or count inside ``foreachBatch`` is a child SQL execution of the
    micro-batch's root execution. Children that start inside a
    ``ledger.record_batch`` span are the ledger's and are left out.
    ``gc_s`` is the JVM GC time of the micro-batches' tasks per batch."""
    after = tracer.named("warm_leg")[-1]["end"] * 1000
    ledger = [(s["start"] * 1000, s["end"] * 1000) for s in tracer.named("ledger.record_batch")]

    def in_ledger(ms: int) -> bool:
        return any(a <= ms <= b for a, b in ledger)

    jobs: dict[int, int] = {}  # root execution -> jobs
    stages: list[int] = []
    for j in log.jobs.values():
        ex = log.executions.get(j.execution_id)
        if j.batch_id is not None and ex is not None and ex.start_ms >= after:
            jobs[ex.root_id] = jobs.get(ex.root_id, 0) + 1
            stages += j.stage_ids
    children = [
        x for x in log.executions.values()
        if x.root_id in jobs and x.execution_id != x.root_id and not in_ledger(x.start_ms)
    ]
    n = len(jobs)
    return {
        "stream.batches": float(n),
        "stream.jobs_per_batch": statistics.median(jobs.values()),
        "stream.count_jobs_s": sum(x.seconds for x in children if not x.is_write) / n,
        "stream.write_s": sum(x.seconds for x in children if x.is_write) / n,
        "gc_s": sum(log.stages[i].gc_ms for i in set(stages) if i in log.stages) / 1000 / n,
    }
