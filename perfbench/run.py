"""End-to-end benchmark of the log pipeline, batch and streaming.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run:

1. generates the workload's input from ``--seed`` (perfbench/gen.py) and
   the expected outputs with DuckDB (perfbench/expect.py), both cached
   under ``.perfbench_work/inputs`` and both outside every timer;
2. sets up a Spark session in a fresh JVM: JVM up, input scanned once,
   Python workers of both parse engines spawned. ``setup_s`` is the CPU
   time this takes, ``setup_wall_s`` its wall time;
3. drives the pipeline through its user-facing entry points from this
   one process, with the workload's parse engine: two warm legs, in
   which the JVM compiles the pipeline's code paths and which are not
   timed, then a closed loop of legs until ``--seconds`` have passed:
   ``plans.run_batch`` with the bench-owned YAML config
   (perfbench/pipeline.yml) plus the aggregate table, or
   ``streaming.run_streaming_pipeline`` draining a backlog of small
   files one file per micro-batch;
4. checks every leg's committed output against the expectation, outside
   the timed region; a leg that raises or mismatches counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the same legs run in two phases, untraced and then
traced (spans, Spark's event log and the isolated layer legs of
perfbench/layers.py), each in a fresh JVM set up once; the last line
carries the per-layer metrics and the tracing overhead. Earlier lines
print every metric by name and unit, the wall-time metrics included, and
the run record (host, cores, sizes, versions, quartiles), which is also
kept under ``.perfbench_work/records``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import itertools
import json
import os
import shutil
import statistics
import string
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CONFIG = os.path.join(HERE, "pipeline.yml")
KEEP_INPUTS = 6  # generated input sets kept for reuse by later runs
MIN_LEGS = 2  # timed legs per untraced run, however long they take
SPAWN_SHARE = 0.01  # share of the input the set-up parses with the arrow engine
SPAWN_ROWS = 64  # rows the set-up parses with the jvm engine
STOP_TIMEOUT_S = 30

sys.path.insert(0, HERE)

from gen import write_transcripts  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

# The end-to-end metrics of BENCHMARK.json (name -> unit). CPU seconds
# (user + system of the JVM, its Python workers and this process) per
# 1,000 input turns, from a leg's start until its output is committed,
# with the workload's parse engine: on a shared host, wall time per leg
# spreads too widely between runs to bound a regression (see CHANGES.md);
# CPU time per turn spreads less. The JVM's JIT compiler threads are left
# out (and recorded per leg as ``jit_s``): Spark generates new classes
# for every query, so their share keeps falling from leg to leg long
# after the warm legs and is the least repeatable part of the total.
# ``setup_s`` is CPU time too, JIT included: on a shared host the
# set-up's wall time moves with the host's speed far more than its CPU
# time does (see CHANGES.md).
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_kturn": "s/kturn",
}


def wall_metrics(w: Workload) -> dict[str, str]:
    """Wall-time metrics users see, printed and recorded with their
    quartiles for every run."""
    m = {"setup_wall_s": "s", f"{w.kind}_turns_per_s.{w.engine}": "turns/s"}
    if w.kind == "stream":
        m["stream_batch_p50_s"] = "s"
    return m


RECORDED = {"peak_rss_mb": "MB"}


def cores_used() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))


# --- inputs ----------------------------------------------------------------


def _prune_inputs(keep: str) -> None:
    base = os.path.join(WORK, "inputs")
    sets = sorted(
        (os.path.getmtime(p), p) for p in glob.glob(os.path.join(base, "*")) if p != keep
    )
    for _, p in sets[: max(0, len(sets) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def prepare_inputs(w: Workload, seed: int, pattern: str, tmp: str) -> dict:
    """Generate (or reuse) the input parquet and its expected outputs."""
    from expect import load_or_compute

    # keyed by the generator parameters too, so a changed workload never
    # reuses stale input
    key = hashlib.sha256(repr(w.gen).encode()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{w.name}-s{seed}-{key}")
    data = os.path.join(d, "data")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        write_transcripts(seed, w.gen, data)
        open(os.path.join(d, "DONE"), "w").close()
    _prune_inputs(d)
    os.utime(d)
    files = sorted(glob.glob(os.path.join(data, "*.parquet")))
    # the first warm leg's input: the first quarter of the files, at least one
    warm = files[: len(files) // 4 or 1]
    return {
        "dir": data,
        "files": files,
        "bytes": sum(os.path.getsize(f) for f in files),
        "expected": load_or_compute(os.path.join(d, "expected.json"), files, pattern, tmp),
        "warm_files": warm,
        "warm_expected": load_or_compute(
            os.path.join(d, "expected-warm.json"), warm, pattern, tmp
        ),
    }


def source_path(files: list[str]) -> str:
    """A path Spark reads as exactly ``files`` (all in one directory):
    the directory when they are all its parquet files, else a Hadoop glob
    over their names."""
    d = os.path.dirname(files[0])
    if len(files) == len(glob.glob(os.path.join(d, "*.parquet"))):
        return d
    return os.path.join(d, "{" + ",".join(os.path.basename(f) for f in files) + "}")


# --- Spark session lifecycle -------------------------------------------------


def start_session(run_dir: str, cores: int, event_log: str | None = None):
    from log_formatter_spark.session import get_spark

    conf = {"spark.local.dir": os.path.join(run_dir, "spark-local")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                # one plain file per application, which eventlog.py reads
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Shut down the JVM behind PySpark, if one is up, and wait for it to
    end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Wait for every descendant process to end; kill what lingers."""
    from tracing import descendants

    deadline = time.time() + STOP_TIMEOUT_S
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


# --- legs ---------------------------------------------------------------------


class Runner:
    """One workload in one session: set-up, legs and their checks."""

    def __init__(self, w: Workload, inputs: dict, run_dir: str, cores: int, tracer=None,
                 event_log: str | None = None):
        self.w = w
        self.cores = cores
        self.event_log = event_log
        self.inputs = inputs
        self.run_dir = run_dir
        self.tracer = tracer
        self.tmp = os.path.join(run_dir, "tmp")
        with open(CONFIG) as f:
            self.template = string.Template(f.read())
        self.spark = None
        self.progress: list[dict] = []  # streaming progress, via the listener
        self.legs: list[dict] = []
        self.setup: dict = {}
        self.peak_rss = 0

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def describe(self, desc: str | None) -> None:
        if self.tracer:
            self.spark.sparkContext.setJobDescription(desc)

    def config(self, engine: str, source: str, out: str) -> str:
        path = os.path.join(self.run_dir, f"pipeline-{engine}.yml")
        with open(path, "w") as f:
            f.write(
                self.template.substitute(
                    input=source,
                    worker=self.w.worker,
                    engine=engine,
                    routed=os.path.join(out, "routed"),
                    aggregates=os.path.join(out, "aggregates"),
                )
            )
        return path

    # set-up

    def set_up(self) -> None:
        """Start a session in a fresh JVM and warm it; the time of each
        part, and the CPU time of the whole, are kept in ``self.setup``."""
        from tracing import cpu_seconds, jit_cpu_seconds

        me = os.getpid()
        cpu0 = cpu_seconds(me)
        t0 = time.perf_counter()
        with self.span("get_spark"):
            self.spark = start_session(self.run_dir, self.cores, self.event_log)
        t1 = time.perf_counter()
        with self.span("warmup"):
            self.warm()
        t2 = time.perf_counter()
        self.setup = {
            "wall_s": t2 - t0,
            "start_s": t1 - t0,
            "warmup_s": t2 - t1,
            "cpu_s": cpu_seconds(me) - cpu0,
            "jit_s": jit_cpu_seconds(me),  # the JVM started inside the set-up
        }
        if self.w.kind == "stream":
            self._register_listener()

    def note_peak_rss(self) -> None:
        """Keep the highest peak RSS of the JVM and its workers so far."""
        from tracing import descendants, peak_rss_bytes

        self.peak_rss = max(self.peak_rss, peak_rss_bytes(descendants(os.getpid())))

    def warm(self) -> None:
        """Scan the whole input once, parsing a sample of each partition
        with the arrow engine, which spawns its Python workers on every
        core; then parse a few rows with the jvm engine."""
        from log_formatter_spark.operators.parser import ParserConfig, apply_parser

        self.describe("perfbench/warmup")
        src = self.spark.read.parquet(self.inputs["dir"])
        pattern = pattern_of(CONFIG)
        for engine, rows in (("arrow", src.sample(SPAWN_SHARE, seed=0)),
                             ("jvm", src.limit(SPAWN_ROWS))):
            parsed = apply_parser(rows, ParserConfig(pattern, engine=engine))
            parsed.write.format("noop").mode("overwrite").save()
        self.describe(None)

    def _register_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append(
                    {
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    # one leg

    def leg(self, engine: str, files: list[str], expected: dict, out: str,
            warm: bool = False) -> dict:
        """One leg over ``files``, checked against ``expected``. A ``warm``
        leg is checked and counted like any other, but no end-to-end or
        per-layer time is taken from it."""
        shutil.rmtree(out, ignore_errors=True)
        from tracing import cpu_seconds, host_cpu_seconds, jit_cpu_seconds

        rec = {"engine": engine, "ok": False, "warm": warm}
        me = os.getpid()
        cpu0, jit0, host0 = cpu_seconds(me), jit_cpu_seconds(me), host_cpu_seconds()
        try:
            if self.w.kind == "batch":
                rec.update(self._batch_leg(engine, files, out, "warm" if warm else "e2e"))
            else:
                rec.update(self._stream_leg(engine, files, out))
        except Exception:
            rec["error"] = traceback.format_exc()
            print(f"perfbench: {engine} leg raised:\n{rec['error']}", file=sys.stderr)
            return rec
        rec["jit_s"] = jit_cpu_seconds(me) - jit0
        rec["cpu_s"] = cpu_seconds(me) - cpu0 - rec["jit_s"]
        rec["host_s"] = {k: v - host0[k] for k, v in host_cpu_seconds().items()}
        self._check(rec, expected, out)
        return rec

    def _batch_leg(self, engine: str, files: list[str], out: str, tag: str) -> dict:
        from log_formatter_spark.operators.aggregate import sink_aggregates
        from log_formatter_spark.plans.planner import load_config, run_batch
        from log_formatter_spark.sinks.writer import read_sink

        cfg_path = self.config(engine, source_path(files), out)
        t0 = time.perf_counter()
        cfg = load_config(cfg_path)
        self.describe(f"perfbench/{tag}/run_batch:{engine}")
        with self.span("run_batch", engine=engine):
            run_batch(self.spark, cfg)
        agg_dir = cfg["output"]["aggregates"]
        bench_agg = not os.path.exists(os.path.join(agg_dir, "_SUCCESS"))
        if bench_agg:
            self.describe(f"perfbench/{tag}/aggregates:{engine}")
            with self.span("aggregate_write", engine=engine):
                routed = read_sink(self.spark, cfg["output"]["path"])
                sink_aggregates(routed).write.mode("overwrite").parquet(agg_dir)
        seconds = time.perf_counter() - t0
        self.describe(None)
        return {"seconds": seconds, "bench_agg": bench_agg}

    def _stream_leg(self, engine: str, files: list[str], out: str, restart: bool = False) -> dict:
        """Drain ``files`` one file per micro-batch. With ``restart`` the
        checkpoint under ``out`` already covers every file: the query
        starts, recovers the ledger and ends without a batch."""
        from log_formatter_spark.pipeline import PipelineOptions
        from log_formatter_spark.streaming.job import run_streaming_pipeline

        n_files = 0 if restart else len(files)
        seen = len(self.progress)
        t0 = time.perf_counter()
        with self.span("run_streaming_pipeline", engine=engine):
            ledger = run_streaming_pipeline(
                self.spark,
                source_path(files),
                os.path.join(out, "out"),
                os.path.join(out, "checkpoint"),
                PipelineOptions(engine=engine),
                max_files_per_trigger=1,
            )
        seconds = time.perf_counter() - t0
        # progress events reach the listener asynchronously
        deadline = time.time() + 10
        while self._batches_since(seen) < n_files and time.time() < deadline:
            time.sleep(0.05)
        batches = [p["trigger_ms"] / 1000.0 for p in self.progress[seen:] if p["rows"] > 0]
        return {"seconds": seconds, "batch_s": batches, "ledger": ledger.snapshot()}

    def _batches_since(self, seen: int) -> int:
        return sum(1 for p in self.progress[seen:] if p["rows"] > 0)

    def _check(self, rec: dict, exp: dict, out: str) -> None:
        from expect import actual_batch, actual_stream, mismatches

        if self.w.kind == "batch":
            got = actual_batch(
                os.path.join(out, "routed"), os.path.join(out, "aggregates"), self.tmp
            )
        else:
            got = actual_stream(os.path.join(out, "out"), rec.pop("ledger"), self.tmp)
        rec["actual"] = {k: got[k] for k in ("rows_in", "rows_parsed", "routes")}
        rec["agg_groups"] = len(got["aggregate"])
        rec["mismatches"] = mismatches(exp, got)
        rec["ok"] = not rec["mismatches"]
        if not rec["ok"]:
            print(
                f"perfbench: {self.w.name} {rec['engine']} leg output differs from the "
                f"expectation: {'; '.join(rec['mismatches'])}",
                file=sys.stderr,
            )

    def loop(self, seconds: float, min_legs: int) -> None:
        """Two warm legs, one over the first input files and one over the
        whole input, then a closed loop of legs over the whole input until
        ``seconds`` have passed and ``min_legs`` legs have run. The JVM
        keeps compiling the pipeline's code paths through the first full
        legs, so each leg costs less CPU than the one before for a while;
        without ``MIN_LEGS`` a slow host would time one leg where a fast
        one times two, and read higher."""
        out = os.path.join(self.run_dir, "out")
        engine, inp = self.w.engine, self.inputs
        with self.span("warm_leg"):
            for files, expected in ((inp["warm_files"], inp["warm_expected"]),
                                    (inp["files"], inp["expected"])):
                self.legs.append(self.leg(engine, files, expected, out, warm=True))
        t0 = time.perf_counter()
        for n in itertools.count(1):
            self.legs.append(self.leg(engine, inp["files"], inp["expected"], out))
            if n >= min_legs and time.perf_counter() - t0 >= seconds:
                return


# --- metrics -------------------------------------------------------------------


def quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs)}


def tail(xs: list[float]) -> dict | None:
    """The highest percentile that still has at least ten samples beyond
    it, with that percentile; None with fewer than 21 samples, where it
    would not lie above the median."""
    xs = sorted(xs)
    if len(xs) < 21:
        return None
    i = len(xs) - 11
    return {"value": xs[i], "percentile": 100.0 * i / (len(xs) - 1)}


def end_to_end(w: Workload, setup: dict, legs: list[dict], peak_rss: int) -> dict:
    """Median and quartiles of every end-to-end metric over the run's
    legs that completed, plus the micro-batch tail (streaming)."""
    done = [leg for leg in legs if "seconds" in leg and not leg["warm"]]
    if not done:
        raise RuntimeError("no leg completed")
    kturns = w.gen.n_turns / 1000
    stats = {
        "setup_s": quartiles([setup["cpu_s"]]),
        "setup_wall_s": quartiles([setup["wall_s"]]),
        "cpu_s_per_kturn": quartiles([leg["cpu_s"] / kturns for leg in done]),
        f"{w.kind}_turns_per_s.{w.engine}": quartiles(
            [1000 * kturns / leg["seconds"] for leg in done]
        ),
    }
    tail_s = None
    if w.kind == "stream":
        batch_s = [b for leg in done for b in leg["batch_s"]]
        stats["stream_batch_p50_s"] = quartiles(batch_s)
        tail_s = tail(batch_s)
    stats["peak_rss_mb"] = quartiles([peak_rss / 2**20])
    return {"stats": stats, "stream_batch_tail_s": tail_s}


# --- runs ----------------------------------------------------------------------


def versions(spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def phase(w: Workload, inputs: dict, run_dir: str, cores: int, seconds: float, min_legs: int,
          tracer=None, event_log: str | None = None, layer_work: str | None = None):
    """Set up a session in a fresh JVM, run the loop, (traced) run the
    layer legs, and stop the session and its JVM. Returns (runner, setup,
    peak_rss, extras)."""
    from tracing import traced_ledger

    runner = Runner(w, inputs, run_dir, cores, tracer, event_log)
    extras: dict = {}
    try:
        with traced_ledger(tracer) if tracer else contextlib.nullcontext():
            runner.set_up()
            runner.loop(seconds, min_legs)
            setup = runner.setup
            runner.note_peak_rss()
            extras["versions"] = versions(runner.spark)
            if tracer:
                extras.update(traced_extras(w, runner, layer_work))
    finally:
        if runner.spark is not None:
            runner.spark.stop()
        stop_jvm()
    return runner, setup, runner.peak_rss, extras


def traced_extras(w: Workload, runner: Runner, work: str) -> dict:
    """Isolated layer legs; for batch workloads also a short streaming
    drain over the first warm leg's files, so the streaming and ledger
    layers are measured on every workload; then a restart over the last
    finished drain, which makes the ledger recover its counters."""
    from layers import REPS, run_layer_legs
    from log_formatter_spark.plans.planner import build_pipeline, load_config

    for _ in range(REPS):
        cfg = load_config(runner.config(w.engine, runner.inputs["dir"], work))
        with runner.span("build_pipeline", engine=w.engine):
            build_pipeline(runner.spark, cfg)._jdf.queryExecution().executedPlan()
    pattern = pattern_of(CONFIG)
    worker = w.worker or 8
    layer_s = run_layer_legs(runner.spark, runner.inputs["dir"], pattern, work, worker)
    inp = runner.inputs
    if w.kind == "batch":
        stream_w = Workload(w.name, "stream", w.gen, w.engine)
        streamer = Runner(stream_w, inp, runner.run_dir, runner.cores, runner.tracer)
        streamer.spark = runner.spark
        streamer._register_listener()
        files, out = inp["warm_files"], os.path.join(work, "stream_out")
        drains = [streamer.leg(w.engine, files, inp["warm_expected"], out)]
    else:
        # the loop's last drain left its checkpoint and ledger here
        streamer, files, out = runner, inp["files"], os.path.join(runner.run_dir, "out")
        drains = []
    streamer._stream_leg(w.engine, files, out, restart=True)
    return {"layer_s": layer_s, "stream_legs": drains}


def pattern_of(config_path: str) -> str:
    import yaml

    with open(config_path) as f:
        cfg = yaml.safe_load(string.Template(f.read()).safe_substitute())
    return cfg["pipeline"]["formatters"][0]["parser"]["components_regex"]


def run(w: Workload, seed: int, seconds: float, trace: bool, run_dir: str, cores: int):
    """Inputs, the untraced phase and (``trace``) the traced phase.
    Returns the run record and the metrics for the last stdout line.
    A traced run splits ``seconds`` between its two phases, which run the
    same loop, each in a fresh JVM set up once, so the tracing overhead
    compares legs that start from the same state; to stay within a
    run's time limit on a slow host, each phase may time a single leg."""
    min_legs = MIN_LEGS
    if trace:
        seconds /= 2
        min_legs = 1
    tmp = os.path.join(run_dir, "tmp")
    inputs = prepare_inputs(w, seed, pattern_of(CONFIG), tmp)
    record = {
        "workload": w.name,
        "seed": seed,
        "trace": int(trace),
        "seconds": seconds,
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "turns": w.gen.n_turns,
        "input_files": len(inputs["files"]),
        "input_bytes": inputs["bytes"],
    }
    runner, setup, peak, extras = phase(w, inputs, run_dir, cores, seconds, min_legs)
    legs = list(runner.legs)
    e2e = end_to_end(w, setup, legs, peak)
    record.update(
        versions=extras["versions"],
        setup=setup,
        end_to_end=e2e["stats"],
        stream_batch_tail_s=e2e["stream_batch_tail_s"],
    )
    if trace:
        from eventlog import read_event_log
        from layers import PER_LAYER, layer_metrics
        from tracing import Tracer

        tracer = Tracer(f"{w.name}-s{seed}-{os.getpid()}")
        ev_dir = os.path.join(run_dir, "eventlog")
        t_runner, _, _, t_extras = phase(
            w, inputs, run_dir, cores, seconds, min_legs, tracer, ev_dir,
            os.path.join(run_dir, "layers"),
        )
        legs += t_runner.legs + t_extras["stream_legs"]
        layer = layer_metrics(
            tracer, read_event_log(ev_dir), t_extras["layer_s"], t_runner.legs,
            runner.legs, setup, w.kind == "batch", inputs["bytes"],
        )
        record["per_layer"] = layer
        tracer.write(os.path.join(WORK, "records", f"spans-{tracer.run_id}.jsonl"))
        metrics = {k: (layer[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e["stats"][k]["median"], u) for k, u in END_TO_END.items()}
    failed = sum(1 for leg in legs if not leg["ok"])
    kept = ("engine", "warm", "seconds", "cpu_s", "jit_s", "host_s", "ok", "mismatches",
            "batch_s", "bench_agg")
    record.update(
        legs=[{k: v for k, v in leg.items() if k in kept} for leg in legs],
        attempted=len(legs),
        failed=failed,
        failed_ratio=failed / len(legs),
    )
    return record, metrics


def report(w: Workload, record: dict, metrics: dict) -> None:
    """Every metric by name and unit, the record, then the result line."""
    units = {**END_TO_END, **wall_metrics(w), **RECORDED}
    for name, st in record["end_to_end"].items():
        print(f"{w.name:18s} {name:26s} {st['median']:14.4f} {units[name]:8s} "
              f"(n={st['n']}, q1={st['q1']:.4f}, q3={st['q3']:.4f})")
    if w.kind == "stream":
        t = record["stream_batch_tail_s"]
        print(f"{w.name:18s} {'stream_batch_tail_s':26s} "
              + (f"{t['value']:14.4f} {'s':8s} (p{t['percentile']:.0f})" if t
                 else f"{'n/a':>14s} {'s':8s} (fewer than 21 micro-batches)"))
    print(f"{w.name:18s} {'failed_ratio':26s} {record['failed_ratio']:14.4f} {'ratio':8s} "
          f"({record['failed']}/{record['attempted']} legs)")
    if record["trace"]:
        for name, (v, u) in metrics.items():
            print(f"{w.name:18s} {name:26s} {v:14.6f} {u}")
    print("record " + json.dumps(record))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main() -> int:
    ap = argparse.ArgumentParser(description="End-to-end benchmark of the log pipeline.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "log_formatter_spark")):
        print(f"perfbench: no log_formatter_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    w = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # JIT compiler threads live as long as the JVM, so the CPU time
        # tracing.jit_cpu_seconds reads from them never drops
        + " -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        record, metrics = run(w, a.seed, a.seconds, bool(a.trace), run_dir, cores_used())
    finally:
        stop_jvm()
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(WORK, "records", f"{w.name}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    report(w, record, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
