#!/usr/bin/env python
"""Two-cluster-size scaling protocol (BASELINE.md §3).

The north rule demands ≥0.8 throughput scaling efficiency from N to 4N
executors. No multi-node cluster exists in this sandbox, so the
protocol runs the SAME job on the SAME materialized input at two local
parallelism levels in separate JVMs (a Spark master is fixed per JVM)
and reports

    efficiency = (throughput_4N / throughput_N) / 4.

Measurement fidelity rules (see BENCH.md for the full analysis):

- **CPU pinning**: each level is pinned (sched_setaffinity, inherited
  by the JVM) to exactly its core budget. An unpinned local[N] baseline
  on a 32-core box silently borrows extra cores for GC threads and
  Python workers, inflating the baseline and understating scaling — a
  real N-core executor has no such spare cores.
- **Default levels N = nproc // 4 vs 4N**: the largest N→4N pair the
  host has cores for (1 vs 4 on a 4-core host), so no level pins CPUs
  that do not exist; nproc is recorded in the result. On one box, all
  cores share one DRAM controller. This string-heavy pipeline
  saturates the shared memory system between 8 and 32 threads
  (measured: 8→32 tops out at ~2.5× regardless of process layout — one
  JVM, local-cluster, or 4 independent pinned JVMs all hit the same
  wall). A real 4× cluster multiplies memory bandwidth 4×; a single box
  cannot. On a 32-core host, ``--levels 2,8`` measures the job's
  intrinsic scaling below that hardware ceiling.
- Input ≥10^7 synthetic turns, generated once and reused, so
  task-launch overhead doesn't dominate and generation is excluded.

Usage:
    python bench_scaling.py [--turns 40000000] [--levels N,4N]
                            [--engine jvm|arrow] [--no-pin]
Child mode (internal):
    python bench_scaling.py --child <cores> <input_dir> <engine> <pin>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

INPUT_TMPL = "/tmp/lfs_bench_input_{n}"


def _gen_input(n_turns: int) -> str:
    path = INPUT_TMPL.format(n=n_turns)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from log_formatter_spark import get_spark
    from log_formatter_spark.transcripts import synthetic_transcripts

    spark = get_spark("lfs-bench-gen", cores=_nproc())
    spark.sparkContext.setLogLevel("ERROR")
    # 64 files: file-split parallelism identical at every level
    synthetic_transcripts(spark, n_turns).repartition(64).write.mode(
        "overwrite"
    ).parquet(path)
    spark.stop()
    return path


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _child(cores: int, input_dir: str, engine: str, pin: bool) -> None:
    if pin:
        os.sched_setaffinity(0, set(range(cores)))  # JVM inherits this
    from log_formatter_spark import get_spark
    from log_formatter_spark.pipeline import PipelineOptions, full_pipeline

    spark = get_spark(
        f"lfs-scaling-{cores}", cores=cores, shuffle_partitions=max(8, cores)
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = spark.read.parquet(input_dir)
    opts = PipelineOptions(engine=engine)

    def run() -> float:
        t0 = time.time()
        full_pipeline(spark, t, opts).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run()  # warm-up (JIT, python worker spawn, file listing)
    secs = min(run(), run(), run())
    n = t.count()
    print(json.dumps({"cores": cores, "sec": round(secs, 3), "rows": n,
                      "rows_per_sec": round(n / secs)}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5] == "pin")
        return

    turns = 40_000_000
    nproc = _nproc()
    n = max(1, nproc // 4)
    levels = [n, 4 * n]
    engine = "jvm"
    pin = True
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a == "--turns":
            turns = int(args[i + 1])
        elif a == "--levels":
            levels = [int(x) for x in args[i + 1].split(",")]
        elif a == "--engine":
            engine = args[i + 1]
        elif a == "--no-pin":
            pin = False

    input_dir = _gen_input(turns)
    results: dict[int, dict] = {}
    # two interleaved passes per level (A/B/A/B): host-load drift between
    # measurements hits both levels symmetrically; keep each level's best
    for cores in levels + levels:
        out = subprocess.run(
            [sys.executable, __file__, "--child", str(cores), input_dir, engine,
             "pin" if pin else "nopin"],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(out.stderr[-2000:])
            raise SystemExit(f"child at {cores} cores produced no result")
        r = json.loads(lines[-1])
        print(lines[-1])
        if cores not in results or r["sec"] < results[cores]["sec"]:
            results[cores] = r

    lo, hi = min(levels), max(levels)
    thr_lo = results[lo]["rows_per_sec"]
    thr_hi = results[hi]["rows_per_sec"]
    eff = (thr_hi / thr_lo) / (hi / lo)
    print(json.dumps({
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "engine": engine,
        "pinned": pin,
        "nproc": nproc,
        "turns": turns,
        "levels": {str(c): results[c] for c in levels},
        "target": 0.8,
        "pass": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
