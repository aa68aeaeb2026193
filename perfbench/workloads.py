"""The benchmark's workloads: input shape, pipeline knobs and why each exists.

Sizes are chosen so that one leg (one ``run_batch`` call, or one drain of
the streaming backlog) takes 3-15 s on a 4-core host: a run, which sets
up once and then runs two warm and at least two timed legs of its
workload's parse engine, stays near a minute, and the per-leg fixed costs
stay visible next to the per-row ones. Turn counts are fixed, not scaled by core count, so the same seed
gives the same input on every host.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import GenParams


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch": run_batch legs | "stream": run_streaming_pipeline drains
    gen: GenParams
    engine: str  # the parse engine of every checked leg: "arrow" | "jvm"
    worker: int = 0  # pipeline.worker: salted repartition width, 0 = off


WORKLOADS = {
    w.name: w
    for w in [
        # ~2 KB tool-output turns (non-ASCII letters, some carriage returns,
        # some NULL text), a hot conversation owning 30%, pipeline.worker
        # set: regex work per byte, the salted shuffle and sink bytes
        # dominate. The only workload that runs salting end to end. Its
        # legs parse with the arrow engine: the jvm engine's `.` stops at
        # a carriage return, so it dead-letters the CR turns (a known
        # defect of the package, "JVM line terminators" in ROADMAP.md) and
        # its output would fail the check. The traced run still times the jvm parser on this
        # input (parse.jvm.busy_s).
        Workload(
            name="batch_long_hot",
            kind="batch",
            gen=GenParams(
                n_turns=14_000,
                body_len=2000,
                hot_share=0.30,
                malformed_share=0.01,
                null_share=0.01,
                cr_share=0.01,
            ),
            engine="arrow",
            worker=8,
        ),
        # Short turns as small files, drained one file per micro-batch: the
        # per-batch fixed costs (persist, lookups rebuilt, the two count
        # jobs, the ledger read and write) dominate. Three files, as one
        # micro-batch takes 2-5 s here. Parsed with the jvm engine, so each
        # engine has one workload whose end-to-end legs it runs.
        Workload(
            name="stream_microbatch",
            kind="stream",
            gen=GenParams(
                n_turns=6_000, body_len=70, hot_share=0.10, malformed_share=0.02, n_files=3
            ),
            engine="jvm",
        ),
    ]
}
