"""CLI entry point — the rebuild of ``go run agent.go -c config.yml``
(reference agent.go:44-75).

    python -m log_formatter_spark -c pipeline.yml [--streaming --checkpoint DIR]
    python -m log_formatter_spark --query NAME --sf-dir DIR [--out DIR]
    python -m log_formatter_spark --list-queries

Batch mode plans and drives the configured input→formatters→output DAG
(plans/planner.py). Streaming mode runs the config's ``pipeline``
section as a checkpoint-resumable foreachBatch job over the configured
source directory, writing under the config's ``output.path`` (parquet
target only) — the graceful-stop + resume answer to the reference's
drain-with-timeout shutdown (agent/manager.go:81-88). ``--query`` runs any named catalog
operator (contract.queries()) over an sf-style parquet dir — every
operator in SURVEY §8 is reachable from the CLI, written to parquet
with ``--out`` or shown on the console otherwise. Designed to be
launched with ``spark-submit --py-files`` on a cluster; see
scripts/submit.sh.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="log_formatter_spark")
    ap.add_argument("-c", "--config", help="YAML pipeline spec")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--out", help="output dir (--query mode)")
    ap.add_argument("--checkpoint", help="checkpoint dir (streaming mode)")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--query", help="run a named catalog query instead of a config")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="table dir for --query mode")
    ap.add_argument("--list-queries", action="store_true")
    args = ap.parse_args(argv)

    from log_formatter_spark import contract, get_spark
    from log_formatter_spark.plans import load_config, run_batch

    if args.list_queries:
        for name in sorted(contract.queries()):
            print(name)
        return 0
    if args.query:
        qs = contract.queries()
        if args.query not in qs:
            ap.error(f"unknown query {args.query!r} (see --list-queries)")
        spark = get_spark("log-formatter-spark", cores=args.cores)
        try:
            df = qs[args.query](spark, args.sf_dir)
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
                print(f"{args.query}: wrote {args.out}")
            else:
                df.show(20, truncate=False)
            return 0
        finally:
            spark.stop()
    if not args.config:
        ap.error("one of -c/--config, --query or --list-queries is required")

    cfg = load_config(args.config)
    if args.streaming:
        # the stream writes routed rows, aggregates and the ledger under
        # one directory: only output.path can be honoured, so every other
        # output setting is refused rather than ignored
        if args.out:
            ap.error("--streaming writes to output.path; --out is for --query")
        if not args.checkpoint:
            ap.error("--streaming requires --checkpoint")
        out = cfg["output"] or {}
        if out.get("target") != "parquet":
            ap.error(f"streaming requires output.target parquet, got {out.get('target')!r}")
        extra = sorted(set(out) - {"target", "path"})
        if extra:
            ap.error(f"streaming cannot honour output key(s) {extra}")
        if not out.get("path"):
            ap.error("streaming requires output.path")
    spark = get_spark("log-formatter-spark", cores=args.cores)
    try:
        if args.streaming:
            from log_formatter_spark.streaming import TRANSCRIPT_SCHEMA, run_streaming_pipeline

            # streaming mode requires a transcript-parquet source: fail
            # loudly on a config whose input is some other table shape
            # (a schema-mismatched stream would silently read nulls)
            inp = cfg.get("input", {})
            target = inp.get("target", "stream_transcripts")
            if target != "stream_transcripts":
                ap.error(
                    f"streaming mode requires input target stream_transcripts, got {target!r}"
                )
            src = inp.get("path") or inp.get("sf_dir")
            if not src:
                ap.error("streaming input needs a path (transcript parquet dir)")
            actual = spark.read.parquet(src).schema
            missing = set(f.name for f in TRANSCRIPT_SCHEMA) - set(
                f.name for f in actual
            )
            if missing:
                ap.error(
                    f"streaming source {src} is not transcript-shaped: "
                    f"missing columns {sorted(missing)}"
                )
            ledger = run_streaming_pipeline(
                spark, src, cfg["output"]["path"], args.checkpoint, cfg["pipeline"] or {},
                max_files_per_trigger=inp.get("max_files_per_trigger"),
            )
            print(ledger.snapshot())
        else:
            df = run_batch(spark, cfg)
            print(f"pipeline complete: {len(df.columns)} columns routed")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
