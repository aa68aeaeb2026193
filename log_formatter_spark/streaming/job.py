"""The streaming pipeline: checkpoint-resumable parse → enrich → route →
aggregate over a transcript file stream.

Execution model vs the reference: the reference pumps docs through
bounded channels and can drop up to 2×1000 queued docs on shutdown
(agent/manager.go:81-88, agent/pipeline/pipeline.go:107-123). Here every
micro-batch is exactly-once:

- offsets live in the checkpoint (``checkpointLocation``);
- every per-batch artifact (routed rows, partial aggregates, ledger) is
  written under ``batch_id=<id>`` directories with overwrite semantics,
  so a replayed batch rewrites byte-identical output instead of
  appending twice — the multi-sink-atomicity answer from SURVEY.md §7.3.

Aggregation strategy: per-batch *partial* hash aggregates are written,
and the final counts are an idempotent sum over partials at read time
(``read_final_aggregates``). This keeps state out of the streaming query
(no state store growth at 10^12 turns) while staying exactly equal to
the batch pipeline's aggregates. The watermarked windowed variant for
genuinely unbounded late data is ``streaming_hourly_counts``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from log_formatter_spark.operators.parser import PARSE_OK
from log_formatter_spark.operators.route import DEFAULT_ROUTES, ROUTE
from log_formatter_spark.pipeline import PipelineOptions
from log_formatter_spark.plans.planner import apply_pipeline
from log_formatter_spark.sinks.writer import (
    read_sink,
    routed_row_counts,
    write_pipeline_output,
)
from log_formatter_spark.streaming.ledger import MetricsLedger

# input_hint schema (BASELINE.json)
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over transcript parquet (the sandbox stand-in
    for the Kafka/Iceberg streaming source; the reader is swappable via
    sources/readers.py)."""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def write_ordered_slices(path: str, *slices: DataFrame) -> None:
    """Write DataFrame slices into ``path`` as sequential single-file
    parquet appends with STRICTLY increasing modification times pinned
    on each slice's data files (10 s apart, via ``os.utime``).

    The file stream source feeds files to triggers in mtime order.
    Sequential writes usually produce that order for free, but on
    filesystems and object stores with coarse mtime granularity two
    back-to-back writes can TIE — the source may then deliver the late
    slice first, and order-asserting stateful operators (e.g.
    streaming_tool_pairs) raise an environment-sensitive flake
    (ADVICE r4). Every multi-slice streaming fixture goes through this
    helper so the intended trigger order is explicit, not incidental.
    """
    import glob
    import time

    seen: set[str] = set()
    groups: list[set[str]] = []
    for df in slices:
        df.coalesce(1).write.mode("append").parquet(path)
        files = set(glob.glob(os.path.join(path, "*.parquet"))) - seen
        seen |= files
        groups.append(files)
    base = time.time() - 10.0 * len(groups)
    for i, files in enumerate(groups):
        for f in files:
            os.utime(f, (base + 10.0 * i, base + 10.0 * i))


def run_streaming_pipeline(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    opts: PipelineOptions | dict = PipelineOptions(),
    max_files_per_trigger: int | None = None,
) -> MetricsLedger:
    """Run ``opts`` (``PipelineOptions`` or a config's ``pipeline``
    section) over all currently-available input (Trigger.AvailableNow),
    resumable from ``checkpoint_dir``; every micro-batch goes through
    the batch run's ``apply_pipeline`` and ``write_pipeline_output``.

    Returns the ledger; per-sink tables land under
    ``out/routed/batch_id=*/route=*/`` (partition-pruned reads via
    read_routed_stream_output).
    """
    pipe = opts.section() if isinstance(opts, PipelineOptions) else opts
    ledger = MetricsLedger(spark, DEFAULT_ROUTES, os.path.join(out_dir, "ledger"))
    stream = stream_transcripts(spark, src_dir, max_files_per_trigger)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # metrics without a count job: the routed write observes its
        # rows, and the per-route counts come from the committed footers
        seen = Observation(f"batch_{batch_id}")
        routed_dir = os.path.join(out_dir, "routed", f"batch_id={batch_id}")
        write_pipeline_output(
            apply_pipeline(batch_df, pipe).observe(
                seen, F.count(F.lit(1)).alias("n"), F.count_if(F.col(PARSE_OK)).alias("ok")
            ),
            routed_dir,
            os.path.join(out_dir, "agg", f"batch_id={batch_id}"),
        )
        observed = seen.get
        total, ok = observed["n"], observed["ok"]
        routed = routed_row_counts(routed_dir)
        if sum(routed.values()) != total:
            raise RuntimeError(
                f"batch {batch_id}: {routed_dir} holds {sum(routed.values())} rows, "
                f"the write observed {total}"
            )
        ledger.record_batch(
            batch_id,
            {
                "rows_in": total,
                "rows_parsed": ok,
                "rows_discarded": total - ok,
                **{f"routed_{r}": n for r, n in routed.items()},
            },
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ledger


def read_routed_stream_output(
    spark: SparkSession, out_dir: str, route: str | None = None
) -> DataFrame:
    return read_sink(spark, os.path.join(out_dir, "routed"), route, fmt="parquet")


def read_final_aggregates(spark: SparkSession, out_dir: str) -> DataFrame:
    """Exactly-once final counts: sum of per-batch partial aggregates."""
    base = os.path.join(out_dir, "agg")
    df = spark.read.option("basePath", base).parquet(base)
    return df.groupBy(ROUTE, "role", "tool", "hour").agg(F.sum("n").alias("n"))


def streaming_hourly_counts(
    transcripts_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts for unbounded late-data streams
    (`window` + watermark bound the state store; late rows beyond the
    watermark are dropped deterministically)."""
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
