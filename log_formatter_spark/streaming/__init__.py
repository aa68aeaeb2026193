"""Structured Streaming rendering of the reference's unbounded pipeline
(input pump → workers → output pump, reference agent/manager.go:72-79),
upgraded with checkpoint-resume and an accumulator-backed metrics ledger."""

from log_formatter_spark.streaming.job import (
    TRANSCRIPT_SCHEMA,
    stream_transcripts,
    run_streaming_pipeline,
    read_routed_stream_output,
    read_final_aggregates,
    streaming_hourly_counts,
    write_ordered_slices,
)
from log_formatter_spark.streaming.ledger import MetricsLedger, read_ledger

__all__ = [
    "TRANSCRIPT_SCHEMA",
    "stream_transcripts",
    "run_streaming_pipeline",
    "read_routed_stream_output",
    "read_final_aggregates",
    "streaming_hourly_counts",
    "write_ordered_slices",
    "MetricsLedger",
    "read_ledger",
]
