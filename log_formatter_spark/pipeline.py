"""The flagship parse → enrich → route → aggregate DAG.

A ``pipeline`` section built next to ``TRANSCRIPT_PATTERN`` (which the
oracle and the DuckDB twins also read) and compiled by the planner's
``apply_pipeline``, like every batch and streaming run. At 10^12 rows
the plan has exactly two shuffles: the optional salted repartition by
hash(conv_id) and the final aggregate's key-only exchange. Everything
between scan and aggregate is one fused WholeStageCodegen + one Arrow
UDF stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from log_formatter_spark.operators.aggregate import sink_aggregates
from log_formatter_spark.plans.planner import apply_pipeline
from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN


@dataclass(frozen=True)
class PipelineOptions:
    engine: str = "arrow"  # grok engine: arrow | jvm
    repartition: int | None = None  # salted hash(conv_id) partitions; None = as scanned

    def section(self) -> dict:
        """The flagship's ``pipeline`` config section."""
        parser = {"components_regex": TRANSCRIPT_PATTERN, "engine": self.engine}
        chain = [{"parser": parser}, "enrich", "route"]
        return {"worker": self.repartition or 0, "formatters": chain}


def parsed_enriched_routed(
    spark: SparkSession, transcripts: DataFrame, opts: PipelineOptions = PipelineOptions()
) -> DataFrame:
    """transcripts -> parsed + enriched + routed row-level DataFrame."""
    return apply_pipeline(transcripts, opts.section())


def full_pipeline(
    spark: SparkSession, transcripts: DataFrame, opts: PipelineOptions = PipelineOptions()
) -> DataFrame:
    """transcripts -> per-sink aggregate counts (the headline query)."""
    return sink_aggregates(parsed_enriched_routed(spark, transcripts, opts))
