"""YAML pipeline planner — the reference's "query language".

The reference is configured by a YAML document with ``input``,
``pipeline`` and ``output`` sections (reference README.md:24-39;
mandatory-field validation agent/manager.go:90-101), with ``!include``
fragment composition (util/config.go:38-80). The formatter chain is an
ordered list applied left-to-right (agent/pipeline/pipeline.go:81-98,
158-167); ``worker: N`` sets stage parallelism.

Here the same document compiles to a declarative DataFrame DAG:

- ``input.target``      → sources registry (sources/readers.py)
- ``pipeline.formatters`` → ordered ``df.transform`` chain; Catalyst
  fuses it into one codegen stage (the reference runs it row-at-a-time)
- ``pipeline.worker``   → salted hash(conv_id) repartition width
- ``pipeline.labels``   → lit-column stamping
- ``output.target``     → sinks registry; ``output.index`` with
  ``{{field}}`` templates reproduces the ES dynamic-index fan-out
  (util/config.go:16-32); ``output.aggregates`` (parquet only) adds the
  per-sink (route, role, tool, hour) count table

There is deliberately no optimizer here (the reference has none either,
SURVEY.md §4.1) — the plan is handed to Catalyst, which does the
pushdown/pruning/reordering the reference never had.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import yaml
from pyspark.sql import DataFrame, SparkSession

from log_formatter_spark.operators.filter import apply_filter
from log_formatter_spark.operators.labels import stamp_labels
from log_formatter_spark.operators.parser import LabelRule, ParserConfig, apply_parser
from log_formatter_spark.sinks.writer import SINKS
from log_formatter_spark.sources.readers import build_source

# --- config loading with !include (util/config.go:38-80 parity) -----------


class _IncludeLoader(yaml.SafeLoader):
    pass


def _include(loader: _IncludeLoader, node: yaml.Node):
    rel = loader.construct_scalar(node)
    base = os.path.dirname(getattr(loader, "_config_path", "."))
    with open(os.path.join(base, rel)) as f:
        sub = _IncludeLoader(f)
        sub._config_path = os.path.join(base, rel)
        try:
            return sub.get_single_data()
        finally:
            sub.dispose()


_IncludeLoader.add_constructor("!include", _include)


def load_config(path: str) -> dict:
    with open(path) as f:
        loader = _IncludeLoader(f)
        loader._config_path = path
        try:
            cfg = loader.get_single_data()
        finally:
            loader.dispose()
    for section in ("input", "pipeline", "output"):
        # agent/manager.go:90-101: all three sections are mandatory
        if section not in cfg:
            raise ValueError(f"config missing mandatory section: {section}")
    return cfg


# --- formatter registry (agent/pipeline/formatter.go:16-36 parity) --------

FormatterFn = Callable[[DataFrame, dict], DataFrame]


def _parser_formatter(df: DataFrame, cfg: dict) -> DataFrame:
    labels = tuple(
        LabelRule(l["component"], tuple(l.get("regexprs", ()))) for l in cfg.get("labels", ())
    )
    if "grok" in cfg:  # plan-time sugar: expand grok to the raw regex
        from log_formatter_spark.functions.grok import grok_to_regex

        regex = grok_to_regex(cfg["grok"], cfg.get("grok_patterns"))
    else:
        regex = cfg["components_regex"]
    return apply_parser(
        df,
        ParserConfig(
            components_regex=regex,
            target_field=cfg.get("target_field", "text"),
            labels=labels,
            error_tolerant=bool(cfg.get("error_tolerant", False)),
            engine=cfg.get("engine", "arrow"),
        ),
    )


def _filter_formatter(df: DataFrame, cfg: dict) -> DataFrame:
    return apply_filter(
        df,
        include_fields=cfg.get("include_fields"),
        exclude_fields=cfg.get("exclude_fields"),
    )


def _forwarder_formatter(df: DataFrame, cfg: dict) -> DataFrame:
    return df


def _enrich_formatter(df: DataFrame, cfg: dict) -> DataFrame:
    from log_formatter_spark.lookups import role_lookup, tool_lookup
    from log_formatter_spark.operators.enrich import enrich_role_tool

    spark = df.sparkSession
    return enrich_role_tool(df, role_lookup(spark), tool_lookup(spark))


def _route_formatter(df: DataFrame, cfg: dict) -> DataFrame:
    from log_formatter_spark.operators.route import add_route, sink_template_route

    if cfg.get("template"):
        return sink_template_route(df, cfg["template"])
    return add_route(df)


FORMATTERS: dict[str, FormatterFn] = {
    "parser": _parser_formatter,
    "filter": _filter_formatter,
    "forwarder": _forwarder_formatter,
    "enrich": _enrich_formatter,
    "route": _route_formatter,
}


def register_formatter(name: str, fn: FormatterFn) -> None:
    """Plugin hook (replaces .so formatter loading,
    agent/pipeline/formatter.go:55-73)."""
    FORMATTERS[name] = fn


# --- plan construction ----------------------------------------------------


def apply_pipeline(df: DataFrame, pipe: dict) -> DataFrame:
    """The one DAG builder (batch, each streaming micro-batch, the
    flagship): a ``pipeline`` section's ``worker`` salted repartition,
    then its formatter chain, then its labels."""
    worker = int(pipe.get("worker", 0))
    if worker and "conv_id" in df.columns:
        from log_formatter_spark.operators.skew import salted_repartition

        df = salted_repartition(df, worker)
    elif worker:
        df = df.repartition(worker)

    for step in pipe.get("formatters", ()):  # ordered chain, pipeline.go:158-167
        if isinstance(step, str):
            name, step_cfg = step, {}
        else:
            (name, step_cfg), = step.items()
        if name not in FORMATTERS:
            raise ValueError(f"unknown formatter: {name!r}")
        df = FORMATTERS[name](df, step_cfg or {})

    if pipe.get("labels"):  # label stamp after the chain, pipeline.go:169-171
        df = stamp_labels(df, {k: str(v) for k, v in pipe["labels"].items()})
    return df


def build_pipeline(spark: SparkSession, cfg: dict) -> DataFrame:
    """input + pipeline section → the routed DataFrame (logical plan)."""
    return apply_pipeline(build_source(spark, cfg["input"]), cfg.get("pipeline") or {})


def run_batch(spark: SparkSession, cfg: dict) -> DataFrame:
    """Build the plan and drive it into the configured sink (the
    single-output rule mirrors agent/output/output.go:49-51). Returns
    the routed DataFrame for inspection."""
    df = build_pipeline(spark, cfg)
    out = cfg["output"]
    target = out.get("target")
    if not target or target not in SINKS:
        raise ValueError(f"unknown or missing output target: {target!r}")
    if out.get("aggregates") and target != "parquet":
        raise ValueError(f"output.aggregates needs the parquet target, got {target!r}")
    SINKS[target](df, out)
    return df
