"""Driver-contract query catalog.

One named entry per implemented operator (SURVEY.md §2 + the
training-data layer), each as a ``(spark, sf_dir) -> DataFrame`` builder
paired with an ANSI-SQL oracle that DuckDB evaluates over the same
parquet tables. The driver compares row counts, schemas and
order-insensitive value hashes — so every aliased column here is kept in
lockstep between the Spark plan and the SQL string.

Numeric parity policy (why exact hash-equality is achievable):
- integer counts/ranks: exact in both engines;
- doubles: formulas restricted to IEEE-deterministic ops (+,-,*,/,sqrt,
  abs,least,greatest) evaluated in the same order on identically-cast
  inputs → bit-identical results;
- decimal-cast sums for float aggregations (order-independent exact
  addition), cast back to double at the end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_formatter_spark.functions import sketch
from log_formatter_spark.functions import shingles as sh
from log_formatter_spark.functions import text as T
from log_formatter_spark.functions.grok import grok_parser, grok_to_regex
from log_formatter_spark.functions.redact import redact_text, redact_text_sql
from log_formatter_spark.lookups import (
    ROLE_LOOKUP_SQL,
    TOOL_LOOKUP_SQL,
)
from log_formatter_spark.operators import (
    conversations,
    corpus,
    dedup,
    olap,
    sessions,
    validate,
)
from log_formatter_spark.sources import kafka_fixture
from log_formatter_spark.operators.filter import apply_filter
from log_formatter_spark.operators.labels import stamp_labels
from log_formatter_spark.operators.ordering import with_turn_order
from log_formatter_spark.operators.parser import ParserConfig, apply_parser
from log_formatter_spark.operators.route import ROUTE_SQL, sink_template_route
from log_formatter_spark.operators.skew import (
    key_skew_report,
    key_skew_report_sql,
    salted_count,
)
from log_formatter_spark.pipeline import (
    PipelineOptions,
    full_pipeline,
    parsed_enriched_routed,
)
from log_formatter_spark.transcripts import (
    ASSEMBLE_CONVERSATIONS_SQL,
    TRANSCRIPT_PATTERN,
    TRANSCRIPTS_SQL,
    assemble_conversations,
    compact_regenerations,
    compact_regenerations_sql,
    preference_pairs,
    preference_pairs_sql,
    prefix_share,
    prefix_share_sql,
    sft_pairs,
    sft_pairs_sql,
    tool_pagerank,
    tool_pagerank_sql,
    tool_transitions,
    tool_transitions_sql,
    transcripts_from_events,
)

# conversation template-prefix dedup: key on the first k turns
# (150 convs -> 57 prefix groups at sf0.01; 15 -> 14 at sf0.001)
CONV_DEDUP_PREFIX = 2
# temporal holdout cutoff: mid-corpus (events span 2024-01), splitting
# the sessionized units into a non-trivial train/eval/straddle mix
TEMPORAL_CUTOFF = "2024-01-16 00:00:00"
# decontamination: every 23rd doc plays the "benchmark" corpus (31
# flagged train docs at sf0.01 with 4-gram shingles; 36 at sf0.001)
DECONTAM_EVAL_MOD = 23
# bloom filter sized so the fixture exercises ALL THREE outcome classes
# at the driver's sf0.01 (m=2048/k=3 over ~400 corpus keys: 50 true
# hits, 3 false positives, 47 true negatives); production m scales with
# the corpus key count (bits/key ~ 14 for 1e-4 FP), still broadcastable
BLOOM_M_BITS = 2048
BLOOM_K = 3

QueryFn = Callable[[SparkSession, str], DataFrame]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- transcript-pipeline oracle CTE chain ---------------------------------

_P = TRANSCRIPT_PATTERN
# The DuckDB rendering of the parse layer over a ``text`` column:
# ``parse_ok`` plus the four groups, NULL where the line does not match.
# The transcript oracles below and the parser property test both use it.
PARSE_SQL = ",\n         ".join(
    [f"coalesce(regexp_matches(text, '{_P}'), FALSE) AS parse_ok"]
    + [
        f"CASE WHEN regexp_matches(text, '{_P}') THEN regexp_extract(text, '{_P}', {i + 1}) END AS {g}"
        for i, g in enumerate(["ts_str", "level", "tool_tag", "body"])
    ]
)

TRANSCRIPT_CTES = f"""
WITH transcripts AS ({TRANSCRIPTS_SQL}),
parsed AS (
  SELECT t.*,
         {PARSE_SQL}
  FROM transcripts t
),
enriched AS (
  SELECT p.*, role_lookup.role_class, role_lookup.priority,
         tool_lookup.tool_kind, tool_lookup.is_sideeffect
  FROM parsed p
  LEFT JOIN {ROLE_LOOKUP_SQL} ON p.role = role_lookup.role
  LEFT JOIN {TOOL_LOOKUP_SQL} ON p.tool = tool_lookup.tool
),
routed AS (SELECT *, {ROUTE_SQL} AS route FROM enriched)
"""


# Exact-substring dedup fixture (the pii_redact/incremental_dedup
# pattern: the synthetic corpus has no organic repeated passages, so the
# query engineers them identically in both engines): every 9th doc
# appends a doc_id-keyed truncation of a fixed 21-token disclaimer
# (12 + 3*(doc_id%4) tokens), so pairs from different length groups
# share the common PREFIX run — exercising maximal-run extraction.
_SPAN_DISCLAIMER = (
    "this content is provided as is without warranty of any kind either "
    "express or implied including fitness for a particular purpose"
).split()


def _span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    disc = F.array(*[F.lit(w) for w in _SPAN_DISCLAIMER])
    k = F.lit(12) + (F.col("doc_id") % 4).cast("int") * F.lit(3)
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.col("text"), F.lit(" "), F.array_join(F.slice(disc, F.lit(1), k), " ")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


_SPAN_DISC_SQL = "[" + ", ".join(f"'{w}'" for w in _SPAN_DISCLAIMER) + "]"
_SPAN_DOCS_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0
            THEN text || ' ' || array_to_string(
                   list_slice({_SPAN_DISC_SQL}, 1,
                              12 + CAST(doc_id % 4 AS INTEGER) * 3), ' ')
            ELSE text END AS text
FROM documents
"""


# Regeneration fixture for compact_regenerations (the engineered-fixture
# pattern: the synthetic transcript log is one-write-per-turn, so the
# query re-emits deterministic slices as later versions identically in
# both engines): every turn_idx % 5 == 2 turn gets a second write 1 s
# later, every turn_idx % 10 == 2 turn a third 2 s later — exercising
# n_versions ∈ {1, 2, 3} and a winner from each re-emit tier.
def _regen_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)

    def rewrite(mod: int, secs: int) -> DataFrame:
        return (
            t.where(F.col("turn_idx") % mod == 2)
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {secs} SECOND"))
            .withColumn(
                "text", F.concat(F.col("text"), F.lit(f" [regen v{secs + 1}]"))
            )
        )

    return t.unionByName(rewrite(5, 1)).unionByName(rewrite(10, 2))


_REGEN_CTE = """
, regen AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts
  UNION ALL
  SELECT conv_id, turn_idx, role, text || ' [regen v2]' AS text, tool,
         ts + INTERVAL 1 SECOND AS ts
  FROM transcripts WHERE turn_idx % 5 = 2
  UNION ALL
  SELECT conv_id, turn_idx, role, text || ' [regen v3]' AS text, tool,
         ts + INTERVAL 2 SECOND AS ts
  FROM transcripts WHERE turn_idx % 10 = 2
)
"""


# Shared-prefix fixture (the _span_docs/_regen_turns pattern: the
# synthetic transcripts have no organically shared openings — every
# turn text embeds its ts/user — so the query engineers them
# identically in both engines): 40% of conversations (conv number
# % 5 < 2) get their first k turns replaced with a canned template
# keyed by (group = num % 5, turn_idx), where k = 2 + (num div 5) % 3
# varies 2..4 — so shared_depth takes several non-trivial values (a
# conv's depth = its own k, since all (group, k) classes are populated
# at sf0.01's 150 conversations).


def _prefix_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    num = "cast(substring(conv_id, 6, 8) as bigint)"
    templated = F.expr(f"{num} % 5 < 2") & (
        F.col("turn_idx") < F.expr(f"2 + ({num} div 5) % 3")
    )
    tmpl = F.concat(
        F.lit("pfx turn "),
        F.expr(f"{num} % 5").cast("string"),
        F.lit(" "),
        F.col("turn_idx").cast("string"),
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.when(templated, tmpl).otherwise(F.col("text")).alias("text"),
    )


_PREFIX_CTE = """
, pfx_turns AS (
  SELECT conv_id, turn_idx,
         CASE WHEN CAST(substr(conv_id, 6, 8) AS BIGINT) % 5 < 2
                   AND turn_idx < 2 + (CAST(substr(conv_id, 6, 8) AS BIGINT) // 5) % 3
              THEN 'pfx turn ' || CAST(CAST(substr(conv_id, 6, 8) AS BIGINT) % 5 AS VARCHAR)
                   || ' ' || CAST(turn_idx AS VARCHAR)
              ELSE text END AS text
  FROM transcripts
)
"""


def _pipeline_counts(engine: str) -> QueryFn:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = transcripts_from_events(spark, sf_dir)
        return full_pipeline(spark, t, PipelineOptions(engine=engine))

    return q


_PIPELINE_COUNTS_SQL = (
    TRANSCRIPT_CTES
    + """
SELECT route, role, tool, date_trunc('hour', ts) AS hour, count(*) AS n
FROM routed GROUP BY route, role, tool, date_trunc('hour', ts)
"""
)


# incremental sink-aggregate maintenance: the corpus/batch boundary is a
# ts cutoff (the last-ten-days ingest shape on the Jan-2024 fixture);
# the oracle is the SINGLE-PASS recompute — merge ≡ recompute is the
# correctness content.
_AGG_MERGE_CUTOFF = "2024-01-21 00:00:00"


def _sink_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_formatter_spark.operators.aggregate import merge_sink_aggregates

    t = transcripts_from_events(spark, sf_dir)
    cut = F.lit(_AGG_MERGE_CUTOFF).cast("timestamp_ntz")
    # NULL-ts rows ride the delta: `< cut` / `>= cut` are NOT
    # complementary under NULL (validate_events anticipates null_ts
    # rows), and the oracle's single-pass recompute keeps them in a
    # NULL hour group — dropping them would fail the hash
    state = full_pipeline(spark, t.where(F.col("ts") < cut))
    delta = full_pipeline(
        spark, t.where((F.col("ts") >= cut) | F.col("ts").isNull())
    )
    return merge_sink_aggregates(state, delta)


def _parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_parser(t, ParserConfig(TRANSCRIPT_PATTERN, "text", engine="arrow"))
    return parsed.select(
        "conv_id", "turn_idx", "parse_ok", "ts_str", "level", "tool_tag", "body"
    )


# The transcript extraction written in grok instead of raw regex — the
# Logstash-facing surface of the same parser (functions/grok.py expands
# it to a named-group regex at plan time; the oracle runs the identical
# expanded pattern, so this row also pins grok's engine parity).
GROK_TRANSCRIPT = (
    "%{TIMESTAMP_ISO8601:ts_str} %{LOGLEVEL:level} "
    r"\[%{DATA:tool_tag}\] %{GREEDYDATA:body} turn=%{NONNEGINT:turn_}"
)


def _parse_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_parser(t, grok_parser(GROK_TRANSCRIPT, engine="arrow"))
    return parsed.select(
        "conv_id", "turn_idx", "parse_ok", "ts_str", "level", "tool_tag", "body"
    )


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministically injected PII.

    The synthetic corpus carries no organic PII, so the query itself
    stamps emails / IPs / phone shapes onto a doc_id-derived subset —
    computed identically by the oracle — and the redactor must find and
    replace exactly those (plus count them on the original text)."""
    docs = _docs(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach me at user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" src=10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0.1"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call +1 (555) 010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_text(injected)


# grok oracle: DuckDB runs the SAME expanded pattern; dictionary entries
# are capture-free, so group index == field position (functions/grok.py).
_GP = grok_to_regex(GROK_TRANSCRIPT)
_GROK_EXTRACT = ",\n       ".join(
    f"CASE WHEN regexp_matches(text, '{_GP}') THEN regexp_extract(text, '{_GP}', {i + 1}) END AS {g}"
    for i, g in enumerate(["ts_str", "level", "tool_tag", "body"])
)
_PARSE_GROK_SQL = f"""
WITH transcripts AS ({{TRANSCRIPTS_SQL}})
SELECT conv_id, turn_idx,
       coalesce(regexp_matches(text, '{_GP}'), FALSE) AS parse_ok,
       {_GROK_EXTRACT}
FROM transcripts
""".replace("{TRANSCRIPTS_SQL}", TRANSCRIPTS_SQL)


_PII_INJECT_SQL = """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 3 = 0
               THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0
               THEN ' src=10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
               ELSE '' END
       || CASE WHEN doc_id % 7 = 0
               THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END
       AS text
FROM documents
"""


def _enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    df = parsed_enriched_routed(spark, t)
    return df.select(
        "conv_id", "turn_idx", "role", "tool",
        "role_class", "priority", "tool_kind", "is_sideeffect",
    )


def _route_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    df = parsed_enriched_routed(spark, t)
    return df.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


def _window_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return with_turn_order(t).select("conv_id", "turn_idx", "turn_order")


def _skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return salted_count(t, "conv_id", n_salts=16)


def _filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return apply_filter(t, include_fields=["^conv", "^turn", "^role$"])


def _filter_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclude-mode projection — implemented properly here; the reference
    parses exclude_fields but never applies them (filter.go:58-69,
    documented divergence)."""
    t = transcripts_from_events(spark, sf_dir)
    return apply_filter(t, exclude_fields=["^text$", "^ts$"])


def _parse_error_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """error_tolerant=true (parser.go:50-56): failed rows are kept with
    null fields and never flagged for discard."""
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_parser(
        t, ParserConfig(TRANSCRIPT_PATTERN, "text", error_tolerant=True, engine="arrow")
    )
    return parsed.select("conv_id", "turn_idx", "parse_ok", "level")


def _labels_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    stamped = stamp_labels(t, {"env": "prod", "pipeline_name": "lfs"})
    return stamped.groupBy("env", "pipeline_name").agg(F.count(F.lit(1)).alias("n"))


_LABEL_RX = r"hello (?P<second_word>\w+)"


def _parse_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level label extraction (reference parser.go:79-97): a second
    regex runs over the extracted ``body`` component; label failure is a
    null, never a discard."""
    from log_formatter_spark.operators.parser import LabelRule

    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_parser(
        t,
        ParserConfig(
            TRANSCRIPT_PATTERN,
            "text",
            labels=(LabelRule("body", (_LABEL_RX,)),),
            engine="arrow",
        ),
    )
    return parsed.select("conv_id", "turn_idx", "body", "second_word")


def _sink_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    parsed = apply_parser(t, ParserConfig(TRANSCRIPT_PATTERN, "text", engine="arrow"))
    routed = sink_template_route(parsed, "logs-{{level}}-{{role}}")
    return routed.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


def _events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON doc columns (the kafka `schema: json` / ES `_source`
    shape, SURVEY §1.2): parse the events table's ``props`` JSON string
    with a declared schema and aggregate the extracted field — at scale
    a map-only from_json inside codegen feeding a partial agg."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json(F.col("props"), "k int").getField("k")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_EVENTS_PROPS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       min(CAST(props->>'k' AS INTEGER)) AS min_k,
       max(CAST(props->>'k' AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


def _busiest_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N ranking (the "hottest conversations" ops query):
    count per conv, total-order sort, limit — Spark plans this as
    partial-agg → final-agg → TakeOrderedAndProject, so the driver never
    sees more than N rows and no full sort materializes."""
    t = transcripts_from_events(spark, sf_dir)
    counts = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    return counts.orderBy(F.col("n_turns").desc(), "conv_id").limit(10)


_BUSIEST_CONVS_SQL = (
    TRANSCRIPT_CTES
    + """
SELECT conv_id, count(*) AS n_turns FROM transcripts
GROUP BY conv_id ORDER BY n_turns DESC, conv_id LIMIT 10
"""
)


def _distinct_convs_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-aggregation machinery (expand + two-phase agg)."""
    t = transcripts_from_events(spark, sf_dir)
    return t.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def _streaming_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming flagship's FINAL aggregates, oracle-checked against
    the same SQL as the batch pipeline — the batch ≡ streaming
    equivalence claim as a driver-hashed contract row (round 1 left
    streaming pytest-gated only).

    Runs the checkpoint-resumable foreachBatch job to completion
    (Trigger.AvailableNow) over the sf transcripts written to a fresh
    temp dir, then returns the summed per-batch partial aggregates.
    Fresh out/checkpoint dirs per call keep the query idempotent for
    repeated driver invocations."""
    import tempfile

    from log_formatter_spark.streaming.job import (
        read_final_aggregates,
        run_streaming_pipeline,
    )

    work = tempfile.mkdtemp(prefix="lfs_contract_stream_")
    src = f"{work}/in"
    transcripts_from_events(spark, sf_dir).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    # jvm parse engine at gate time: identical results (the engines'
    # equivalence is its own contract row, pipeline_counts vs
    # pipeline_counts_jvm) without per-micro-batch Python worker spin-up
    # — the single most expensive gate entry dropped ~19 s → ~8 s,
    # protecting the driver's budget for the catalog tail (VERDICT r2 #1)
    run_streaming_pipeline(
        spark,
        src,
        f"{work}/out",
        f"{work}/ckpt",
        opts=PipelineOptions(engine="jvm"),
        max_files_per_trigger=2,
    )
    return read_final_aggregates(spark, f"{work}/out")


def _streaming_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming tool-handoff pairs, batch-aggregated and
    hash-checked against the SAME DuckDB oracle as the batch
    ``tool_transitions`` — the SIXTH streaming ≡ batch equivalence
    shipped as a driver row, and the first through
    ``applyInPandasWithState`` (a transition straddling a micro-batch
    boundary exists in neither batch alone; per-conversation state
    carries the last tool across triggers).

    The fixture writes TWO turn-range files and feeds them one per
    trigger (maxFilesPerTrigger=1), so every conversation's boundary
    pair can only come from carried state — a single-trigger run would
    not prove statefulness (the d54ec7c one-boundary gate-budget
    discipline). Pair rows round-trip through parquet; the final
    aggregation is the shared ``transition_counts`` definition."""
    import tempfile

    from log_formatter_spark.streaming.job import stream_transcripts
    from log_formatter_spark.streaming.transitions import streaming_tool_pairs
    from log_formatter_spark.transcripts import transition_counts

    work = tempfile.mkdtemp(prefix="lfs_contract_streamtt_")
    t = transcripts_from_events(spark, sf_dir)
    src = f"{work}/in"
    # the file source processes files in modification-time order, so
    # trigger 1 must be the early turns (the operator asserts per-conv
    # order and would raise); write_ordered_slices pins strictly
    # increasing mtimes — sequential writes can TIE on coarse-mtime
    # filesystems and deliver late-file-first (ADVICE r4)
    from log_formatter_spark.streaming.job import write_ordered_slices

    write_ordered_slices(
        src,
        t.where(F.col("turn_idx") < 30),
        t.where(F.col("turn_idx") >= 30),
    )
    q = (
        streaming_tool_pairs(stream_transcripts(spark, src, max_files_per_trigger=1))
        .writeStream.format("parquet")
        .option("path", f"{work}/pairs")
        .option("checkpointLocation", f"{work}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return transition_counts(spark.read.parquet(f"{work}/pairs"))


KAFKA_CORRUPT_EVERY = 20


def _streaming_conv_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session-window conversation content keys, hash-checked
    against the BATCH gaps-and-islands DuckDB oracle — the second
    streaming ≡ batch equivalence shipped as a driver row (the first is
    the flagship's aggregates, `streaming_pipeline_counts`).

    memory sink + complete mode on purpose: sessions still open at
    end-of-data never flush in append mode, so complete is the only
    output mode whose final table equals the batch computation exactly;
    at gate scale that table is sessions-sized (~10 k rows at sf0.01).
    Production writes closed sessions append-only (watermark-evicted)
    through the parquet sink — the open-session tail is the price of an
    unbounded stream, not of this operator. Results round-trip through
    parquet so the returned plan is a plain scan (catalog plan guard)."""
    import tempfile

    from log_formatter_spark.operators.conversations import streaming_conv_keys
    from log_formatter_spark.streaming import stream_transcripts

    work = tempfile.mkdtemp(prefix="lfs_contract_convkeys_")
    src = f"{work}/in"
    transcripts_from_events(spark, sf_dir).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    q = (
        streaming_conv_keys(
            stream_transcripts(spark, src),
            gap="30 minutes",
            canon=F.expr("substr(text, 21)"),
        )
        .writeStream.format("memory")
        .queryName("lfs_conv_keys_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table("lfs_conv_keys_gate").select(
        "conv_id",
        F.col("win.start").alias("session_start"),
        "conv_key",
        "n_turns",
    ).write.mode("overwrite").parquet(f"{work}/keys")
    return spark.read.parquet(f"{work}/keys")


def _streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming new-ingest dedup against the static corpus key index,
    hash-checked against the batch oracle — the THIRD streaming ≡ batch
    equivalence shipped as a driver row. maxFilesPerTrigger=1 over 2
    input files forces the per-key state to survive a trigger boundary
    (a single-trigger run would not prove statefulness; deeper
    multi-batch slicing is pinned in tests/test_streaming_incremental —
    the gate pays for exactly one boundary, the r2 gate-budget lesson);
    complete mode because the final table is the keys-sized aggregate.
    Results round-trip through parquet so the returned plan is a plain
    scan (catalog plan guard)."""
    import tempfile

    from log_formatter_spark.streaming.dedup import streaming_incremental_dedup

    work = tempfile.mkdtemp(prefix="lfs_contract_incdedup_")
    docs = _inc_docs(spark, sf_dir)
    src = f"{work}/in"
    docs.where(F.col("doc_id") % 5 == 0).repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_incremental_dedup(stream, docs.where(F.col("doc_id") % 5 != 0))
        .writeStream.format("memory")
        .queryName("lfs_inc_dedup_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table("lfs_inc_dedup_gate").write.mode("overwrite").parquet(f"{work}/out")
    return spark.read.parquet(f"{work}/out")


_CONV_ND_TEMPLATE = (
    "near dup conversation template alpha beta gamma delta epsilon zeta eta theta t"
)


def _nd_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts with a deterministic near-dup conversation fixture
    (the _inc_docs pattern): every 7th conversation's turns become a
    shared periodic template in two classes (conv % 2), so same-class
    convs are est=1.0 pairs at EVERY sf and cross-class convs exercise
    the partial-overlap branch at sf0.01 (1 pair at sf0.001, 110 at
    sf0.01 — 53 exact + 57 near)."""
    cn = F.expr("CAST(substr(conv_id, 6) AS BIGINT)")
    fixture = F.concat(
        F.lit(_CONV_ND_TEMPLATE),
        (F.col("turn_idx") % 4).cast("string"),
        F.lit(" mark"),
        (cn % 2).cast("string"),
    )
    return transcripts_from_events(spark, sf_dir).withColumn(
        "text", F.when(cn % 7 == 0, fixture).otherwise(F.col("text"))
    )


_CONV_ND_FIXTURE_SQL = f"""(
  SELECT conv_id, turn_idx,
         CASE WHEN CAST(substr(conv_id, 6) AS BIGINT) % 7 = 0
              THEN '{_CONV_ND_TEMPLATE}'
                   || CAST(turn_idx % 4 AS VARCHAR) || ' mark'
                   || CAST(CAST(substr(conv_id, 6) AS BIGINT) % 2 AS VARCHAR)
              ELSE text END AS text
  FROM transcripts
)"""


def _attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_formatter_spark.operators.asof import attribution_window

    return attribution_window(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _attribution_window_sql() -> str:
    from log_formatter_spark.operators.asof import attribution_window_sql

    return attribution_window_sql()


def _streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (clicks stream ⋈
    purchases stream), hash-checked against the batch theta-join oracle
    — the FOURTH streaming ≡ batch driver row, and the one that
    exercises Spark's two-sided join state + range-based eviction.
    maxFilesPerTrigger=1 over 2 files forces matches whose sides arrive
    in different micro-batches (only click/purchase rows land in the
    source — the other event types never join, so shipping them through
    the stream is pure gate cost)."""
    import tempfile

    from log_formatter_spark.streaming.joins import streaming_attribution

    work = tempfile.mkdtemp(prefix="lfs_contract_ssjoin_")
    src = f"{work}/in"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("event_type").isin("click", "purchase")
    )
    ev.repartition(2).write.mode("overwrite").parquet(src)

    def _stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    q = (
        streaming_attribution(
            _stream().where(F.col("event_type") == "click"),
            _stream().where(F.col("event_type") == "purchase"),
        )
        .writeStream.format("memory")
        .queryName("lfs_ssjoin_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table("lfs_ssjoin_gate").write.mode("overwrite").parquet(f"{work}/out")
    return spark.read.parquet(f"{work}/out")


def _streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog register maintenance, hash-checked against
    the BATCH hll_distinct oracle — the SEVENTH streaming ≡ batch
    equivalence, and the one where streamability is a THEOREM rather
    than an engineering property: the (group, bucket) → max(rank)
    register aggregate is monotone, so Structured Streaming maintains
    it with bounded state (O(groups × 2^p) rows) and ANY micro-batch
    slicing of the input yields the same final register table. One
    definition rule: the stream runs the literal `sketch.hll_registers`
    the batch operator runs (the tool_pairs discipline); the estimate +
    measured-ground-truth join is computed batch-side from the final
    register state, so the row hashes against `hll_distinct_sql`
    verbatim. Complete mode on purpose — registers are a running
    maximum, never append-safe; the register table IS the state and it
    is register-count-sized, not data-sized. maxFilesPerTrigger=1 over
    4 input files exercises multi-trigger maintenance."""
    import tempfile

    work = tempfile.mkdtemp(prefix="lfs_contract_shll_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type"
    )
    src = f"{work}/in"
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sketch.hll_registers(stream, "event_type", "user_id", p=5)
        .writeStream.format("memory")
        .queryName("lfs_shll_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    regs = spark.table("lfs_shll_gate")
    exact = ev.where(F.col("user_id").isNotNull()).groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_distinct")
    )
    sketch.hll_estimate(regs, "event_type", p=5).join(
        exact, "event_type"
    ).write.mode("overwrite").parquet(f"{work}/out")
    return spark.read.parquet(f"{work}/out")


def _streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min counter maintenance, hash-checked against the
    BATCH countmin_hitters oracle — the EIGHTH streaming ≡ batch
    equivalence, and like the HLL row a theorem rather than an
    engineering property: the counter table is a per-(row, col) SUM, the
    canonical mergeable sketch, so Structured Streaming maintains it in
    complete mode with bounded state (at most depth × width rows —
    only hit cells materialize, a data-independent bound) and ANY
    micro-batch slicing of the corpus lands
    on the batch counter table exactly. One-definition rule: the stream
    runs the literal `sketch.cm_shingles` → `sketch.cm_counters` the
    batch operator runs; the exact-count candidate side (the measurement
    harness) and the min-of-depth probe are computed batch-side from the
    final counter state, so the row hashes against
    `countmin_heavy_hitters_sql` VERBATIM. maxFilesPerTrigger=1 over 4
    input files exercises multi-trigger maintenance."""
    import tempfile

    work = tempfile.mkdtemp(prefix="lfs_contract_scm_")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = f"{work}/in"
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sketch.cm_counters(sketch.cm_shingles(stream))
        .writeStream.format("memory")
        .queryName("lfs_scm_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counters = spark.table("lfs_scm_gate")
    exact = sketch.cm_shingles(docs).groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    cand = exact.where(F.col("exact_count") >= sketch.CM_MIN_COUNT)
    sketch.cm_probe(cand, counters).write.mode("overwrite").parquet(
        f"{work}/out"
    )
    return spark.read.parquet(f"{work}/out")


def _streaming_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-writer-wins compaction — the NINTH streaming ≡
    batch equivalence, and the incremental form of the ingest
    MERGE/upsert story: `max(struct(version))` and `count(*)` are both
    commutative monoids, so the LITERAL batch operator
    `compact_regenerations` runs unchanged on a complete-mode stream
    (the strongest one-definition instance yet — not a shared helper,
    the whole operator) and ANY micro-batch slicing of the ingest log
    lands on the batch compacted table exactly. State is one row per
    LOGICAL turn — bounded by the live table, not the ingest log, which
    is the entire point of compaction: re-deliveries and regenerations
    update a key's row instead of growing state. The row hashes against
    the batch oracle (TRANSCRIPT_CTES + regen fixture +
    `compact_regenerations_sql`) VERBATIM; maxFilesPerTrigger=1 over 4
    files exercises multi-trigger maintenance with re-emitted versions
    split across triggers."""
    import tempfile

    work = tempfile.mkdtemp(prefix="lfs_contract_scompact_")
    regen = _regen_turns(spark, sf_dir)
    src = f"{work}/in"
    regen.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(regen.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        compact_regenerations(stream)
        .writeStream.format("memory")
        .queryName("lfs_scompact_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table("lfs_scompact_gate").write.mode("overwrite").parquet(
        f"{work}/out"
    )
    return spark.read.parquet(f"{work}/out")


def _kafka_decode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka value-decode semantics (reference kafka.go:159-173) run
    against broker-free kafka-shaped frames; every 20th turn carries a
    malformed value to exercise the dead-letter divergence."""
    from log_formatter_spark.sources.kafka_fixture import decode_kafka_value, kafka_frames

    t = transcripts_from_events(spark, sf_dir)
    frames = kafka_frames(t, "json", corrupt_every=KAFKA_CORRUPT_EVERY)
    dec = decode_kafka_value(frames, "json")
    return dec.select(
        F.col("partition").alias("kpart"),
        F.col("offset").alias("koffset"),
        "conv_id", "turn_idx", "role", "text", "tool", "ts_str",
        "decode_ok",
    )


def _kafka_decode_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw mode: any value bytes become {"message": value}
    (reference kafka.go:169-172)."""
    from log_formatter_spark.sources.kafka_fixture import decode_kafka_value, kafka_frames

    t = transcripts_from_events(spark, sf_dir)
    frames = kafka_frames(t, "raw")
    dec = decode_kafka_value(frames, "raw")
    return dec.select(
        F.col("partition").alias("kpart"),
        F.col("offset").alias("koffset"),
        "message",
    )


def _kafka_pipeline_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's kafka E2E gate (Makefile:43-51: producer → agent
    → routed output), brokerless and driver-hashed: the YAML PLANNER
    builds this plan — kafka_fixture source → json decode (corrupt
    frames dead-letter as nulls) → parser → dynamic route template —
    exactly the config a reference user runs
    (config.modules/input-kafka*.yml), then per-route counts are
    oracle-checked. Complements tests/test_kafka_planner.py (which also
    drives the parquet sink write)."""
    from log_formatter_spark.plans.planner import build_pipeline

    cfg = {
        "input": {
            "target": "kafka_fixture",
            "sf_dir": sf_dir,
            "schema": "json",
            "corrupt_every": KAFKA_CORRUPT_EVERY,
        },
        "pipeline": {
            "formatters": [
                {"parser": {"components_regex": TRANSCRIPT_PATTERN}},
                {"route": {"template": "logs-{{level}}-{{role}}"}},
            ],
        },
    }
    df = build_pipeline(spark, cfg)
    return df.groupBy("route").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
    )


def _dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket — the
    standard reproducible-split primitive for training corpora (pure
    function of doc_id: stable across reruns, cluster sizes, engines).
    The rule itself is THE shared :func:`corpus.split_assign`, so this
    per-doc split and ``cluster_split``'s cluster-granular split can
    never drift apart (the refinement property depends on it)."""
    docs = _docs(spark, sf_dir)
    bucket, split = corpus.split_assign(F.col("doc_id"))
    return docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))


_DS_B, _DS_CASE = corpus.split_assign_sql("doc_id")

_DATASET_SPLIT_SQL = f"""
SELECT doc_id, CAST(b AS INTEGER) AS bucket, {_DS_CASE} AS split
FROM (SELECT doc_id, {_DS_B} AS b FROM documents)
"""


def _asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each purchase gets the latest
    at-or-before click of the same user (left-outer as-of join). The
    Spark plan is the single-shuffle union+window form
    (operators/asof.py); the oracle is DuckDB's native ASOF LEFT JOIN —
    two different algorithms, hash-matched. The right side is deduped to
    one row per (user_id, ts) (max event_id wins) so the maximal-match
    rule is well-defined in both engines."""
    from pyspark.sql import Window

    from log_formatter_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        clicks.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        ts_col="ts",
        value_cols=["event_id", "value"],
        tiebreak_col="event_id",
        prefix="last_click_",
    )


_ASOF_LAST_CLICK_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id, value FROM (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
),
purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.ts AS last_click_ts, c.event_id AS last_click_event_id,
       c.value AS last_click_value
FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-to-turn response latency (lag over the conversation window):
    for every turn, who spoke before and how long they took to be
    answered — the ops query behind per-role latency dashboards.
    Integer-microsecond subtraction keeps both engines bit-identical;
    first turns get null prev/latency (lag's frame start)."""
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(w).alias("prev_role"),
        (us - F.lag(us).over(w)).alias("latency_us"),
    )


_TURN_LATENCY_SQL = """
SELECT conv_id, turn_idx, role,
       lag(role) OVER w AS prev_role,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS latency_us
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""


def _kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketch.kmv_distinct(ev, "event_type", "user_id", k=64)


def _hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # p=5 (32 registers) keeps the 150-distinct fixture in HLL's raw
    # regime (threshold 2.5·m = 80) — see the operator docstring; p is
    # an estimator-precision knob, plan-invariant, so the pinned value
    # grades the same code path production runs at p=12
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketch.hll_distinct(ev, "event_type", "user_id", p=5)


# --- incremental dedup fixture ---------------------------------------------
#
# The synthetic corpus has no engineered exact duplicates, so the
# incremental-dedup contract derives its input deterministically from
# doc_id: docs with doc_id%10 ∈ {0,1} collapse onto 3 shared templates
# (0s land in the batch, 1s in the corpus → exercises dup_of_corpus),
# and doc_id%10==5 ∧ doc_id%3==0 rows share a batch-only template
# (→ exercises dup_in_batch + its lowest-id 'new' survivor).

_INC_DOCS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 10 <= 1
              THEN 'shared boilerplate notice ' || CAST(doc_id % 3 AS VARCHAR)
            WHEN doc_id % 10 = 5 AND doc_id % 3 = 0
              THEN 'batch only template'
            ELSE text END AS text
FROM documents
"""


def _inc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    did = F.col("doc_id")
    text = (
        F.when(
            did % 10 <= 1,
            F.concat(F.lit("shared boilerplate notice "), (did % 3).cast("string")),
        )
        .when((did % 10 == 5) & (did % 3 == 0), F.lit("batch only template"))
        .otherwise(F.col("text"))
    )
    return _docs(spark, sf_dir).select("doc_id", text.alias("text"))


def _bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _inc_docs(spark, sf_dir)
    key = F.md5(dedup.norm_text_expr("text"))
    return sketch.bloom_membership(
        corpus_keys=docs.where(F.col("doc_id") % 5 != 0).select(key.alias("key")),
        batch_keys=docs.where(F.col("doc_id") % 5 == 0).select(
            "doc_id", key.alias("key")
        ),
        m=BLOOM_M_BITS,
        k=BLOOM_K,
    )


def _bloom_membership_sql() -> str:
    norm = dedup.norm_text_sql("text")
    return sketch.bloom_membership_sql(
        corpus_src=(
            f"SELECT md5({norm}) AS key FROM ({_INC_DOCS_SQL}) WHERE doc_id % 5 <> 0"
        ),
        batch_src=(
            f"SELECT doc_id, md5({norm}) AS key FROM ({_INC_DOCS_SQL}) "
            "WHERE doc_id % 5 = 0"
        ),
        m=BLOOM_M_BITS,
        k=BLOOM_K,
    )


def _streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom-filter membership probe against the static corpus
    filter, hash-checked against the BATCH bloom_membership oracle — the
    SIXTH streaming ≡ batch equivalence, and the first with ZERO
    streaming state (append mode, stateless stream-static broadcast
    probes; micro-batch slicing provably cannot matter, and the driver
    row proves it anyway). Same harness discipline as the other
    streaming rows: maxFilesPerTrigger=1 over 2 input files, results
    round-trip through parquet."""
    import tempfile

    from log_formatter_spark.streaming.dedup import streaming_bloom_membership

    work = tempfile.mkdtemp(prefix="lfs_contract_sbloom_")
    docs = _inc_docs(spark, sf_dir)
    key = F.md5(dedup.norm_text_expr("text"))
    src = f"{work}/in"
    docs.where(F.col("doc_id") % 5 == 0).repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_bloom_membership(
            stream.select("doc_id", key.alias("key")),
            docs.where(F.col("doc_id") % 5 != 0).select(key.alias("key")),
            m=BLOOM_M_BITS,
            k=BLOOM_K,
        )
        .writeStream.format("memory")
        .queryName("lfs_sbloom_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table("lfs_sbloom_gate").write.mode("overwrite").parquet(f"{work}/out")
    return spark.read.parquet(f"{work}/out")


def _novelty_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_novelty through the MATERIALIZED gram index: write the
    reference corpus's distinct gram-hash table to parquet, read it
    back, probe — same rows as the recompute form, so the oracle is the
    same batch SQL. The round-trip is the point: the driver hash proves
    the persisted artifact carries everything a steady-state novelty
    probe needs, i.e. the reference explode never has to re-run over
    history."""
    import tempfile

    work = tempfile.mkdtemp(prefix="lfs_contract_gramidx_")
    ref, new = corpus.novelty_fixture(_docs(spark, sf_dir))
    corpus.write_gram_index(ref, f"{work}/idx")
    return corpus.ngram_novelty(
        new, ref_grams=spark.read.parquet(f"{work}/idx")
    )


def _streaming_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming n-gram novelty scoring of a document stream against the
    static reference-corpus gram set, hash-checked against the BATCH
    ngram_novelty oracle — the TENTH streaming ≡ batch equivalence, and
    the first where the streaming form IS the batch definition verbatim:
    every node below the final per-doc count aggregate (tokenize,
    n-gram explode, gram hash, stream-static left join) is stateless,
    so `corpus.ngram_novelty(stream, ref)` runs unchanged in complete
    mode and its only state is one row per streamed doc. Same harness
    discipline as the other streaming rows: maxFilesPerTrigger=1 over 4
    input files, results round-trip through parquet so the returned
    plan is a plain scan."""
    import tempfile

    work = tempfile.mkdtemp(prefix="lfs_contract_snov_")
    ref, new = corpus.novelty_fixture(_docs(spark, sf_dir))
    src = f"{work}/in"
    new.select("doc_id", "text").repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        corpus.ngram_novelty(stream, ref)
        .writeStream.format("memory")
        .queryName("lfs_snov_gate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.table("lfs_snov_gate").write.mode("overwrite").parquet(f"{work}/out")
    return spark.read.parquet(f"{work}/out")


def _incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _inc_docs(spark, sf_dir)
    return dedup.incremental_dedup(
        batch=docs.where(F.col("doc_id") % 5 == 0),
        corpus=docs.where(F.col("doc_id") % 5 != 0),
    )


def _streaming_inc_dedup_sql() -> str:
    from log_formatter_spark.streaming.dedup import streaming_incremental_dedup_sql

    return streaming_incremental_dedup_sql(
        batch_cte=f"SELECT * FROM ({_INC_DOCS_SQL}) WHERE doc_id % 5 = 0",
        corpus_cte=f"SELECT * FROM ({_INC_DOCS_SQL}) WHERE doc_id % 5 <> 0",
    )


_STREAMING_INC_DEDUP_SQL = _streaming_inc_dedup_sql()


# --- catalog --------------------------------------------------------------


def queries() -> dict[str, QueryFn]:
    return {
        # the input view itself: per-turn text equality is the north-rule
        # row invariant, checked here as a driver-hashed query
        "transcripts_view": lambda s, d: transcripts_from_events(s, d),
        # core pipeline (SURVEY.md §2)
        "pipeline_counts": _pipeline_counts("arrow"),
        # maintained per-sink aggregate table: state + delta merge
        "sink_agg_merge": _sink_agg_merge,
        "pipeline_counts_jvm": _pipeline_counts("jvm"),
        "streaming_pipeline_counts": _streaming_pipeline_counts,
        "streaming_conv_keys": _streaming_conv_keys,
        "parse_extract": _parse_extract,
        "parse_grok": _parse_grok,
        "parse_labels": _parse_labels,
        "enrich_join": _enrich_join,
        "route_split": _route_split,
        "window_ordering": _window_ordering,
        "turn_latency": _turn_latency,
        "skew_salted_agg": _skew_salted_agg,
        "filter_project": _filter_project,
        "filter_exclude": _filter_exclude,
        "parse_error_tolerant": _parse_error_tolerant,
        "labels_stamp": _labels_stamp,
        "sink_template_route": _sink_template,
        "events_hourly": _events_hourly,
        "events_props_json": _events_props_json,
        "busiest_convs": _busiest_convs,
        "kafka_decode_json": _kafka_decode_json,
        "kafka_decode_raw": _kafka_decode_raw,
        "kafka_pipeline_routed": _kafka_pipeline_routed,
        "asof_last_click": _asof_last_click,
        # multi-touch sibling of asof_last_click: ALL clicks in each
        # purchase's trailing 1h window, via the bucketed interval join
        "attribution_window": _attribution_window,
        "streaming_attribution": _streaming_attribution,
        "kmv_distinct_users": _kmv_distinct_users,
        # HyperLogLog twin: register-exact, no distinct pass
        "hll_distinct_users": _hll_distinct_users,
        # seventh streaming ≡ batch row: monotone register maintenance
        "streaming_hll_distinct": _streaming_hll_distinct,
        "streaming_countmin": _streaming_countmin,
        "streaming_compact": _streaming_compact,
        # ingest-quality gate: per-rule violation counts in one scan
        "validate_events": lambda s, d: validate.validate_events(
            s.read.parquet(f"{d}/events.parquet")
        ),
        "conversation_sessions": lambda s, d: sessions.conversation_sessions(
            transcripts_from_events(s, d)
        ),
        # temporal holdout at SESSION granularity (every whole conv of a
        # long-running agent straddles any cutoff — the session is the
        # time-local unit; straddle rows are the explicit leak audit)
        "temporal_split": lambda s, d: conversations.temporal_split(
            sessions.numbered_sessions(transcripts_from_events(s, d)),
            cutoff=TEMPORAL_CUTOFF,
            unit_cols=("conv_id", "sess_id"),
        ),
        "conversation_assembly": lambda s, d: assemble_conversations(
            transcripts_from_events(s, d)
        ),
        # SFT example mining: (context window, assistant response) pairs
        "sft_pairs": lambda s, d: sft_pairs(transcripts_from_events(s, d)),
        "preference_pairs": lambda s, d: preference_pairs(
            transcripts_from_events(s, d)
        ),
        # last-writer-wins compaction of a multi-version ingest log
        # (regenerations / retries / CDC upserts -> one row per turn)
        "compact_regenerations": lambda s, d: compact_regenerations(
            _regen_turns(s, d)
        ),
        # first-order tool-handoff Markov chain (agent-ops dashboard)
        "tool_transitions": lambda s, d: tool_transitions(
            transcripts_from_events(s, d)
        ),
        # shared-prefix depth per conversation (prefix-cache planning,
        # template detection, fork-point mining)
        "prefix_share": lambda s, d: prefix_share(_prefix_turns(s, d)),
        # stateful streaming pairs ≡ batch transitions (6th equivalence)
        "streaming_tool_transitions": _streaming_tool_transitions,
        # PageRank over the tool-handoff graph (exact fixed-point)
        "tool_pagerank": lambda s, d: tool_pagerank(
            transcripts_from_events(s, d)
        ),
        # exact-integer hourly traffic anomaly scoring per tool
        "rate_anomaly": lambda s, d: olap.rate_anomaly(
            transcripts_from_events(s, d)
        ),
        # hot-key diagnosis: top-k keys, exact share, salt recommendation
        "key_skew_report": lambda s, d: key_skew_report(
            transcripts_from_events(s, d)
        ),
        # conversation-level curation: ts-stripped canonical text (a
        # retried conv is identical content at a different wall clock),
        # first-2-turn template-prefix grouping (non-trivial collapse on
        # the driver corpus: 150 convs -> 57 groups at sf0.01)
        "conv_dedup": lambda s, d: conversations.conv_dedup(
            transcripts_from_events(s, d),
            canon=F.expr("substr(text, 21)"),
            prefix_turns=CONV_DEDUP_PREFIX,
        ),
        # FSM protocol conformance with first-violation position
        "conv_protocol": lambda s, d: conversations.conv_protocol(
            transcripts_from_events(s, d)
        ),
        "conv_qa": lambda s, d: conversations.conv_qa(
            transcripts_from_events(s, d), TRANSCRIPT_PATTERN
        ),
        # conversation-LEVEL near-dup: re-logged sessions with small
        # edits that the exact content key treats as distinct
        "conv_neardup": lambda s, d: conversations.conv_neardup(
            _nd_transcripts(s, d), min_est=0.6
        ),
        # the COMPOSED curation pass: exact + near-dup verdicts from ONE
        # conv_id assembly exchange (VERDICT r4 #7; ReusedExchange
        # pinned in tests/test_conv_curation.py)
        "conv_curation": lambda s, d: conversations.conv_curation(
            _nd_transcripts(s, d), min_est=0.6
        ),
        "error_burst": lambda s, d: olap.error_burst(
            transcripts_from_events(s, d), TRANSCRIPT_PATTERN
        ),
        # contiguous error-run mining (gaps-and-islands in turn order)
        "error_streaks": lambda s, d: olap.error_streaks(
            transcripts_from_events(s, d), TRANSCRIPT_PATTERN
        ),
        "distinct_convs_hourly": _distinct_convs_hourly,
        "dataset_split": _dataset_split,
        # text analysis
        "text_stats": lambda s, d: T.text_stats(_docs(s, d)),
        "pii_redact": _pii_redact,
        "token_count": lambda s, d: T.token_count(_docs(s, d)),
        "lang_id": lambda s, d: T.lang_id(_docs(s, d)),
        "lang_id_ngram": lambda s, d: T.lang_id_ngram(_docs(s, d)),
        "doc_fingerprint": lambda s, d: sh.fingerprint(_docs(s, d), n=5),
        "doc_winnow": lambda s, d: sh.winnow(_docs(s, d), n=3, w=4),
        "winnow_pairs": lambda s, d: sh.winnow_pairs(_docs(s, d), n=3, w=4, min_shared=2),
        # exact repeated spans >= 12 tokens (Lee et al. 2022 regime) over
        # the engineered-disclaimer fixture
        "exact_substring_spans": lambda s, d: sh.exact_spans(
            _span_docs(s, d), min_tokens=12, seed=8
        ),
        # the actionable form: per-doc duplicated-token mass (interval-
        # merged span coverage / token count — the Lee et al. drop metric)
        "span_dup_fraction": lambda s, d: sh.span_dup_stats(
            _span_docs(s, d), min_tokens=12, seed=8
        ),
        "repetition_score": lambda s, d: sh.repetition_score(_docs(s, d), n=3),
        # training-mixture assembly (integer per-source epochs)
        "mixture_epochs": lambda s, d: corpus.mixture_epochs(_docs(s, d)),
        # temperature-weighted mixture (quota ∝ n^0.5, Hamilton-apportioned)
        "mixture_temperature": lambda s, d: corpus.mixture_temperature(
            _docs(s, d)
        ),
        # PPS Poisson sample: inclusion probability ∝ capped token mass
        "weighted_sample": lambda s, d: corpus.weighted_sample(_docs(s, d)),
        # snapshot-over-snapshot delta (added/removed/changed) on the
        # deterministic two-version fixture
        "dataset_diff": lambda s, d: corpus.dataset_diff(
            *corpus.diff_fixture(_docs(s, d))
        ),
        # occurrence-weighted n-gram novelty of the probe slice vs the
        # reference corpus (memorization / re-crawl screen)
        "ngram_novelty": lambda s, d: corpus.ngram_novelty(
            *reversed(corpus.novelty_fixture(_docs(s, d)))
        ),
        # crawl-fragment stitching: tail_k(a) == head_k(b) pairs on the
        # deterministic split-fragment fixture, boilerplate-guarded
        "stitch_fragments": lambda s, d: corpus.stitch_candidates(
            corpus.fragment_fixture(_docs(s, d))
        ),
        "streaming_novelty": _streaming_novelty,
        # novelty probe through the persisted gram index (round-trip)
        "novelty_indexed": _novelty_indexed,
        # dedup
        "dedup_exact": lambda s, d: dedup.exact_dedup(_docs(s, d)),
        # new-batch-vs-corpus dedup on the engineered-duplicate fixture
        "incremental_dedup": _incremental_dedup,
        "bloom_membership": _bloom_membership,
        "streaming_bloom": _streaming_bloom,
        # frequency member of the sketch family (KMV/Bloom/Count-Min)
        "countmin_hitters": lambda s, d: sketch.countmin_heavy_hitters(
            _docs(s, d)
        ),
        "streaming_incremental_dedup": _streaming_incremental_dedup,
        "dedup_minhash_signatures": lambda s, d: dedup.minhash_signatures(
            _docs(s, d), n=3
        ),
        "dedup_minhash": lambda s, d: dedup.minhash_pairs(_docs(s, d), n=3),
        # cross-source containment audit over the banded MinHash pairs
        "source_overlap": lambda s, d: corpus.source_overlap(_docs(s, d)),
        # per-source unigram total-variation drift (exact-integer form)
        "source_drift": lambda s, d: corpus.source_drift(_docs(s, d)),
        # pairs → connected components → survivors (iterative label
        # propagation; oracle = DuckDB recursive CTE, a different algorithm)
        "dedup_clusters": lambda s, d: dedup.cluster_pairs(
            _docs(s, d), dedup.minhash_pairs(_docs(s, d), n=3, min_est=0.5)
        ),
        # composite corpus cleaning (quality + dedup + lang + token bounds)
        "corpus_filter": lambda s, d: corpus.corpus_filter(_docs(s, d)),
        "split_contamination": lambda s, d: corpus.split_contamination(
            _docs(s, d),
            dedup.minhash_pairs(_docs(s, d), n=3, min_est=0.5),
            _dataset_split(s, d),
        ),
        # leakage-SAFE split: assignment at dup-cluster granularity (the
        # fix split_contamination audits the need for)
        "cluster_split": lambda s, d: corpus.cluster_split(
            _docs(s, d), dedup.minhash_pairs(_docs(s, d), n=3, min_est=0.5)
        ),
        # CCNet cross-corpus line dedup: first occurrence of every exact
        # line survives, later copies stripped; the deterministic
        # line_fixture injects the per-source header / corpus footer
        # boilerplate the rule exists to remove
        "line_dedup": lambda s, d: corpus.line_dedup(
            corpus.line_fixture(_docs(s, d))
        ),
        # named Gopher rule flags (exact integer decisions) over the
        # line fixture so the line rules see multi-line docs
        "gopher_rules": lambda s, d: corpus.gopher_rules(
            corpus.line_fixture(_docs(s, d))
        ),
        "source_profile": lambda s, d: corpus.source_profile(_docs(s, d)),
        # corpus sampling (mixing-weights curation)
        "source_quota_sample": lambda s, d: corpus.source_quota_sample(_docs(s, d)),
        # mixture-planning dashboard: token mass per quality decile
        "quality_deciles": lambda s, d: corpus.quality_deciles(_docs(s, d)),
        "hash_sample": lambda s, d: corpus.hash_sample(_docs(s, d)),
        "decontaminate": lambda s, d: corpus.decontaminate(
            _docs(s, d), eval_pred=F.col("doc_id") % DECONTAM_EVAL_MOD == 0
        ),
        "boilerplate_frac": lambda s, d: corpus.boilerplate_fraction(_docs(s, d)),
        # label QA: Cohen's kappa between the shipping quality rule and an
        # independent crude labeler, per source
        "rater_agreement": lambda s, d: corpus.rater_agreement(_docs(s, d)),
        # water-filling token allocation under a per-source repeat cap
        "token_budget_fill": lambda s, d: corpus.token_budget_fill(_docs(s, d)),
        # per-source percentile calibration of the quality score
        "quality_calibration": lambda s, d: corpus.quality_calibration(_docs(s, d)),
        # the actionable rewrite form: corpus-common spans REMOVED
        "strip_boilerplate": lambda s, d: corpus.strip_boilerplate(_docs(s, d)),
        # the intra-doc twin: later copies of repeated spans removed
        "strip_repetition": lambda s, d: corpus.strip_repetition(_docs(s, d)),
        # stage-by-stage retention report over cumulative curation stages
        "curation_funnel": lambda s, d: corpus.curation_funnel(_docs(s, d)),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "transcripts_view": TRANSCRIPTS_SQL,
        "pipeline_counts": _PIPELINE_COUNTS_SQL,
        "sink_agg_merge": _PIPELINE_COUNTS_SQL,
        "pipeline_counts_jvm": _PIPELINE_COUNTS_SQL,
        # streaming final aggregates must hash-match the BATCH oracle —
        # that equality is the exactly-once claim
        "streaming_pipeline_counts": _PIPELINE_COUNTS_SQL,
        "streaming_conv_keys": TRANSCRIPT_CTES
        + conversations.conv_session_keys_sql(
            "transcripts", canon_sql="substr(text, 21)"
        ),
        "parse_extract": TRANSCRIPT_CTES
        + "SELECT conv_id, turn_idx, parse_ok, ts_str, level, tool_tag, body FROM parsed",
        "parse_grok": _PARSE_GROK_SQL,
        "parse_labels": TRANSCRIPT_CTES
        + f"""SELECT conv_id, turn_idx, body,
           CASE WHEN body IS NOT NULL AND regexp_matches(body, 'hello (\\w+)')
                THEN regexp_extract(body, 'hello (\\w+)', 1) END AS second_word
       FROM parsed""",
        "enrich_join": TRANSCRIPT_CTES
        + "SELECT conv_id, turn_idx, role, tool, role_class, priority, tool_kind,"
        " is_sideeffect FROM enriched",
        "route_split": TRANSCRIPT_CTES
        + "SELECT route, count(*) AS n FROM routed GROUP BY route",
        "window_ordering": TRANSCRIPT_CTES
        + "SELECT conv_id, turn_idx, CAST(row_number() OVER (PARTITION BY conv_id"
        " ORDER BY turn_idx) AS INTEGER) AS turn_order FROM transcripts",
        "turn_latency": TRANSCRIPT_CTES + _TURN_LATENCY_SQL,
        "skew_salted_agg": TRANSCRIPT_CTES
        + "SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id",
        "filter_project": TRANSCRIPT_CTES
        + "SELECT conv_id, turn_idx, role FROM transcripts",
        "filter_exclude": TRANSCRIPT_CTES
        + "SELECT conv_id, turn_idx, role, tool FROM transcripts",
        "parse_error_tolerant": TRANSCRIPT_CTES
        + "SELECT conv_id, turn_idx, TRUE AS parse_ok, level FROM parsed",
        "labels_stamp": TRANSCRIPT_CTES
        + "SELECT 'prod' AS env, 'lfs' AS pipeline_name, count(*) AS n FROM transcripts",
        "sink_template_route": TRANSCRIPT_CTES
        + "SELECT 'logs-' || coalesce(level, '') || '-' || coalesce(role, '') AS route,"
        " count(*) AS n FROM parsed GROUP BY 1",
        "events_hourly": _EVENTS_HOURLY_SQL,
        "events_props_json": _EVENTS_PROPS_JSON_SQL,
        "busiest_convs": _BUSIEST_CONVS_SQL,
        "kafka_decode_json": TRANSCRIPT_CTES
        + kafka_fixture.kafka_decode_json_sql(corrupt_every=KAFKA_CORRUPT_EVERY),
        "kafka_decode_raw": TRANSCRIPT_CTES + kafka_fixture.kafka_decode_raw_sql(),
        "kafka_pipeline_routed": TRANSCRIPT_CTES
        + kafka_fixture.kafka_pipeline_routed_sql(
            TRANSCRIPT_PATTERN, corrupt_every=KAFKA_CORRUPT_EVERY
        ),
        "conversation_sessions": TRANSCRIPT_CTES
        + sessions.conversation_sessions_sql("transcripts"),
        "temporal_split": TRANSCRIPT_CTES
        + conversations.temporal_split_sql(
            TEMPORAL_CUTOFF,
            turns_cte=f"({sessions.numbered_sessions_sql('transcripts')}) _n",
            unit_cols=("conv_id", "sess_id"),
        ),
        "distinct_convs_hourly": TRANSCRIPT_CTES
        + "SELECT date_trunc('hour', ts) AS hour, count(DISTINCT conv_id) AS n_convs,"
        " count(*) AS n_turns FROM transcripts GROUP BY date_trunc('hour', ts)",
        "dataset_split": _DATASET_SPLIT_SQL,
        "asof_last_click": _ASOF_LAST_CLICK_SQL,
        "attribution_window": _attribution_window_sql(),
        "streaming_attribution": _attribution_window_sql(),
        "kmv_distinct_users": sketch.kmv_distinct_sql(k=64),
        "hll_distinct_users": sketch.hll_distinct_sql(p=5),
        # the streaming twin hashes against the SAME batch oracle — that
        # equality is the correctness content
        "streaming_hll_distinct": sketch.hll_distinct_sql(p=5),
        "validate_events": validate.validate_events_sql(),
        "text_stats": T.text_stats_sql(),
        "pii_redact": redact_text_sql(src=f"({_PII_INJECT_SQL})"),
        "token_count": T.token_count_sql(),
        "lang_id": T.lang_id_sql(),
        "lang_id_ngram": T.lang_id_ngram_sql(),
        "doc_fingerprint": sh.fingerprint_sql(n=5),
        "doc_winnow": sh.winnow_sql(n=3, w=4),
        "winnow_pairs": sh.winnow_pairs_sql(n=3, w=4, min_shared=2),
        "exact_substring_spans": sh.exact_spans_sql(
            src="span_docs", min_tokens=12, seed=8,
            extra_ctes=f"span_docs AS ({_SPAN_DOCS_SQL}),",
        ),
        "span_dup_fraction": sh.span_dup_stats_sql(
            src="span_docs", min_tokens=12, seed=8,
            extra_ctes=f"span_docs AS ({_SPAN_DOCS_SQL}),",
        ),
        "repetition_score": sh.repetition_score_sql(n=3),
        "conversation_assembly": TRANSCRIPT_CTES + ASSEMBLE_CONVERSATIONS_SQL,
        "sft_pairs": TRANSCRIPT_CTES + sft_pairs_sql(),
        "preference_pairs": TRANSCRIPT_CTES + preference_pairs_sql(),
        "compact_regenerations": TRANSCRIPT_CTES
        + _REGEN_CTE
        + compact_regenerations_sql("regen"),
        # the streaming twin maintains the identical compacted table
        # (max-struct and count are commutative monoids), so the batch
        # oracle is its oracle verbatim
        "streaming_compact": TRANSCRIPT_CTES
        + _REGEN_CTE
        + compact_regenerations_sql("regen"),
        "tool_transitions": TRANSCRIPT_CTES + tool_transitions_sql(),
        "prefix_share": TRANSCRIPT_CTES
        + _PREFIX_CTE
        + ",\n"
        + prefix_share_sql("pfx_turns"),
        # the streaming pair stream aggregates to the SAME report —
        # one oracle serves both (the streaming ≡ batch contract)
        "streaming_tool_transitions": TRANSCRIPT_CTES + tool_transitions_sql(),
        "rate_anomaly": TRANSCRIPT_CTES + olap.rate_anomaly_sql(),
        "tool_pagerank": TRANSCRIPT_CTES + ",\n" + tool_pagerank_sql(),
        "key_skew_report": TRANSCRIPT_CTES + key_skew_report_sql("transcripts"),
        "error_streaks": TRANSCRIPT_CTES + olap.error_streaks_sql(),
        "conv_dedup": TRANSCRIPT_CTES
        + conversations.conv_dedup_sql(
            "transcripts", canon_sql="substr(text, 21)", prefix_turns=CONV_DEDUP_PREFIX
        ),
        "conv_qa": TRANSCRIPT_CTES + conversations.conv_qa_sql(TRANSCRIPT_PATTERN),
        "conv_protocol": TRANSCRIPT_CTES + conversations.conv_protocol_sql(),
        "conv_neardup": TRANSCRIPT_CTES
        + conversations.conv_neardup_sql(_CONV_ND_FIXTURE_SQL, min_est=0.6),
        "conv_curation": TRANSCRIPT_CTES
        + conversations.conv_curation_sql(_CONV_ND_FIXTURE_SQL, min_est=0.6),
        "error_burst": TRANSCRIPT_CTES + olap.error_burst_sql(TRANSCRIPT_PATTERN),
        "mixture_epochs": corpus.mixture_epochs_sql(),
        "mixture_temperature": corpus.mixture_temperature_sql(),
        "weighted_sample": corpus.weighted_sample_sql(),
        "dataset_diff": corpus.dataset_diff_sql(),
        "ngram_novelty": corpus.ngram_novelty_sql(),
        "stitch_fragments": corpus.stitch_candidates_sql(),
        # the streaming twin runs the batch definition verbatim (only
        # stateful node = the final per-doc count aggregate), so the
        # batch oracle is its oracle verbatim
        "streaming_novelty": corpus.ngram_novelty_sql(),
        # the indexed probe returns the recompute form's rows exactly,
        # so the batch oracle is its oracle verbatim
        "novelty_indexed": corpus.ngram_novelty_sql(),
        "dedup_exact": dedup.exact_dedup_sql(),
        "bloom_membership": _bloom_membership_sql(),
        # the streaming twin is stateless, so the BATCH oracle is its
        # oracle verbatim (same per-(id,key) rows at any slicing)
        "streaming_bloom": _bloom_membership_sql(),
        "countmin_hitters": sketch.countmin_heavy_hitters_sql(),
        # the streaming twin maintains the identical counter table
        # (counter maintenance is a streaming SUM), so the batch oracle
        # is its oracle verbatim
        "streaming_countmin": sketch.countmin_heavy_hitters_sql(),
        "incremental_dedup": dedup.incremental_dedup_sql(
            batch_cte=f"SELECT * FROM ({_INC_DOCS_SQL}) WHERE doc_id % 5 = 0",
            corpus_cte=f"SELECT * FROM ({_INC_DOCS_SQL}) WHERE doc_id % 5 <> 0",
        ),
        "streaming_incremental_dedup": _STREAMING_INC_DEDUP_SQL,
        "dedup_minhash_signatures": dedup.minhash_signatures_sql(n=3),
        "dedup_minhash": dedup.minhash_pairs_sql(n=3),
        "dedup_clusters": dedup.cluster_pairs_sql(
            dedup.minhash_pairs_sql(n=3, min_est=0.5)
        ),
        "source_overlap": corpus.source_overlap_sql(),
        "source_drift": corpus.source_drift_sql(),
        "corpus_filter": corpus.corpus_filter_sql(),
        "split_contamination": corpus.split_contamination_sql(
            dedup.minhash_pairs_sql(n=3, min_est=0.5), _DATASET_SPLIT_SQL
        ),
        "cluster_split": corpus.cluster_split_sql(
            dedup.minhash_pairs_sql(n=3, min_est=0.5)
        ),
        "line_dedup": corpus.line_dedup_sql(
            src=f"({corpus.line_fixture_sql('documents')}) _lfx"
        ),
        "gopher_rules": corpus.gopher_rules_sql(
            src=f"({corpus.line_fixture_sql('documents')}) _gfx"
        ),
        "source_profile": corpus.source_profile_sql(),
        "source_quota_sample": corpus.source_quota_sample_sql(),
        "quality_deciles": corpus.quality_deciles_sql(),
        "hash_sample": corpus.hash_sample_sql(),
        "decontaminate": corpus.decontaminate_sql(
            f"doc_id % {DECONTAM_EVAL_MOD} = 0"
        ),
        "boilerplate_frac": corpus.boilerplate_fraction_sql(),
        "rater_agreement": corpus.rater_agreement_sql(),
        "token_budget_fill": corpus.token_budget_fill_sql(),
        "quality_calibration": corpus.quality_calibration_sql(),
        "strip_boilerplate": corpus.strip_boilerplate_sql(),
        "strip_repetition": corpus.strip_repetition_sql(),
        "curation_funnel": corpus.curation_funnel_sql(),
    }
