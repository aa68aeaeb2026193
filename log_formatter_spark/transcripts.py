"""Transcript input table (the north-rule input shape).

Schema mandated by BASELINE.json input_hint:
    (conv_id:string, turn_idx:int32, role:string, text:string,
     tool:string, ts:timestamp)

Two deterministic constructions, both pure functions of their input (no
rand(), no wall clock — FIXTURES.md §1 invariant so routed-row equality
holds across reruns and parallelism levels):

1. ``transcripts_from_events`` — derives transcripts from the driver's
   ``events`` parquet using only expressions that exist verbatim in both
   Spark SQL and DuckDB, so every downstream pipeline query can be
   oracle-checked by the driver (``__spark_entry__.oracle_sql``).
   ``TRANSCRIPTS_SQL`` is the DuckDB-side rendering of the same view.

2. ``synthetic_transcripts`` — a ``spark.range``-based generator that
   scales to 10^7+ rows for the bench/scaling runs without touching disk.
   Zipf-ish conversation skew (~1% of convs own ~30% of turns) exercises
   the salted-key mitigation, per FIXTURES.md §1.

The ``text`` payload mirrors the reference's E2E fixture
(test/input-test.txt: ``YYYY-MM-DD HH:MM:SS hello world``, generated by
dev/tools/create-test-file.sh:3) extended with a level and tool token so
parse and route are non-trivial. ~2% of rows are deliberately malformed
(missing level token) to exercise discard-on-error
(reference agent/pipeline/pipeline.go:158-167).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Grok pattern for the transcript text payload (FIXTURES.md §1).
# RE2- and Python-`re`-compatible subset; `turn_` ends in `_` so the
# reference's discard rule applies (agent/pipeline/parser/parser.go:99-104).
TRANSCRIPT_PATTERN = (
    r"(?P<ts_str>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) "
    r"(?P<level>[A-Z]+) \[(?P<tool_tag>\w*)\] (?P<body>.*) turn=(?P<turn_>\d+)"
)

_ROLE_CASE = (
    "CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'assistant' "
    "WHEN 'error' THEN 'system' WHEN 'purchase' THEN 'tool' "
    "ELSE 'assistant' END"
)
_LEVEL_CASE = (
    "CASE event_type WHEN 'error' THEN 'ERROR' WHEN 'purchase' THEN 'WARN' "
    "WHEN 'view' THEN 'DEBUG' ELSE 'INFO' END"
)
_TOOL_CASE = (
    "CASE WHEN event_type = 'purchase' THEN "
    "(CASE event_id % 5 WHEN 0 THEN 'bash' WHEN 1 THEN 'read' "
    "WHEN 2 THEN 'write' WHEN 3 THEN 'grep' ELSE 'browser' END) "
    "ELSE '' END"
)


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript view over the driver's events table.

    conv_id  <- user_id (zero-padded), turn_idx <- dense rank of event_id
    within the conversation, role/level/tool <- event_type, text <- a
    log-line payload; event_id % 50 == 0 rows are malformed (no level).
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("event_id")
    base = ev.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        F.expr(_ROLE_CASE).alias("role"),
        F.expr(_LEVEL_CASE).alias("level_gen"),
        F.expr(_TOOL_CASE).alias("tool"),
        F.col("ts"),
        F.col("event_type"),
        (F.col("event_id") % 50 == 0).alias("malformed"),
    )
    ts_str = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    body = F.concat(F.lit("hello world "), F.col("event_type"))
    ok_text = F.concat(
        ts_str, F.lit(" "), F.col("level_gen"), F.lit(" ["), F.col("tool"),
        F.lit("] "), body, F.lit(" turn="), F.col("turn_idx").cast("string"),
    )
    bad_text = F.concat(
        ts_str, F.lit(" ["), F.col("tool"), F.lit("] "), body,
        F.lit(" turn="), F.col("turn_idx").cast("string"),
    )
    return base.select(
        "conv_id",
        "turn_idx",
        "role",
        F.when(F.col("malformed"), bad_text).otherwise(ok_text).alias("text"),
        "tool",
        "ts",
    )


# DuckDB rendering of the same view (events is a pre-registered view in the
# driver's oracle harness). Must stay semantically identical to the Spark
# construction above — tests/test_transcripts.py asserts equality.
TRANSCRIPTS_SQL = f"""
SELECT
  conv_id, turn_idx, role,
  CASE WHEN malformed
       THEN ts_str || ' [' || tool || '] ' || body || ' turn=' || CAST(turn_idx AS VARCHAR)
       ELSE ts_str || ' ' || level_gen || ' [' || tool || '] ' || body || ' turn=' || CAST(turn_idx AS VARCHAR)
  END AS text,
  tool, ts
FROM (
  SELECT
    'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INTEGER) AS turn_idx,
    {_ROLE_CASE} AS role,
    {_LEVEL_CASE} AS level_gen,
    {_TOOL_CASE} AS tool,
    ts,
    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
    'hello world ' || event_type AS body,
    (event_id % 50 = 0) AS malformed
  FROM events
)
"""


def joined_turns(canon: Column | None = None) -> Column:
    """THE canonical conversation-assembly aggregate, shared by every
    consumer (``assemble_conversations``, ``conversations._content_key``,
    ``conversations.conv_text``): collect ``(turn_idx, text)`` structs,
    ``array_sort`` (collect_list order is shuffle-dependent; the struct
    sort is bit-identical at any parallelism, with the text riding the
    sort key so duplicate turn_idx values still order deterministically),
    join with newlines. One definition so the determinism-critical
    tie-break can never drift between the exact content key and the
    near-dup text it must agree with."""
    canon = F.col("text") if canon is None else canon
    turns = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), canon.alias("c")))
    )
    return F.array_join(F.transform(turns, lambda s: s.getField("c")), "\n")


def joined_turns_sql(canon_sql: str = "text") -> str:
    """DuckDB rendering of :func:`joined_turns` — same (turn_idx, text)
    tie-break."""
    return f"string_agg({canon_sql}, chr(10) ORDER BY turn_idx, {canon_sql})"


def assemble_conversations(t: DataFrame) -> DataFrame:
    """Conversation assembly: turns → one training document per
    conversation, turn texts joined in stable ``turn_idx`` order — the
    step that feeds a transcript table into document-level pipelines
    (dedup, quality scoring, tokenization all operate per conversation,
    not per turn).

    Determinism at any parallelism: the :func:`joined_turns` canonical
    aggregate (shared with the conversation content key and near-dup
    text — one definition of the tie-break). The result row carries the
    md5 + length of the assembled text rather than the text itself, so
    downstream exchanges stay narrow; callers needing the full text drop
    the final select.

    One exchange on conv_id; collect_list partials combine map-side.
    """
    joined = joined_turns()
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.length(joined).alias("n_chars"),
        F.md5(joined).alias("text_md5"),
    )


ASSEMBLE_CONVERSATIONS_SQL = f"""
SELECT conv_id, count(*) AS n_turns,
       length({joined_turns_sql()}) AS n_chars,
       md5({joined_turns_sql()}) AS text_md5
FROM transcripts GROUP BY conv_id
"""


SFT_CONTEXT_TURNS = 4


def sft_pairs(t: DataFrame, context_turns: int = SFT_CONTEXT_TURNS) -> DataFrame:
    """SFT example mining: every assistant turn becomes a training pair
    (context = the ``context_turns`` preceding turns rendered as
    ``role: text`` lines, response = the turn's text) — the extraction
    step that turns a transcript corpus into instruction-tuning data.

    Plan: ONE window over (conv_id ORDER BY turn_idx) with a bounded
    ROWS frame — the frame is what keeps this linear (an unbounded
    collect would quadratically re-materialize growing prefixes); the
    conv_id exchange is shared with every other per-conversation
    operator. Frame order is the window order, so the rendered context
    is deterministic at any parallelism. Output carries md5 + length of
    the context and the response md5 (narrow exchanges, same discipline
    as assemble_conversations); training writers that need full text
    keep the rendered column instead. Turns with EMPTY context (the
    conversation opener) are excluded — a pair with no prompt teaches
    nothing.
    """
    # NULL role/text render divergently (Spark concat_ws DROPS nulls,
    # DuckDB || nullifies the line and array_to_string skips it) —
    # exclude such turns BEFORE the window in both renderings so frame
    # row-counting agrees too
    t = t.where(F.col("role").isNotNull() & F.col("text").isNotNull())
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-context_turns, -1)
    )
    line = F.concat_ws(": ", F.col("role"), F.col("text"))
    ctx = F.array_join(F.collect_list(line).over(w), "\n")
    base = t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("text").alias("_resp"),
        ctx.alias("_ctx"),
    )
    return base.where(
        (F.col("role") == "assistant") & (F.length("_ctx") > 0)
    ).select(
        "conv_id",
        "turn_idx",
        F.length("_ctx").alias("context_chars"),
        F.md5(F.col("_ctx")).alias("context_md5"),
        F.md5(F.col("_resp")).alias("response_md5"),
    )


def sft_pairs_sql(
    transcripts_cte: str = "transcripts", context_turns: int = SFT_CONTEXT_TURNS
) -> str:
    return f"""
SELECT conv_id, turn_idx,
       CAST(length(ctx) AS INTEGER) AS context_chars,
       md5(ctx) AS context_md5,
       md5(resp) AS response_md5
FROM (
  SELECT conv_id, turn_idx, role, text AS resp,
         array_to_string(list(role || ': ' || text) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN {context_turns} PRECEDING AND 1 PRECEDING
         ), chr(10)) AS ctx
  FROM {transcripts_cte}
  WHERE role IS NOT NULL AND text IS NOT NULL
)
WHERE role = 'assistant' AND length(ctx) > 0
"""


PREF_CONTEXT_TURNS = 2


def preference_pairs(
    t: DataFrame, context_turns: int = PREF_CONTEXT_TURNS
) -> DataFrame:
    """Preference-pair mining (DPO/RLHF data construction): group
    assistant turns by a CANONICAL prompt (the ``context_turns``
    preceding turns with the volatile timestamp prefix stripped, so the
    same dialogue state recurring across conversations lands in one
    group), score each candidate response with a deterministic reward,
    and emit one (chosen, rejected) pair per prompt group that shows a
    strict preference. The reward here is response latency (lower is
    better) — the operational signal a transcript corpus always carries;
    swapping in a model-based reward column changes nothing structural.

    Plan shape — built for the skewed reality of prompt groups: a
    boilerplate prompt (greeting, canned system turn) can own millions
    of candidates at corpus scale, so chosen/rejected are NOT window
    ranks over the prompt key (one straggler partition per hot prompt).
    Instead each group aggregates ``min(struct)`` / ``max(struct)`` over
    the lexicographic key (latency_us, conv_id, turn_idx) — order-free,
    combines map-side, so a hot prompt costs one partial row per map
    task. The only windows are per-conversation with bounded frames
    (the sft_pairs discipline). Two exchanges total: conv_id, then
    prompt_md5.

    Determinism: the struct key is a strict total order (conv_id,
    turn_idx unique), so ties in latency break identically at any
    parallelism and in the DuckDB oracle (struct comparison is
    lexicographic by field order in both engines).
    """
    t = t.where(
        F.col("role").isNotNull()
        & F.col("text").isNotNull()
        & F.col("ts").isNotNull()
    )
    wc = Window.partitionBy("conv_id").orderBy("turn_idx")
    # canonical turn rendering: drop the 'YYYY-MM-DD HH:MM:SS ' prefix
    # (20 chars) so re-occurrences of the same dialogue state hash equal
    canon = F.concat_ws(": ", F.col("role"), F.expr("substring(text, 21)"))
    ctx = F.array_join(
        F.collect_list(canon).over(wc.rowsBetween(-context_turns, -1)), "\n"
    )
    # unix_micros over an LTZ cast (UTC session = identity) — the
    # TIMESTAMP_NTZ parity rule; integer micros are exact in both engines
    lat = F.unix_micros(F.col("ts").cast("timestamp_ltz")) - F.unix_micros(
        F.lag("ts").over(wc).cast("timestamp_ltz")
    )
    cand = t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.md5(ctx).alias("prompt_md5"),
        lat.alias("latency_us"),
    ).where(
        (F.col("role") == "assistant")
        & (F.col("turn_idx") >= context_turns)
        & F.col("latency_us").isNotNull()
    )
    key = F.struct(F.col("latency_us"), F.col("conv_id"), F.col("turn_idx"))
    g = cand.groupBy("prompt_md5").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.min(key).alias("_ch"),
        F.max(key).alias("_rj"),
    )
    return g.where(F.col("_ch.latency_us") < F.col("_rj.latency_us")).select(
        "prompt_md5",
        "n_candidates",
        F.col("_ch.conv_id").alias("chosen_conv"),
        F.col("_ch.turn_idx").alias("chosen_turn"),
        F.col("_ch.latency_us").alias("chosen_latency_us"),
        F.col("_rj.conv_id").alias("rejected_conv"),
        F.col("_rj.turn_idx").alias("rejected_turn"),
        F.col("_rj.latency_us").alias("rejected_latency_us"),
    )


def preference_pairs_sql(
    transcripts_cte: str = "transcripts", context_turns: int = PREF_CONTEXT_TURNS
) -> str:
    """DuckDB rendering of :func:`preference_pairs` (same canonical
    prompt, same struct-lexicographic selection)."""
    mn = (
        "min(struct_pack(latency_us := latency_us, conv_id := conv_id, "
        "turn_idx := turn_idx))"
    )
    mx = (
        "max(struct_pack(latency_us := latency_us, conv_id := conv_id, "
        "turn_idx := turn_idx))"
    )
    return f"""
SELECT prompt_md5, count(*) AS n_candidates,
       ({mn}).conv_id AS chosen_conv,
       ({mn}).turn_idx AS chosen_turn,
       ({mn}).latency_us AS chosen_latency_us,
       ({mx}).conv_id AS rejected_conv,
       ({mx}).turn_idx AS rejected_turn,
       ({mx}).latency_us AS rejected_latency_us
FROM (
  SELECT conv_id, turn_idx, role,
         md5(array_to_string(list(role || ': ' || substring(text, 21)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN {context_turns} PRECEDING AND 1 PRECEDING
         ), chr(10))) AS prompt_md5,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY conv_id ORDER BY turn_idx)) AS latency_us
  FROM {transcripts_cte}
  WHERE role IS NOT NULL AND text IS NOT NULL AND ts IS NOT NULL
)
WHERE role = 'assistant' AND turn_idx >= {context_turns}
      AND latency_us IS NOT NULL
GROUP BY prompt_md5
HAVING ({mn}).latency_us < ({mx}).latency_us
"""


def tool_pairs(t: DataFrame) -> DataFrame:
    """THE tool-handoff pair extraction, shared by
    :func:`tool_transitions` and :func:`tool_pagerank` (one definition
    of the chain rule so the Markov-chain and PageRank views of the
    graph can never de-sync): consecutive tool-bearing turns per
    conversation via a lag over (conv_id, turn_idx). NULL-tool turns
    neither emit nor break a transition — transitions are over the
    tool-bearing subsequence (documented choice; the driver view's
    tool is never NULL).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        t.where(F.col("tool").isNotNull())
        .select(
            "conv_id",
            F.lag("tool").over(w).alias("prev_tool"),
            F.col("tool"),
        )
        .where(F.col("prev_tool").isNotNull())
    )


def tool_pairs_sql(transcripts_cte: str = "transcripts") -> str:
    """DuckDB rendering of :func:`tool_pairs` (same lag, same NULL
    subsequence rule) — the shared fragment both SQL twins embed."""
    return f"""
SELECT conv_id, prev_tool, tool FROM (
  SELECT conv_id, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_tool
  FROM {transcripts_cte} WHERE tool IS NOT NULL
)
WHERE prev_tool IS NOT NULL
"""


def tool_transitions(t: DataFrame) -> DataFrame:
    """Tool-call transition mining over agent transcripts: for every
    ordered pair of consecutive tool-bearing turns in a conversation,
    how often does ``prev_tool`` hand off to ``tool``, across how many
    distinct conversations, and what share of ``prev_tool``'s outgoing
    edges is it — the first-order Markov chain an agent-ops dashboard
    plots (and the input to next-tool prediction / anomalous-chain
    alerts). Pair extraction is the shared :func:`tool_pairs` (one
    definition of the chain/NULL rule for this operator and
    :func:`tool_pagerank`).

    Plan: the lag rides ONE conv_id exchange (the same partitioning
    every per-conversation operator shares), the pair counts combine
    map-side into a |tools|²-bounded aggregate, and the outgoing-edge
    share attaches via a window over the already-aggregated frame —
    partitioned by prev_tool, NOT unpartitioned, so it cannot
    constant-fold into the banned BroadcastNestedLoopJoin (the
    source_drift lesson). ``share_ppm`` is exact integer arithmetic:
    ``n_pairs * 1_000_000 div n_from`` (int64-safe below ~9·10¹²
    pairs per edge; at 10¹² turns no single edge exceeds the total).

    n_convs uses count(DISTINCT conv_id) — planned as a two-phase
    partial-distinct aggregate on the (prev_tool, tool, conv_id) key,
    linear in turns, no expand blow-up (one distinct column).
    """
    return transition_counts(tool_pairs(t))


def transition_counts(pairs: DataFrame) -> DataFrame:
    """(conv_id, prev_tool, tool) pair rows → the transition report —
    shared by :func:`tool_transitions` and the streaming pair stream
    (``streaming.transitions``), so batch and continuous ingestion
    produce the report through ONE aggregation definition."""
    g = pairs.groupBy("prev_tool", "tool").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )
    return g.select(
        "prev_tool",
        "tool",
        "n_pairs",
        "n_convs",
        F.expr(
            "n_pairs * 1000000 div sum(n_pairs) "
            "OVER (PARTITION BY prev_tool)"
        ).alias("share_ppm"),
    )


def tool_transitions_sql(transcripts_cte: str = "transcripts") -> str:
    """DuckDB rendering of :func:`tool_transitions` — same lag window,
    same floor integer division (`//` on BIGINT matches Spark `div`)."""
    return f"""
SELECT prev_tool, tool, n_pairs, n_convs,
       n_pairs * 1000000 // CAST(sum(n_pairs)
         OVER (PARTITION BY prev_tool) AS BIGINT) AS share_ppm
FROM (
  SELECT prev_tool, tool,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM ({tool_pairs_sql(transcripts_cte)})
  GROUP BY prev_tool, tool
)
"""


# sentinel turn-hash for NULL text: 32 chars, outside md5's hex image,
# so it can never collide with a real turn hash and keeps the 33-chars-
# per-turn slice alignment intact
_NULL_TURN_HASH = "z" * 32


def prefix_share(t: DataFrame) -> DataFrame:
    """Shared-prefix analysis across conversations: for every
    conversation, the deepest leading run of turns that at least one
    OTHER conversation also starts with — ``shared_depth`` — plus its
    ppm share of the conversation's length. This is the transcript-
    native signal behind (a) prefix-cache hit-rate planning for agent
    serving (the shared depth IS the cacheable prefix), (b) template /
    canned-opening detection in training corpora (high shared_ppm at
    depth ≥ 2 flags boilerplate system+greeting scaffolds that inflate
    n-gram counts), and (c) fork-point mining (where regenerated or
    A/B-branched conversations diverge). Full-conversation duplicates
    surface as ``shared_ppm = 1000000`` — consistent with what
    ``conv_dedup`` would drop.

    Cross-engine determinism: each prefix of depth k is keyed by
    ``md5`` of the joined per-turn text hashes — built with THE shared
    :func:`joined_turns` assembly aggregate (canon = the turn hash, so
    duplicate turn_idx values tie-break on the hash identically in both
    engines), then sliced at ``k*33-1`` chars (32 hex + 1 separator per
    turn). No chained fold, no float, no engine-ordered aggregation.
    NULL-text turns hash to a 32-char sentinel OUTSIDE md5's hex image
    (``'z'*32``) — without it, ``array_join``/``string_agg`` silently
    DROP the NULL element, shifting the 33-char slice alignment and
    letting a NULL first turn masquerade as its neighbor's prefix.

    Plan/scale shape: one conv_id exchange builds the hash string
    (state per conv = 33 bytes/turn); prefix keys explode to one row
    per (conv, depth) — O(total turns) rows, each carrying an O(k·33)
    substring, so the blow-up is bounded by 33·(turns-per-conv)² BYTES
    per conversation — fine for transcript-shaped data (tens of turns),
    and the depth-k counting groupBy combines map-side. Two shuffles
    total (conv assembly, prefix-key count), both on high-cardinality
    keys.
    """
    turn_hash = F.coalesce(F.md5(F.col("text")), F.lit(_NULL_TURN_HASH))
    full = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        joined_turns(turn_hash).alias("joined"),
    )
    pfx = full.select(
        "conv_id",
        "n_turns",
        "joined",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_turns"))).alias("k"),
    ).select(
        "conv_id",
        "n_turns",
        "k",
        F.md5(F.expr("substring(joined, 1, cast(k * 33 - 1 as int))")).alias("pk"),
    )
    shared_keys = (
        pfx.groupBy("k", "pk")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .where(F.col("n_convs") >= 2)
        .select("k", "pk")
    )
    depth = (
        pfx.join(shared_keys, on=["k", "pk"])
        .groupBy("conv_id")
        .agg(F.max("k").alias("d"))
    )
    return (
        full.join(depth, on="conv_id", how="left")
        .select(
            "conv_id",
            "n_turns",
            F.coalesce(F.col("d"), F.lit(0).cast("bigint")).alias("shared_depth"),
            F.expr(
                "coalesce(d, 0L) * 1000000 div n_turns"
            ).alias("shared_ppm"),
        )
    )


def prefix_share_sql(transcripts_cte: str = "transcripts") -> str:
    """DuckDB twin of :func:`prefix_share`: the shared
    :func:`joined_turns_sql` aggregate over the same NULL-guarded turn
    hash, ``generate_series`` unnest for depths, the same 33k−1 slice
    rule, and floor integer division for the ppm.

    CTE-continuation form (the ``tool_pagerank_sql`` convention): the
    string starts at a CTE name, so callers splice it as
    ``TRANSCRIPT_CTES + ",\\n" + prefix_share_sql()``."""
    h = f"COALESCE(md5(text), '{_NULL_TURN_HASH}')"
    return f"""
ps_th AS (
  SELECT conv_id, turn_idx, {h} AS h FROM {transcripts_cte}
),
fullc AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         {joined_turns_sql("h")} AS joined
  FROM ps_th GROUP BY conv_id
),
pfx AS (
  SELECT conv_id, n_turns,
         CAST(unnest(generate_series(1, n_turns)) AS BIGINT) AS k,
         joined
  FROM fullc
),
keyed AS (
  SELECT conv_id, n_turns, k,
         md5(substr(joined, 1, CAST(k * 33 - 1 AS INTEGER))) AS pk
  FROM pfx
),
shared_keys AS (
  SELECT k, pk FROM keyed GROUP BY k, pk HAVING count(*) >= 2
),
depth AS (
  SELECT conv_id, max(k) AS d
  FROM keyed JOIN shared_keys USING (k, pk)
  GROUP BY conv_id
)
SELECT f.conv_id, f.n_turns,
       CAST(coalesce(d.d, 0) AS BIGINT) AS shared_depth,
       CAST(coalesce(d.d, 0) * 1000000 // f.n_turns AS BIGINT) AS shared_ppm
FROM fullc f LEFT JOIN depth d ON f.conv_id = d.conv_id
"""


def synthetic_transcripts(
    spark: SparkSession, n_turns: int, n_convs: int | None = None
) -> DataFrame:
    """Scalable deterministic transcript generator (bench / scaling runs).

    Pure function of the row id: every column is arithmetic on
    ``spark.range`` ids, so the same (n_turns, n_convs) yields the same
    table at any parallelism — required for the N-vs-4N scaling protocol
    (BASELINE.md §3) and for routed-row equality across reruns.

    Skew: conv 0 owns ~10% of all turns (hot conversation); remaining
    turns spread uniformly over the other convs. This is the FIXTURES.md
    §1 "hot conversation" shape that the salted repartition must handle.
    """
    if n_convs is None:
        n_convs = max(1, n_turns // 40)
    df = spark.range(0, n_turns, 1)
    # First 10% of ids -> conv 0 (hot); rest -> uniform 1..n_convs-1.
    hot_cut = n_turns // 10
    conv_num = F.when(F.col("id") < hot_cut, F.lit(0)).otherwise(
        (F.col("id") % (n_convs - 1)) + 1 if n_convs > 1 else F.lit(0)
    )
    df = df.withColumn("conv_num", conv_num)
    w = Window.partitionBy("conv_num").orderBy("id")
    role = (
        F.when(F.col("id") % 4 == 0, "user")
        .when(F.col("id") % 4 == 1, "assistant")
        .when(F.col("id") % 4 == 2, "system")
        .otherwise("tool")
    )
    level = (
        F.when(F.col("id") % 11 == 0, "ERROR")
        .when(F.col("id") % 7 == 0, "WARN")
        .when(F.col("id") % 3 == 0, "DEBUG")
        .otherwise("INFO")
    )
    tool = F.when(
        F.col("id") % 4 == 3,
        F.element_at(
            F.array(*[F.lit(t) for t in ["bash", "read", "write", "grep", "browser"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ),
    ).otherwise(F.lit(""))
    ts = F.timestamp_seconds(F.lit(1605266885) + F.col("id"))  # 2020-11-13 11:28:05 UTC
    base = df.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("conv_num").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        level.alias("level_gen"),
        tool.alias("tool"),
        ts.alias("ts"),
        (F.col("id") % 50 == 0).alias("malformed"),
        F.col("id"),
    )
    ts_str = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    body = F.concat(F.lit("hello world step "), (F.col("id") % 1000).cast("string"))
    ok_text = F.concat(
        ts_str, F.lit(" "), F.col("level_gen"), F.lit(" ["), F.col("tool"),
        F.lit("] "), body, F.lit(" turn="), F.col("turn_idx").cast("string"),
    )
    bad_text = F.concat(
        ts_str, F.lit(" ["), F.col("tool"), F.lit("] "), body,
        F.lit(" turn="), F.col("turn_idx").cast("string"),
    )
    return base.select(
        "conv_id",
        "turn_idx",
        "role",
        F.when(F.col("malformed"), bad_text).otherwise(ok_text).alias("text"),
        "tool",
        "ts",
    )


PR_ITERS = 5
PR_SCALE = 1 << 40
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100


def tool_pagerank(t: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """PageRank over the tool-handoff graph — which tools are central
    to agent workflows, counting not just raw calls but being handed
    off to by other central tools (the graph-analytics companion to
    :func:`tool_transitions`).

    Split by size: the ROW-SCALE
    work (10¹² turns → weighted edge list) is one distributed
    lag-window + aggregate; the SOLVE runs on the tools²-bounded edge
    list (a small closed vocabulary, like the role/tool lookup dims)
    as driver-side exact integer fixed-point iterations — Python ints
    are arbitrary-precision, so rank·weight products never overflow
    and every floor division is exact, which the DuckDB oracle mirrors
    in HUGEINT via ``iters`` UNROLLED CTE steps (no recursive-CTE
    aggregate restrictions, bit-identical by construction).

    Fixed-point update (damping d = 85/100, scale 2^40):
      r₀(v)   = SCALE // n
      rₖ(v)   = (SCALE·15) // (100·n)
                + (85 · Σ_u (rₖ₋₁(u)·w(u,v)) // out_w(u)) // 100
    Dangling mass (tools with no outgoing edge) is dropped, the
    standard simplification — ranks then sum to < SCALE, which the
    tests pin. ``rank`` is rank_fp / 2^40 — a power-of-two division,
    exact IEEE in both engines.
    """
    edges = (
        tool_pairs(t)
        .groupBy("prev_tool", "tool")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    )
    out_w: dict[str, int] = {}
    nodes: set[str] = set()
    for e in edges:
        out_w[e["prev_tool"]] = out_w.get(e["prev_tool"], 0) + e["n"]
        nodes.add(e["prev_tool"])
        nodes.add(e["tool"])
    spark = t.sparkSession
    if not nodes:
        return spark.createDataFrame(
            [], "tool string, rank_fp long, rank double"
        )
    n_nodes = len(nodes)
    dnum, dden = PR_DAMP_NUM, PR_DAMP_DEN
    base = (PR_SCALE * (dden - dnum)) // (dden * n_nodes)
    r = {v: PR_SCALE // n_nodes for v in nodes}
    for _ in range(iters):
        contrib: dict[str, int] = {}
        for e in edges:
            c = (r[e["prev_tool"]] * e["n"]) // out_w[e["prev_tool"]]
            contrib[e["tool"]] = contrib.get(e["tool"], 0) + c
        r = {v: base + (dnum * contrib.get(v, 0)) // dden for v in nodes}
    rows = [(v, r[v], r[v] / PR_SCALE) for v in sorted(nodes)]
    return spark.createDataFrame(rows, "tool string, rank_fp long, rank double")


def tool_pagerank_sql(
    transcripts_cte: str = "transcripts", iters: int = PR_ITERS
) -> str:
    """DuckDB rendering of :func:`tool_pagerank` — the same integer
    fixed-point updates, unrolled one CTE per iteration, HUGEINT
    arithmetic throughout."""
    dnum, dden = PR_DAMP_NUM, PR_DAMP_DEN
    parts = [
        f"""
SELECT prev_tool, tool, CAST(count(*) AS BIGINT) AS n
FROM ({tool_pairs_sql(transcripts_cte)})
GROUP BY prev_tool, tool
"""
    ]
    sql = f"""
SELECT t.tool, CAST(r.r AS BIGINT) AS rank_fp,
       CAST(r.r AS DOUBLE) / {PR_SCALE} AS rank
FROM r{iters} r JOIN nodes t ON t.tool = r.tool
"""
    ctes = [f"pr_edges AS ({parts[0]})"]
    ctes.append(
        "nodes AS (SELECT DISTINCT tool FROM ("
        "SELECT prev_tool AS tool FROM pr_edges "
        "UNION SELECT tool FROM pr_edges))"
    )
    ctes.append("nc AS (SELECT count(*) AS n_nodes FROM nodes)")
    ctes.append(
        "ew AS (SELECT prev_tool, tool, CAST(n AS HUGEINT) AS n, "
        "CAST(sum(n) OVER (PARTITION BY prev_tool) AS HUGEINT) AS out_w "
        "FROM pr_edges)"
    )
    ctes.append(
        f"r0 AS (SELECT tool, CAST({PR_SCALE} AS HUGEINT) "
        "// (SELECT n_nodes FROM nc) AS r FROM nodes)"
    )
    for k in range(1, iters + 1):
        ctes.append(
            f"r{k} AS (SELECT nodes.tool, "
            f"CAST({PR_SCALE} AS HUGEINT) * {dden - dnum} "
            f"// ({dden} * (SELECT n_nodes FROM nc)) "
            f"+ ({dnum} * coalesce(c.c, 0)) // {dden} AS r "
            "FROM nodes LEFT JOIN ("
            "SELECT ew.tool, sum((p.r * ew.n) // ew.out_w) AS c "
            f"FROM ew JOIN r{k - 1} p ON p.tool = ew.prev_tool "
            "GROUP BY ew.tool) c ON c.tool = nodes.tool)"
        )
    return ", ".join(ctes) + "\n" + sql


# --- last-writer-wins transcript compaction ---------------------------------


def compact_regenerations(t: DataFrame) -> DataFrame:
    """Last-writer-wins compaction of a transcript ingest log: when the
    same logical turn ``(conv_id, turn_idx)`` was written more than once
    (regenerated responses, retried tool calls, CDC upserts, at-least-
    once delivery), keep the LATEST version and report how many ingested
    rows were compacted into it. This is the table-maintenance pass an
    append-only transcript lake needs before any downstream operator
    that assumes one row per turn — the MERGE/compaction step of an
    Iceberg/Delta upsert log, expressed as a batch operator (the
    reference's file→file path has no replay dedup at all; this is the
    replay-safe strengthening, same spirit as streaming/ledger.py's
    exactly-once ledger).

    Plan shape — built for 10^12-row ingest logs: ONE hash aggregation
    on the logical key using ``max(struct(...))`` (order-free, combines
    map-side — the preference_pairs discipline), so a hot conversation
    costs one partial row per map task and there is no window over a
    skewed key. Single exchange on (conv_id, turn_idx); linear.

    Determinism: versions are ordered by ``(ts, md5_60(text))`` — the
    deterministic 60-bit text hash breaks exact timestamp ties (two
    regenerations landing in the same microsecond) identically in any
    engine and at any parallelism. Rows tying on BOTH are duplicate
    deliveries of one write (payload equality assumed — the standard
    LWW version-identity rule), where either copy is the same answer.
    """
    from log_formatter_spark.functions.hashing import md5_60

    t = t.where(
        F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
        & F.col("ts").isNotNull()
    )
    version = F.struct(
        F.col("ts"),
        md5_60(F.col("text")).alias("_h"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
    )
    return (
        t.groupBy("conv_id", "turn_idx")
        .agg(
            F.max(version).alias("_v"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("_v.role").alias("role"),
            F.col("_v.text").alias("text"),
            F.col("_v.tool").alias("tool"),
            F.col("_v.ts").alias("ts"),
            "n_versions",
        )
    )


def compact_regenerations_sql(transcripts_cte: str = "transcripts") -> str:
    """DuckDB rendering of :func:`compact_regenerations`: row_number
    over the same ``(ts DESC, md5_60(text) DESC)`` version order (a
    window is fine at oracle scale; the Spark side deliberately uses the
    order-free max-struct instead — see the operator docstring)."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    h = MD5_60_SQL.format(x="text")
    return f"""
SELECT conv_id, turn_idx, role, text, tool, ts, n_versions FROM (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts DESC, {h} DESC) AS _rn,
         count(*) OVER (PARTITION BY conv_id, turn_idx) AS n_versions
  FROM {transcripts_cte}
  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL AND ts IS NOT NULL
) WHERE _rn = 1
"""
