"""Conversation-level dedup and structural QA over transcript tables.

These operators treat the conversation — not the turn — as the unit of
work, the granularity at which transcript corpora are actually curated
(a duplicated *conversation* is one training document duplicated, even
when no single turn row is itself a duplicate). The reference has no
conversation notion at all (it is a per-line pipeline,
agent/pipeline/pipeline.go); these extend its semantics the way
SURVEY.md §2.5 extends filter/parse to the training-data layer.

``conv_dedup`` — exact conversation dedup on a canonical content key:
  md5 over the turn texts joined in stable ``(turn_idx, text)`` order
  (the array_sort-canonicalized collect from
  transcripts.assemble_conversations, so the key is bit-identical at
  any parallelism). Two knobs make it match real retry/regeneration
  traffic:
  - ``canon`` lets the caller canonicalize each turn's text before
    hashing (the contract query strips the leading wall-clock
    timestamp: a retried conversation has identical content at a
    different time, and MUST collapse);
  - ``prefix_turns`` keys on only the first k turns — template-prefix
    grouping, the "same opening ⇒ same generation template" collapse
    used to cap per-template volume in a corpus.
  Plan: one exchange on conv_id (collect + hash), one on the conv key
  (group survivors). Both aggregations combine map-side; the second
  exchange carries one narrow row per conversation, so at 10^12 turns
  the key-group shuffle is |conversations|-sized, not |turns|-sized.

``conv_session_keys`` / ``streaming_conv_keys`` — the same content key
  scoped to gap-separated sessions, in batch (gaps-and-islands) and
  Structured Streaming (session_window) renderings. BOTH sessionize by
  EVENT TIME: the batch island numbering orders by ``(ts, turn_idx)``,
  not turn_idx, because ``session_window`` knows nothing about turn
  order — with any out-of-order (ts vs turn_idx) data, a turn-ordered
  lag() would merge sessions the streaming side splits. The two are
  therefore exact twins on arbitrary inputs, not just monotone ones
  (equality pinned in tests/test_conversations_streaming.py and
  hash-checked by the driver as the `streaming_conv_keys` contract
  row).

``conv_qa`` — per-conversation structural validation: turn count,
  malformed-text count (the transcript grok pattern), consecutive
  same-role repeats (a protocol violation in alternating-turn agent
  logs), distinct roles, and wall-clock span. Single exchange: the
  lag() window and the final groupBy share the conv_id partitioning,
  so Catalyst reuses one exchange for both (same shape as
  sessions.conversation_sessions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from log_formatter_spark.operators.parser import _to_java_regex
from log_formatter_spark.transcripts import joined_turns, joined_turns_sql


def _content_key(canon: Column) -> Column:
    """Canonical conversation content key: md5 over
    :func:`transcripts.joined_turns` — the ONE shared assembly aggregate
    (deterministic (turn_idx, text) struct sort at any parallelism), so
    the exact content key, the near-dup text (``conv_text``), and
    ``assemble_conversations`` can never drift on the tie-break."""
    return F.md5(joined_turns(canon))


def _content_key_sql(canon_sql: str) -> str:
    """DuckDB rendering of ``_content_key`` (same tie-break)."""
    return f"md5({joined_turns_sql(canon_sql)})"


def conv_dedup(
    transcripts: DataFrame,
    canon: Column | None = None,
    prefix_turns: int | None = None,
) -> DataFrame:
    """(conv_key, n_convs, survivor_conv_id, total_turns) per distinct key.

    ``canon`` is the per-turn canonical text (default: raw ``text``);
    ``prefix_turns`` restricts the key to turns with turn_idx < k.
    Survivor selection is deterministic: min conv_id within the group.
    """
    canon = F.col("text") if canon is None else canon
    t = transcripts
    if prefix_turns is not None:
        t = t.where(F.col("turn_idx") < F.lit(prefix_turns))
    per_conv = t.groupBy("conv_id").agg(
        _content_key(canon).alias("conv_key"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    return per_conv.groupBy("conv_key").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.min("conv_id").alias("survivor_conv_id"),
        F.sum("n_turns").alias("total_turns"),
    )


def conv_dedup_sql(
    transcripts_cte: str = "transcripts",
    canon_sql: str = "text",
    prefix_turns: int | None = None,
) -> str:
    where = f"WHERE turn_idx < {prefix_turns}" if prefix_turns is not None else ""
    return f"""
SELECT conv_key, count(*) AS n_convs, min(conv_id) AS survivor_conv_id,
       CAST(sum(n_turns) AS BIGINT) AS total_turns
FROM (
  SELECT conv_id,
         {_content_key_sql(canon_sql)} AS conv_key,
         count(*) AS n_turns
  FROM {transcripts_cte} {where} GROUP BY conv_id
)
GROUP BY conv_key
"""


def conv_session_keys(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    canon: Column | None = None,
) -> DataFrame:
    """Batch twin of ``streaming_conv_keys``: one canonical content key
    per (conv_id, gap-separated session). Islands are numbered in
    EVENT-TIME order — ``lag(ts)`` over ``(ts, turn_idx)`` — because
    that is what ``session_window`` computes; ordering by turn_idx
    would diverge on any conversation whose ts is not monotone in
    turn_idx (out-of-order delivery, clock skew between tool calls).
    The content key itself still sorts turns by (turn_idx, text)."""
    canon = F.col("text") if canon is None else canon
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    numbered = transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        canon.alias("c"),
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sess_id"),
    )
    return numbered.groupBy("conv_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        _content_key(F.col("c")).alias("conv_key"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def conv_session_keys_sql(
    transcripts_cte: str = "transcripts",
    canon_sql: str = "text",
    gap: str = "30 minutes",
) -> str:
    """DuckDB rendering of ``conv_session_keys`` — the BATCH oracle the
    STREAMING session_window emission is hash-checked against (the
    contract row `streaming_conv_keys`). Same event-time island
    ordering and content-key tie-break as the Spark side."""
    return f"""
SELECT conv_id, min(ts) AS session_start,
       {_content_key_sql(canon_sql)} AS conv_key,
       count(*) AS n_turns
FROM (
  SELECT conv_id, turn_idx, ts, text,
         CAST(sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS sess_id
  FROM (
    SELECT conv_id, turn_idx, ts, text,
           CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL {gap}
                THEN 1 ELSE 0 END AS new_sess
    FROM (
      SELECT conv_id, turn_idx, ts, text,
             lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
      FROM {transcripts_cte}
    )
  )
)
GROUP BY conv_id, sess_id
"""


def streaming_conv_keys(
    transcripts_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    canon: Column | None = None,
) -> DataFrame:
    """Streaming conversation content keys — the unbounded-stream twin
    of ``conv_dedup``'s key computation, scoped by session windows: once
    the watermark passes a conversation's ``gap`` of silence, its
    canonical (turn-sorted, optionally canonicalized) content key is
    final and can be emitted append-only. Downstream,
    ``dropDuplicatesWithinWatermark("conv_key")`` or an anti-join
    against a key store turns the emission into streaming conversation
    dedup.

    State is bounded: the store holds open sessions only (watermark
    evicts closed ones), and each entry carries the collected turn
    structs of ONE conversation session — at 10^12 turns the bound is
    (active conversations × avg open-session turns), not history.
    """
    canon = F.col("text") if canon is None else canon
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("conv_id"))
        .agg(
            _content_key(canon).alias("conv_key"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )


def conv_qa(transcripts: DataFrame, pattern: str) -> DataFrame:
    """(conv_id, n_turns, n_malformed, n_role_repeats, n_roles, span_us).

    ``pattern`` is the well-formed-turn regex (``(?P<name>...)`` groups
    accepted; converted to Java syntax for the codegen rlike).
    span_us is the integer microsecond span — µs is the storage
    precision of both engines' timestamps, so boundary-counting
    (DuckDB date_diff) and truncated difference (Spark timestampdiff)
    coincide exactly; any coarser unit would round differently.
    """
    jpat = _to_java_regex(pattern)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    x = transcripts.select(
        "conv_id",
        "ts",
        F.coalesce(F.col("text").rlike(jpat), F.lit(False)).alias("ok"),
        (F.col("role") == F.lag("role").over(w)).alias("repeat"),
        "role",
    )
    return x.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_malformed"),
        F.sum(F.when(F.col("repeat"), 1).otherwise(0)).alias("n_role_repeats"),
        F.count_distinct(F.col("role")).alias("n_roles"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias("span_us"),
    )


def conv_qa_sql(pattern: str, transcripts_cte: str = "transcripts") -> str:
    return f"""
SELECT conv_id,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
       CAST(sum(CASE WHEN repeat THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats,
       count(DISTINCT role) AS n_roles,
       date_diff('microsecond', min(ts), max(ts)) AS span_us
FROM (
  SELECT conv_id, ts, role,
         coalesce(regexp_matches(text, '{pattern}'), FALSE) AS ok,
         role = lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS repeat
  FROM {transcripts_cte}
)
GROUP BY conv_id
"""


# --- temporal split -----------------------------------------------------------


def temporal_split(
    turns: DataFrame,
    cutoff: str,
    unit_cols: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Time-based train/eval split at unit granularity with a leakage
    audit: ``(*unit_cols, n_turns, first_ts, last_ts, split)``, split ∈
    {'train', 'eval', 'straddle'} — train iff every turn of the unit
    ends before ``cutoff``, eval iff every turn starts at/after it,
    'straddle' otherwise.

    The temporal-holdout discipline (train on the past, evaluate on the
    future) breaks silently if the split is applied per-TURN: a unit
    spanning the cutoff leaks future eval turns into training context.
    Splitting on the unit's (min_ts, max_ts) makes the leak class
    EXPLICIT as 'straddle' rows — drop or truncate them deliberately
    instead of mislabeling them. The unit is configurable because it
    IS the modeling decision: whole conversations of a long-running
    agent span any cutoff (on the driver corpus every conv straddles),
    so the useful unit is the (conv, session) from
    ``sessions.numbered_sessions`` — time-local by construction. One
    map-side-combinable groupBy over the unit key; timestamp
    comparisons are exact, so the split is deterministic and
    cross-engine hashable. NULL-ts turns would poison min/max ordering
    differently per engine — filtered, documented.
    """
    cut = F.lit(cutoff).cast("timestamp")
    agg = (
        turns.where(F.col(ts_col).isNotNull())
        .groupBy(*unit_cols)
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
    )
    split = (
        F.when(F.col("last_ts") < cut, "train")
        .when(F.col("first_ts") >= cut, "eval")
        .otherwise("straddle")
    )
    return agg.select(
        *unit_cols, "n_turns", "first_ts", "last_ts", split.alias("split")
    )


def temporal_split_sql(
    cutoff: str,
    turns_cte: str = "transcripts",
    unit_cols: tuple[str, ...] = ("conv_id",),
) -> str:
    keys = ", ".join(unit_cols)
    return f"""
SELECT {keys}, n_turns, first_ts, last_ts,
       CASE WHEN last_ts < TIMESTAMP '{cutoff}' THEN 'train'
            WHEN first_ts >= TIMESTAMP '{cutoff}' THEN 'eval'
            ELSE 'straddle' END AS split
FROM (
  SELECT {keys}, count(*) AS n_turns, min(ts) AS first_ts, max(ts) AS last_ts
  FROM {turns_cte} WHERE ts IS NOT NULL GROUP BY {keys}
)
"""


# --- conversation-level near-dup ---------------------------------------------


def conv_text(transcripts: DataFrame, canon: Column | None = None) -> DataFrame:
    """``(conv_id, text)``: each conversation's turns joined with
    newlines in canonical ``(turn_idx, text)`` sort order — the
    document form conversation-LEVEL near-dup operates on (the shared
    :func:`transcripts.joined_turns` canonicalization ``_content_key``
    hashes, kept as text instead of hashed)."""
    return transcripts.groupBy("conv_id").agg(joined_turns(canon).alias("text"))


def conv_neardup(
    transcripts: DataFrame,
    n: int = 3,
    min_est: float = 0.5,
    canon: Column | None = None,
) -> DataFrame:
    """Conversation-level NEAR-dup: MinHash-banded candidate pairs over
    the assembled conversation text — catches re-logged sessions with
    small edits (timestamps, retries, one changed turn) that the exact
    content key in ``conv_dedup`` treats as distinct. Output
    ``(conv_a, conv_b, est_jaccard)`` with conv_a < conv_b.

    Plan shape: one conv_id exchange to assemble the text, then exactly
    the document near-dup plan (band equality joins, signatures reused
    through one exchange) — a conversation is a document here, so every
    scale property of `dedup.minhash_pairs` carries over unchanged."""
    from log_formatter_spark.operators.dedup import minhash_pairs

    pairs = minhash_pairs(
        conv_text(transcripts, canon), n=n, id_col="conv_id", min_est=min_est
    )
    return pairs.select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        "est_jaccard",
    )


def conv_neardup_sql(
    transcripts_cte: str = "transcripts",
    n: int = 3,
    min_est: float = 0.5,
    canon_sql: str = "text",
) -> str:
    """DuckDB rendering of :func:`conv_neardup` (same canonical join
    order, same banded pairs — nested-WITH composition, the
    split_contamination precedent)."""
    from log_formatter_spark.operators.dedup import minhash_pairs_sql

    # minhash_pairs_sql begins with its own WITH chain; splice conv_docs
    # in as the first CTE of that chain (two sibling WITHs would be a
    # syntax error)
    inner = minhash_pairs_sql(
        src="conv_docs", n=n, id_col="conv_id", min_est=min_est
    ).lstrip()
    assert inner.startswith("WITH"), "minhash_pairs_sql shape changed"
    inner_ctes = inner.removeprefix("WITH")
    return f"""
SELECT doc_a AS conv_a, doc_b AS conv_b, est_jaccard FROM (
  WITH conv_docs AS (
    SELECT conv_id, {joined_turns_sql(canon_sql)} AS text
    FROM {transcripts_cte} GROUP BY conv_id
  ),
  {inner_ctes}
)
"""


def conv_curation(
    transcripts: DataFrame,
    n: int = 3,
    min_est: float = 0.5,
    canon: Column | None = None,
) -> DataFrame:
    """The COMPOSED conversation-curation pass: exact-dedup verdicts
    AND near-dup partner stats per conversation, from ONE conversation
    assembly exchange (VERDICT r4 #7 — running :func:`conv_dedup` and
    :func:`conv_neardup` separately pays the |turns|-sized conv_id
    assembly shuffle twice; at 10¹² turns that shuffle IS the cost, so
    a curation pipeline should assemble once and fan the per-conv
    frame out to every tier).

    Output, one row per conversation:
    ``(conv_id, conv_key, exact_group_size, exact_survivor,
    is_exact_dup, neardup_partners, max_est_jaccard)`` — sentinel
    ``max_est_jaccard = -1.0`` when the conversation has no banded
    near-dup partner at ``min_est`` (turn counts stay with
    :func:`conv_dedup`: carrying them here would force the near tier's
    column pruning to diverge from the exact tier's and break the
    exchange share below).

    Plan shape: the conv_id assembly aggregate emits exactly
    ``(conv_id, text)`` and EVERY consumer — the conv_key window
    (exact tier) and both sides of the band self-join (near tier) —
    requests exactly those columns, so the three subplans canonicalize
    identically and the exchange-reuse rule computes the |turns|-sized
    assembly shuffle ONCE, serving the other two consumers from the
    same shuffle files (ReusedExchange pinned in
    tests/test_conv_curation.py). Two details make the reuse hold, both
    load-bearing: (a) NULL conv_ids are filtered EXPLICITLY before the
    aggregate — otherwise the near tier's inner band join infers
    ``isnotnull(conv_id)`` and pushes it below ITS copy of the
    aggregate while the window tier gets no such inference, and the two
    subplans stop canonicalizing equal (measured: the filter asymmetry
    alone doubles the assembly shuffle); (b) no per-tier extra columns
    ride the aggregate (see the n_turns note above). The near tier is
    the verify-inline probe (signatures RIDE the band explode, so the
    est filter runs on the raw collisions before the pair distinct and
    no join back to the signature table is needed); everything above
    the assembly exchange is |conversations|-sized."""
    from log_formatter_spark.operators.dedup import (
        _bands_with_sig,
        _probe_bands,
        minhash_signatures,
    )

    assembled = (
        transcripts.where(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .agg(joined_turns(canon).alias("text"))
    )
    w = Window.partitionBy("conv_key")
    exact = assembled.withColumn("conv_key", F.md5(F.col("text"))).select(
        "conv_id",
        "conv_key",
        F.count(F.lit(1)).over(w).alias("exact_group_size"),
        F.min("conv_id").over(w).alias("exact_survivor"),
    )
    sig = minhash_signatures(assembled, n=n, id_col="conv_id")
    pairs = (
        _probe_bands(
            _bands_with_sig(sig, "batch_doc", "a", "conv_id"),
            _bands_with_sig(sig, "corpus_doc", "b", "conv_id"),
            min_est,
        )
        .where(F.col("batch_doc") < F.col("corpus_doc"))
        .distinct()
    )
    partners = (
        pairs.select(
            F.explode(
                F.array(F.col("batch_doc"), F.col("corpus_doc"))
            ).alias("conv_id"),
            F.col("est_jaccard"),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("neardup_partners"),
            F.max("est_jaccard").alias("max_est_jaccard"),
        )
    )
    return exact.join(partners, on="conv_id", how="left").select(
        "conv_id",
        "conv_key",
        "exact_group_size",
        "exact_survivor",
        (F.col("conv_id") != F.col("exact_survivor")).alias("is_exact_dup"),
        F.coalesce("neardup_partners", F.lit(0).cast("bigint")).alias(
            "neardup_partners"
        ),
        F.coalesce("max_est_jaccard", F.lit(-1.0)).alias("max_est_jaccard"),
    )


def conv_curation_sql(
    transcripts_cte: str = "transcripts",
    n: int = 3,
    min_est: float = 0.5,
    canon_sql: str = "text",
) -> str:
    """DuckDB rendering of :func:`conv_curation` — one assembled CTE
    feeding both tiers, the conv_neardup_sql nested-WITH splice for the
    minhash chain. The whole statement is a plain SELECT over a nested
    WITH (never a top-level WITH) so it composes after an existing CTE
    chain like TRANSCRIPT_CTES."""
    from log_formatter_spark.operators.dedup import minhash_pairs_sql

    inner = minhash_pairs_sql(
        src="assembled", n=n, id_col="conv_id", min_est=min_est
    ).lstrip()
    assert inner.startswith("WITH"), "minhash_pairs_sql shape changed"
    inner_ctes = inner.removeprefix("WITH")
    return f"""
SELECT conv_id, conv_key, exact_group_size, exact_survivor,
       is_exact_dup, neardup_partners, max_est_jaccard
FROM (
  WITH assembled AS (
    SELECT conv_id, {joined_turns_sql(canon_sql)} AS text
    FROM {transcripts_cte} WHERE conv_id IS NOT NULL GROUP BY conv_id
  ),
  exact AS (
    SELECT conv_id, md5(text) AS conv_key,
           CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
             AS exact_group_size,
           min(conv_id) OVER (PARTITION BY md5(text)) AS exact_survivor
    FROM assembled
  ),
  pairs AS (
    SELECT doc_a, doc_b, est_jaccard FROM (
      WITH {inner_ctes}
    )
  ),
  partners AS (
    SELECT conv_id, CAST(count(*) AS BIGINT) AS neardup_partners,
           max(est_jaccard) AS max_est_jaccard
    FROM (
      SELECT doc_a AS conv_id, est_jaccard FROM pairs
      UNION ALL
      SELECT doc_b AS conv_id, est_jaccard FROM pairs
    )
    GROUP BY conv_id
  )
  SELECT e.conv_id, e.conv_key, e.exact_group_size,
         e.exact_survivor,
         e.conv_id <> e.exact_survivor AS is_exact_dup,
         coalesce(p.neardup_partners, 0) AS neardup_partners,
         coalesce(p.max_est_jaccard, CAST(-1.0 AS DOUBLE)) AS max_est_jaccard
  FROM exact e LEFT JOIN partners p ON e.conv_id = p.conv_id
)
"""


# The canonical agent loop: conversations open with system or user; a
# user turn hands to the assistant; the assistant answers the user or
# calls a tool; tools chain or return to the assistant. Part of the
# operator contract (both engines test the same literal set).
PROTOCOL_STARTS: tuple[str, ...] = ("system", "user")
PROTOCOL_EDGES: tuple[tuple[str, str], ...] = (
    ("system", "user"),
    ("user", "assistant"),
    ("assistant", "user"),
    ("assistant", "tool"),
    ("tool", "tool"),
    ("tool", "assistant"),
)


def conv_protocol(
    t: DataFrame,
    starts: tuple[str, ...] = PROTOCOL_STARTS,
    edges: tuple[tuple[str, str], ...] = PROTOCOL_EDGES,
) -> DataFrame:
    """Protocol conformance per conversation: does the role sequence
    follow the allowed-transition FSM (an explicit edge set, not just
    conv_qa's repeat counting), and if not, where does it first break —
    the triage signal for corrupted ingestion, interleaved sessions,
    or agent-harness bugs at corpus scale.

    A turn is a violation iff it is a first turn whose role is not an
    allowed START, or a later turn whose (prev_role, role) pair is not
    an allowed EDGE — membership tested on 'prev>role' strings against
    a literal IN list ('>' cannot occur in a role). NULL-role turns
    are excluded up front (the tool_transitions subsequence rule, and
    an oracle-parity requirement: Spark's concat_ws drops NULLs where
    SQL's ``||`` nulls out — the two would count NULL turns
    differently). One conv_id exchange (the shared per-conversation
    partitioning), one map-side-combined aggregate; at 10¹² turns this
    is the turn_latency shape.

    Output: (conv_id, n_turns, n_violations, first_bad_turn NULL when
    conformant, conforms).
    """
    t = t.where(F.col("role").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pair = F.concat_ws(">", F.lag("role").over(w), F.col("role"))
    bad = F.when(
        F.lag("role").over(w).isNull(), ~F.col("role").isin(*starts)
    ).otherwise(~pair.isin(*[f"{a}>{b}" for a, b in edges]))
    x = t.select("conv_id", "turn_idx", bad.alias("bad"))
    return x.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_violations"),
        F.min(F.when(F.col("bad"), F.col("turn_idx"))).alias("first_bad_turn"),
        (F.sum(F.when(F.col("bad"), 1).otherwise(0)) == 0).alias("conforms"),
    )


def conv_protocol_sql(
    transcripts_cte: str = "transcripts",
    starts: tuple[str, ...] = PROTOCOL_STARTS,
    edges: tuple[tuple[str, str], ...] = PROTOCOL_EDGES,
) -> str:
    """DuckDB rendering of :func:`conv_protocol` — same literal FSM."""
    start_list = ", ".join(f"'{s}'" for s in starts)
    edge_list = ", ".join(f"'{a}>{b}'" for a, b in edges)
    return f"""
SELECT conv_id,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       min(CASE WHEN bad THEN turn_idx END) AS first_bad_turn,
       sum(CASE WHEN bad THEN 1 ELSE 0 END) = 0 AS conforms
FROM (
  SELECT conv_id, turn_idx,
         CASE WHEN prev_role IS NULL THEN role NOT IN ({start_list})
              ELSE (prev_role || '>' || role) NOT IN ({edge_list})
         END AS bad
  FROM (
    SELECT conv_id, turn_idx, role,
           lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS prev_role
    FROM {transcripts_cte} WHERE role IS NOT NULL
  )
)
GROUP BY conv_id
"""
