"""Training-sequence preparation: context-window packing and document
chunking — the last mile between a cleaned corpus and a trainer's
fixed-length batches.

- ``pack_sequences``: GPT-style streaming pack — concatenate docs in a
  deterministic order and cut at every ``budget`` tokens, letting docs
  straddle sequence boundaries (no padding waste). Each doc gets the
  sequence it STARTS in and its token offset there.
- ``chunk_docs``: sliding-window chunking (length ``k``, stride ``s``)
  — the standard split for embedding/retrieval indexing of long
  documents.

Both are exact integer/window arithmetic end-to-end, so the DuckDB
oracles hash-match bit-for-bit; there is no float anywhere.

100 TB shapes:

- packing is one window cumsum per hash bucket: docs distribute over
  ``n_buckets`` independent packing streams by a deterministic md5 of
  the id (buckets ≈ trainer data-parallel shards), so no global-order
  bottleneck exists — each bucket's cumsum is an ordinary partitioned
  running total, and skew is bounded by the hash.
- chunking is a map-only explode: `sequence()` index generation plus
  array slicing, no shuffle at all; output rows ∝ total tokens / s.

Reference parity: the reference has no training-prep layer (its scope
ends at formatter output); this is part of the §2.5 training-data
surface, like dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_formatter_spark.functions.hashing import MD5_60_SQL, md5_60
from log_formatter_spark.functions.text import TOKENS_SQL, tokens

PACK_BUDGET = 256
PACK_BUCKETS = 8
CHUNK_LEN = 32
CHUNK_STRIDE = 24


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    n_buckets: int = PACK_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each doc its (bucket, seq_id, seq_offset) under streaming
    concatenation: within a bucket, docs concatenate in ``id`` order
    and sequences cut every ``budget`` tokens.

    Returns ``(doc_id, bucket, n_tokens, seq_id, seq_offset)`` where
    ``seq_id`` is the sequence the doc's FIRST token lands in and
    ``seq_offset`` its position there (a doc longer than the remaining
    room spills into the next sequence — by-design GPT-style packing,
    no padding). Empty docs occupy zero tokens and inherit the current
    boundary. All integer math; one exchange (the bucket window).
    """
    base = docs.select(
        F.col(id_col),
        F.pmod(md5_60(F.concat(F.lit("pack:"), F.col(id_col).cast("string"))), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_start")
    return base.select(
        id_col,
        "bucket",
        "n_tokens",
        F.floor(start / F.lit(budget)).cast("int").alias("seq_id"),
        (start % F.lit(budget)).cast("int").alias("seq_offset"),
    )


def pack_sequences_sql(
    src: str = "documents",
    budget: int = PACK_BUDGET,
    n_buckets: int = PACK_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    coin = MD5_60_SQL.format(x=f"'pack:' || CAST({id_col} AS VARCHAR)")
    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH base AS (
  SELECT {id_col},
         CAST({coin} % {n_buckets} AS INTEGER) AS bucket,
         CAST(len({toks}) AS INTEGER) AS n_tokens
  FROM {src}
),
c AS (
  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY {id_col}
            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS _start
  FROM base
)
SELECT {id_col}, bucket, n_tokens,
       CAST(_start // {budget} AS INTEGER) AS seq_id,
       CAST(_start % {budget} AS INTEGER) AS seq_offset
FROM c
"""


def chunk_docs(
    docs: DataFrame,
    k: int = CHUNK_LEN,
    s: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window chunks of ``k`` tokens with stride ``s``
    (overlap ``k-s``): ``(doc_id, chunk_idx, n_chunk_tokens,
    chunk_text)``. The final window is the last start position
    ``< n`` on the stride grid, so every token is covered and short
    docs yield exactly one (short) chunk; empty docs yield none.
    Map-only: index `sequence` + array slice, zero exchanges.
    """
    n = F.size(F.col("_toks"))
    # chunks start at 0, s, 2s, …; count = ceil(max(n-k,0)/s) + 1.
    # Guard n=0 with an empty array: Spark's sequence(0, -1) would
    # yield a DESCENDING [0, -1], not nothing (explode drops empties).
    n_chunks = (
        F.expr(f"(greatest(size(_toks) - {k}, 0) + {s} - 1) div {s}") + F.lit(1)
    ).cast("int")
    idx = F.when(n > 0, F.sequence(F.lit(0), n_chunks - F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).select(
        id_col, "_toks", F.explode(idx).alias("chunk_idx")
    )
    piece = F.expr(f"slice(_toks, chunk_idx * {s} + 1, {k})")
    return base.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def chunk_docs_sql(
    src: str = "documents",
    k: int = CHUNK_LEN,
    s: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH t AS (
  SELECT {id_col}, {toks} AS toks FROM {src}
),
idx AS (
  SELECT {id_col}, toks,
         unnest(range(0, CASE WHEN len(toks) <= 0 THEN 0
                 ELSE (greatest(len(toks) - {k}, 0) + {s} - 1) // {s} + 1 END)) AS chunk_idx
  FROM t
)
SELECT {id_col}, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(toks[chunk_idx * {s} + 1 : chunk_idx * {s} + {k}]) AS INTEGER) AS n_chunk_tokens,
       array_to_string(toks[chunk_idx * {s} + 1 : chunk_idx * {s} + {k}], ' ') AS chunk_text
FROM idx
"""


CONTEXT_BUDGET = 96


def context_budget(t: DataFrame, budget: int = CONTEXT_BUDGET) -> DataFrame:
    """Inference context-window truncation: keep the longest SUFFIX of
    turns in each conversation whose total whitespace-token count fits
    ``budget`` — the standard prep step before replaying a transcript
    into a bounded-context model (most-recent turns win; history
    falls off the front).

    Suffix-maximality needs no search: the running total over
    ``turn_idx DESC`` is monotone non-decreasing going backwards
    (token counts are ≥ 0), so ``suffix_tokens <= budget`` keeps
    exactly the maximal suffix. A single turn longer than the whole
    budget drops its entire conversation — by design (the caller's
    per-turn truncation policy is a different operator; silently
    splitting a turn would break per-turn text equality, the
    north-rule row invariant).

    Plan: ONE conv_id exchange for the running total (the shared
    per-conversation partitioning), then a map-only filter — no joins,
    no second shuffle; output rows ≤ input rows. At 10¹² turns the
    shape is identical to turn_latency's.

    Returns ``(conv_id, turn_idx, role, n_tokens, suffix_tokens)`` for
    kept turns.
    """
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t.select(
            "conv_id", "turn_idx", "role", n_tok.alias("n_tokens")
        )
        .withColumn("suffix_tokens", F.sum("n_tokens").over(w))
        .where(F.col("suffix_tokens") <= F.lit(budget))
    )


def context_budget_sql(
    transcripts_cte: str = "transcripts", budget: int = CONTEXT_BUDGET
) -> str:
    """DuckDB rendering of :func:`context_budget` (same DESC running
    total; the windowed-sum HUGEINT promotion cast back to BIGINT)."""
    toks = TOKENS_SQL.format(x="text")
    return f"""
SELECT conv_id, turn_idx, role, n_tokens, suffix_tokens FROM (
  SELECT conv_id, turn_idx, role, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY conv_id ORDER BY turn_idx DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS suffix_tokens
  FROM (
    SELECT conv_id, turn_idx, role,
           CAST(len({toks}) AS BIGINT) AS n_tokens
    FROM {transcripts_cte}
  )
) WHERE suffix_tokens <= {budget}
"""


LENGTH_MAX_BUCKET = 4096


def length_buckets(
    docs: DataFrame,
    max_bucket: int = LENGTH_MAX_BUCKET,
    text_col: str = "text",
) -> DataFrame:
    """Padding-efficiency report for length-bucketed batch assembly:
    assign every doc the smallest power-of-two sequence length that
    holds it, then report per bucket how much of the bucket's capacity
    real tokens fill. This is the planning step behind bucketed
    batching (pad-to-bucket instead of pad-to-max): the report says
    which bucket sizes carry the corpus and what padding overhead each
    costs, so a trainer can pick its bucket boundaries from data.

    Semantics: ``tok_eff = min(max(n_tokens, 1), max_bucket)`` — empty
    docs still occupy one slot-token, docs longer than ``max_bucket``
    are truncated to it (the trainer's behavior; they are counted in
    ``n_truncated``). ``bucket`` = smallest power of two >= tok_eff,
    found by an exact integer probe of the 13-element power list (no
    float log2 — ``ceil(log2(1024))`` is an engine-sensitive 9.99…
    trap). Per bucket: ``n_docs``, ``sum_tokens`` (of tok_eff),
    ``capacity = bucket * n_docs``, ``pad_tokens`` (exact int), and
    ``pad_frac`` (one double division at the very end).

    100 TB plan: map-only token count + a 13-group hash aggregate —
    partial (map-side) combine does almost all the work, the exchange
    carries <= 13 rows per task. No joins, no window, nothing skewed
    (the groups are bounded by construction).
    """
    if max_bucket & (max_bucket - 1) or max_bucket <= 0:
        raise ValueError(f"max_bucket must be a power of two, got {max_bucket}")
    powers = []
    p = 1
    while p <= max_bucket:
        powers.append(p)
        p *= 2
    n = F.size(tokens(F.col(text_col))).cast("bigint")
    tok_eff = F.least(F.greatest(n, F.lit(1)), F.lit(max_bucket))
    plist = F.array(*[F.lit(q).cast("bigint") for q in powers])
    bucket = F.array_min(F.filter(plist, lambda q: q >= tok_eff))
    per_doc = docs.select(
        bucket.alias("bucket"),
        tok_eff.alias("tok_eff"),
        (n > max_bucket).cast("int").alias("trunc"),
    )
    agg = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_eff").alias("sum_tokens"),
        F.sum("trunc").alias("n_truncated"),
    )
    cap = (F.col("bucket") * F.col("n_docs")).alias("capacity")
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        cap,
        (F.col("bucket") * F.col("n_docs") - F.col("sum_tokens")).alias("pad_tokens"),
        (
            (F.col("bucket") * F.col("n_docs") - F.col("sum_tokens")).cast("double")
            / (F.col("bucket") * F.col("n_docs"))
        ).alias("pad_frac"),
        "n_truncated",
    )


def length_buckets_sql(
    src: str = "documents",
    max_bucket: int = LENGTH_MAX_BUCKET,
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`length_buckets` — same integer
    power-list probe (list_min over list_filter), same end-only double
    division; the HUGEINT sum promotions cast back to BIGINT. Rejects a
    non-power-of-two ``max_bucket`` exactly like the DataFrame twin —
    without the check the rendered power list silently tops out below
    ``max_bucket`` and over-length docs get NULL buckets (an
    engine-asymmetry where Spark errors and the oracle returns wrong
    rows)."""
    if max_bucket & (max_bucket - 1) or max_bucket <= 0:
        raise ValueError(f"max_bucket must be a power of two, got {max_bucket}")
    powers = []
    p = 1
    while p <= max_bucket:
        powers.append(p)
        p *= 2
    plist = "[" + ", ".join(f"{q}::BIGINT" for q in powers) + "]"
    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH per_doc AS (
  SELECT list_min(list_filter({plist}, q -> q >= tok_eff)) AS bucket,
         tok_eff,
         CASE WHEN n > {max_bucket} THEN 1 ELSE 0 END AS trunc
  FROM (
    SELECT n, least(greatest(n, 1), {max_bucket}) AS tok_eff FROM (
      SELECT CAST(len({toks}) AS BIGINT) AS n FROM {src}
    )
  )
),
agg AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok_eff) AS BIGINT) AS sum_tokens,
         CAST(sum(trunc) AS BIGINT) AS n_truncated
  FROM per_doc GROUP BY bucket
)
SELECT bucket, n_docs, sum_tokens,
       bucket * n_docs AS capacity,
       bucket * n_docs - sum_tokens AS pad_tokens,
       CAST(bucket * n_docs - sum_tokens AS DOUBLE) / (bucket * n_docs) AS pad_frac,
       n_truncated
FROM agg
"""
