"""Streaming ingestion dedup — exactly-once semantics over an
at-least-once source.

The reference's kafka input is at-least-once by construction: its
consumer commits offsets after handing docs to a bounded channel
(reference agent/input/kafka/kafka.go:159-186), so a crash between
hand-off and commit redelivers. The batch side of this repo absorbs
redelivery idempotently (overwrite-by-batch_id, streaming/job.py); this
operator is the in-stream answer: suppress redelivered rows by natural
key before they reach stateful aggregation.

``dropDuplicatesWithinWatermark`` (Spark 3.5+) is the scale-correct
primitive: state holds one entry per key only within the watermark
horizon, so state size is bounded by (arrival rate × watermark delay) —
a plain ``dropDuplicates`` on a stream would grow state forever at
10^12 turns. The transcript natural key is (conv_id, turn_idx): the
north-rule input mandates stable turn identity, so a redelivered turn
is byte-identical and suppressing any later copy is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Suppress redelivered rows by natural key within the watermark.

    A duplicate arriving within ``watermark`` of the first copy's event
    time is dropped; one arriving later MAY pass (its state entry has
    been evicted) — the downstream overwrite-by-batch_id sinks absorb
    that tail, so the pipeline degrades to idempotent-overwrite rather
    than double-count.
    """
    keys = keys or ["conv_id", "turn_idx"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_incremental_dedup(
    batch_stream: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingest twin of ``operators.dedup.incremental_dedup``:
    dedup an UNBOUNDED stream of new documents against a STATIC corpus
    key index, maintaining per-content-key state as the stream runs —
    ``(group_key, survivor_id, n_batch, in_corpus)``.

    Plan: the per-row content key is a stateless projection; the corpus
    probe is a stream-static LEFT join (the static distinct-key index is
    the build side — at production scale the maintained bucketed/Iceberg
    key table, re-read per micro-batch, never shuffled by the stream);
    the only stateful node is the groupBy(group_key) aggregate whose
    state is one row per distinct ingested key. min/count/bool-max
    aggregates are order-insensitive, so the final table is DETERMINISTIC
    at any parallelism and any micro-batch slicing — which is what lets
    the driver hash it against the batch oracle (third streaming ≡ batch
    equivalence, after the flagship aggregates and the session keys).
    State is keys-sized; production bounds it with a watermark over an
    ingest-time column (evict keys older than the redelivery horizon)
    exactly like ``dedup_stream`` above.
    """
    from pyspark.sql import functions as F

    from log_formatter_spark.operators.dedup import norm_text_expr

    bk = batch_stream.select(
        F.col(id_col), F.md5(norm_text_expr(text_col)).alias("group_key")
    )
    ck = (
        corpus.select(F.md5(norm_text_expr(text_col)).alias("group_key"))
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    return (
        bk.join(ck, "group_key", "left")
        .groupBy("group_key")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_batch"),
            F.max(F.coalesce(F.col("_in_corpus"), F.lit(False))).alias("in_corpus"),
        )
    )


def streaming_incremental_dedup_sql(
    batch_cte: str, corpus_cte: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """Batch oracle for the streaming final table (DuckDB rendering)."""
    from log_formatter_spark.operators.dedup import norm_text_sql

    norm = norm_text_sql(text_col)
    return f"""
WITH batch AS ({batch_cte}),
corpus AS ({corpus_cte}),
bk AS (SELECT {id_col}, md5({norm}) AS group_key FROM batch),
ck AS (SELECT DISTINCT md5({norm}) AS group_key FROM corpus)
SELECT b.group_key, min(b.{id_col}) AS survivor_id, count(*) AS n_batch,
       (c.group_key IS NOT NULL) AS in_corpus
FROM bk b LEFT JOIN ck c ON b.group_key = c.group_key
GROUP BY b.group_key, (c.group_key IS NOT NULL)
"""


def streaming_bloom_membership(
    batch_stream: DataFrame,
    corpus_keys: DataFrame,
    m: int,
    k: int,
    key_col: str = "key",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingest twin of ``functions.sketch.bloom_membership``:
    probe an UNBOUNDED stream of keys against the STATIC corpus Bloom
    filter — and the first streaming twin in this repo with ZERO
    streaming state. The batch operator answers "probably seen before?"
    per batch; this answers it per arriving row, append-mode, no
    watermark, no aggregation state at any corpus size.

    Plan: the m/32-word filter builds batch-side from the static corpus
    (the same explode + bit_or aggregate as the batch operator —
    constant-sized REGARDLESS of corpus, which is the whole point of a
    Bloom filter); the probe is ``k`` stream-static BROADCAST left
    joins, one per hash position (k is small by design — each join is
    stateless, so the stream never shuffles and holds no state; contrast
    ``streaming_incremental_dedup``, whose per-key aggregate state IS
    its semantics). ``is_member`` attaches via one more stream-static
    left join against the distinct corpus keys — the exact measurement
    column, kept so the stream's output is row-for-row the batch
    operator's (the driver hash gate checks it). The static sides are
    re-evaluated per micro-batch at gate scale; production materializes
    the words table once per ingest cycle (it is m/32 rows — driver-
    sized).

    Emits one output row per arriving (id, key) row; the batch twin
    emits one per distinct (id, key) — identical whenever ingest ids are
    unique, which the at-least-once dedup upstream (`dedup_stream`)
    guarantees.
    """
    from pyspark.sql import functions as F

    from log_formatter_spark.functions.hashing import md5_60
    from log_formatter_spark.functions.sketch import _BLOOM_WORD, _bloom_pos_arr

    w = _BLOOM_WORD
    pos = _bloom_pos_arr(key_col, m, k)
    bloom = (
        corpus_keys.select(F.explode(pos).alias("pos"))
        .select(
            F.expr(f"pos DIV {w}").alias("word"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {w} AS INT))").alias(
                "m1"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("m1").alias("mask"))
    )
    out = batch_stream.select(F.col(id_col), F.col(key_col))
    hit_terms = []
    for i in range(k):
        p = md5_60(F.concat(F.col(key_col), F.lit(f"|{i}"))) % m
        out = out.withColumn(f"_p{i}", p)
        side = bloom.select(
            F.col("word").alias(f"_w{i}"), F.col("mask").alias(f"_m{i}")
        )
        out = out.join(
            F.broadcast(side),
            F.expr(f"_p{i} DIV {w}") == F.col(f"_w{i}"),
            "left",
        )
        hit_terms.append(
            F.col(f"_m{i}").isNotNull()
            & (
                F.expr(f"shiftright(_m{i}, CAST(_p{i} % {w} AS INT))").bitwiseAND(
                    F.lit(1)
                )
                == 1
            )
        )
    bloom_hit = hit_terms[0]
    for h in hit_terms[1:]:
        bloom_hit = bloom_hit & h
    members = corpus_keys.select(key_col).distinct().withColumn("_in", F.lit(True))
    return out.join(F.broadcast(members), key_col, "left").select(
        id_col,
        bloom_hit.alias("bloom_hit"),
        F.coalesce(F.col("_in"), F.lit(False)).alias("is_member"),
    )
