"""KMV (k-minimum-values) distinct-count sketch.

Why this exists next to ``approx_count_distinct``: Spark's built-in is
HyperLogLog++ and DuckDB's is its own HLL — their estimates can never
hash-match across engines, so the driver's correctness gate could only
ever see a rows-only check. KMV is the classic alternative estimator
(Bar-Yossef et al. 2002): hash every value uniformly into [0, 2^60),
keep the k smallest distinct hashes, and estimate

    D̂ = (k-1) * 2^60 / h_(k)          (h_(k) = k-th smallest hash)

with relative standard error ~1/sqrt(k-2). Because md5-derived hashing
and the order statistic are fully deterministic, Spark and DuckDB
produce BIT-IDENTICAL estimates — an approximate algorithm with an
exact oracle.

Scale shape: one hash-exchange for the per-group distinct on (group,
hash) — the same exchange pattern as exact count-distinct — then a
per-group sort limited by the window. For production corpora where even
the distinct table is too hot, Spark's HLL (``approx_count_distinct``)
is the right runtime choice; KMV here is the cross-engine-verifiable
member of the sketch family, and its bottom-k set is also mergeable
(union + re-take-k), which is what a 100 TB rollup would exploit via a
custom Aggregator. Groups with fewer than k distinct values short-cut
to the exact count (the sketch is lossless below k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_formatter_spark.functions.hashing import md5_60, MD5_60_SQL

DEFAULT_K = 64


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = DEFAULT_K
) -> DataFrame:
    """Per-group estimated distinct count of ``value_col``.

    Output: (group_col, est_distinct double, is_exact boolean) —
    ``is_exact`` marks groups below k where the estimate IS the count.
    """
    # NULL values don't count toward distinct cardinality (matching
    # count(DISTINCT v)) — and a NULL hash would rank nulls-first in
    # Spark but nulls-last in DuckDB, shifting the order statistic
    h = md5_60(F.concat(F.col(value_col).cast("string"), F.lit(":kmv")))
    per = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col), h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    cw = Window.partitionBy(group_col)
    ranked = per.select(
        group_col,
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n_seen"),
    )
    # (k-1) * 2^60 is exactly representable in binary64, so the whole
    # estimate is one IEEE division — bit-identical across engines
    numer = float((k - 1) << 60)
    est = F.when(F.col("n_seen") < k, F.col("n_seen").cast("double")).otherwise(
        F.lit(numer) / F.col("h").cast("double")
    )
    return (
        ranked.where(F.col("rn") == F.least(F.lit(k), F.col("n_seen")))
        .select(
            group_col,
            est.alias("est_distinct"),
            (F.col("n_seen") < k).alias("is_exact"),
        )
    )


def kmv_distinct_sql(
    src: str = "events",
    group_col: str = "event_type",
    value_col: str = "user_id",
    k: int = DEFAULT_K,
) -> str:
    h = MD5_60_SQL.format(x=f"(CAST({value_col} AS VARCHAR) || ':kmv')")
    numer = float((k - 1) << 60)
    return f"""
WITH per AS (SELECT DISTINCT {group_col}, {h} AS h FROM {src}
             WHERE {value_col} IS NOT NULL),
ranked AS (
  SELECT {group_col}, h,
         row_number() OVER (PARTITION BY {group_col} ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY {group_col}) AS n_seen
  FROM per
)
SELECT {group_col},
       CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE)
            ELSE {numer!r} / CAST(h AS DOUBLE) END AS est_distinct,
       n_seen < {k} AS is_exact
FROM ranked WHERE rn = least({k}, n_seen)
"""


# --- Bloom-filter membership ------------------------------------------------
#
# Why this exists next to Spark's own bloom_filter_agg / Parquet bloom
# filters: those are engine-private binary formats (unverifiable across
# engines), while this one is built from the same md5-derived hash
# family as every other sketch here — so the driver's value-hash gate
# can check BOTH the filter construction and the probe semantics
# exactly. m bits are packed _BLOOM_WORD(=32)-per-BIGINT word (bit 31
# is the largest shift, so every mask stays positive and >> behaves
# identically in Spark and DuckDB — that positivity argument is WHY the
# word is 32 and not 64: bit 63 would flip the BIGINT sign and the two
# engines' >> disagree on negatives). Both the Spark expressions and
# the DuckDB rendering read the constant, so they cannot drift apart.

_BLOOM_WORD = 32


def _bloom_pos_arr(key_col: str, m: int, k: int):
    from log_formatter_spark.functions.hashing import md5_60

    return F.array(
        *[
            md5_60(F.concat(F.col(key_col), F.lit(f"|{i}"))) % m
            for i in range(k)
        ]
    )


def bloom_membership(
    corpus_keys: DataFrame,
    batch_keys: DataFrame,
    m: int,
    k: int,
    key_col: str = "key",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter membership pre-filter with measured ground truth:
    build an m-bit / k-hash Bloom filter over the corpus key set, probe
    every batch key, and emit ``(id, bloom_hit, is_member)`` — the
    memory-bounded structure that lets a 1000-executor ingest job ask
    "probably seen before?" without joining the 10^12-key corpus index.

    100 TB plan: the filter is m/32 BIGINT words REGARDLESS of corpus
    size — one explode + bit_or aggregation over the corpus (map-side
    partials, ≤ m/32 rows out), then the words BROADCAST and the probe
    is a map-side broadcast-hash join per batch position (the batch
    never shuffles to probe). No membership structure this size exists
    otherwise: the corpus key index that incremental_dedup joins against
    is corpus-sized; this is constant-sized with a tunable FP rate
    (~(1-e^(-kn/m))^k). The ``is_member`` column is the measurement
    harness (exact join, batch-bounded output) that makes the FP rate an
    observable; production pipelines consume
    ``bloom_hit`` alone and route hits to the exact verifier.
    """
    pos = _bloom_pos_arr(key_col, m, k)
    w = _BLOOM_WORD
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
    probe = (
        batch_keys.select(F.col(id_col), F.col(key_col), F.explode(pos).alias("pos"))
        .select(
            id_col,
            key_col,
            F.expr(f"pos DIV {w}").alias("word"),
            (F.col("pos") % w).cast("int").alias("bit"),
        )
        .join(F.broadcast(bloom), "word", "left")
        .select(
            id_col,
            key_col,
            (
                F.col("mask").isNotNull()
                & (F.expr("shiftright(mask, bit)").bitwiseAND(F.lit(1)) == 1)
            ).alias("hit"),
        )
    )
    per_id = probe.groupBy(id_col, key_col).agg(
        F.bool_and("hit").alias("bloom_hit")
    )
    members = corpus_keys.select(key_col).distinct().withColumn(
        "_in", F.lit(True)
    )
    return per_id.join(members, key_col, "left").select(
        id_col,
        "bloom_hit",
        F.coalesce(F.col("_in"), F.lit(False)).alias("is_member"),
    )


def bloom_membership_sql(
    corpus_src: str,
    batch_src: str,
    m: int,
    k: int,
    key_col: str = "key",
    id_col: str = "doc_id",
) -> str:
    """DuckDB rendering of :func:`bloom_membership`. ``corpus_src`` must
    yield ``key``; ``batch_src`` must yield ``(id, key)`` — pass SELECT
    bodies, they are spliced as CTEs."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    h = MD5_60_SQL.format(x=f"{key_col} || '|' || CAST(i AS VARCHAR)")
    series = f"(SELECT unnest(generate_series(0, {k - 1})) AS i) _i"
    return f"""
WITH ck AS ({corpus_src}),
bk AS ({batch_src}),
cpos AS (SELECT ({h}) % {m} AS pos FROM ck CROSS JOIN {series}),
bloom AS (
  SELECT pos // {_BLOOM_WORD} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS mask
  FROM cpos GROUP BY pos // {_BLOOM_WORD}
),
bprobe AS (
  SELECT {id_col}, {key_col}, ({h}) % {m} AS pos FROM bk CROSS JOIN {series}
),
hits AS (
  SELECT p.{id_col}, p.{key_col},
         bool_and(b.mask IS NOT NULL
                  AND ((b.mask >> CAST(p.pos % {_BLOOM_WORD} AS INTEGER)) & 1) = 1
         ) AS bloom_hit
  FROM bprobe p LEFT JOIN bloom b ON p.pos // {_BLOOM_WORD} = b.word
  GROUP BY p.{id_col}, p.{key_col}
),
mem AS (SELECT DISTINCT {key_col} FROM ck)
SELECT h.{id_col}, h.bloom_hit, (m.{key_col} IS NOT NULL) AS is_member
FROM hits h LEFT JOIN mem m USING ({key_col})
"""


# --- Count-Min frequency sketch -----------------------------------------------
#
# Completes the cross-engine sketch family: KMV answers "how many
# distinct?", Bloom answers "probably seen?", Count-Min answers "about
# how often?" — the three questions a 10^12-token ingest job asks
# without being able to afford the exact tables. Same discipline as the
# other two: built from the md5_60 hash family so construction AND probe
# are value-hash-verifiable cross-engine, with the exact count riding
# along as the measurement column (the bloom is_member pattern) so
# the overestimate is an observable, not a hope.

CM_WIDTH = 256
CM_DEPTH = 3
CM_NGRAM = 2
CM_MIN_COUNT = 40  # exact-count candidate threshold shared by op, SQL twin, streaming twin


def _cm_col(key, r: int, width: int):
    from log_formatter_spark.functions.hashing import md5_60

    return md5_60(F.concat(F.lit(f"cm{r}:"), key)) % width


def _cm_col_case(key, depth: int, width: int):
    """One counter-column expression per depth row keyed by the SAME
    salt family the probe uses — a CASE over ``r`` keeps it a single
    codegen projection, with the LAST branch as the otherwise so the
    join key is provably non-nullable (a nullable computed key makes
    Catalyst push isnotnull below the projection and re-evaluate it per
    row — guarded by the catalog plan test)."""
    expr = _cm_col(key, depth - 1, width)
    for r in range(depth - 2, -1, -1):
        expr = F.when(F.col("r") == r, _cm_col(key, r, width)).otherwise(expr)
    return expr


def cm_shingles(
    docs: DataFrame,
    n: int = CM_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus → n-gram occurrence stream. Explode-only (stateless), so
    it runs identically on a batch frame and a STREAMING frame — the
    one-definition rule the streaming Count-Min twin depends on."""
    from log_formatter_spark.functions.shingles import shingle_df

    return shingle_df(
        docs, n=n, text_col=text_col, id_col=id_col, distinct=False
    ).select("shingle")


def cm_counters(
    sh: DataFrame, width: int = CM_WIDTH, depth: int = CM_DEPTH
) -> DataFrame:
    """``depth × width`` Count-Min counter table from an n-gram stream:
    one groupBy(r, col) count with map-side partials. The aggregate is a
    SUM — associative and commutative — so Structured Streaming
    maintains it in complete mode with bounded state (at most
    ``depth × width`` rows — only hit cells materialize, and the bound
    is data-independent) and any micro-batch slicing lands
    on the batch counter table exactly (pinned in tests/test_countmin
    and hash-graded by the streaming_countmin contract row)."""
    rows = sh.select(
        "shingle",
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
    )
    return rows.select(
        "r", _cm_col_case(F.col("shingle"), depth, width).alias("col")
    ).groupBy("r", "col").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def cm_probe(
    cand: DataFrame,
    counters: DataFrame,
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
) -> DataFrame:
    """Point-query the counter table for every candidate ``(shingle,
    exact_count)`` row: min of the ``depth`` counters, broadcast join
    (the counter table is sketch-sized by construction)."""
    probe = cand.select(
        "shingle",
        "exact_count",
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
    )
    probe = probe.withColumn(
        "col", _cm_col_case(F.col("shingle"), depth, width)
    ).join(F.broadcast(counters), ["r", "col"])
    return probe.groupBy("shingle", "exact_count").agg(
        F.min("cnt").alias("est_count")
    ).select("shingle", "est_count", "exact_count")


def countmin_heavy_hitters(
    docs: DataFrame,
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
    n: int = CM_NGRAM,
    min_count: int = CM_MIN_COUNT,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heavy-hitter n-grams with Count-Min estimates AND measured ground
    truth: build a ``depth × width`` Count-Min sketch over the corpus
    n-gram stream (Cormode & Muthukrishnan 2005 — each occurrence
    increments one counter per row, a point query reads the MIN of its
    ``depth`` counters, so estimates NEVER undershoot), then emit every
    n-gram whose exact count ≥ ``min_count`` as
    ``(shingle, est_count, exact_count)``.

    100 TB plan: the sketch is ``depth × width`` counters REGARDLESS of
    vocabulary — one groupBy(row, col) aggregate with map-side partials
    (the depth-explode multiplies the stream ×depth, all map-side), and
    the counter table BROADCASTS into the probe like the Bloom words.
    The exact side is the measurement harness (a vocabulary-sized
    aggregate — the very table the sketch exists to avoid; production
    probes the sketch alone and this operator is how you validate the
    width/depth choice before trusting it). est ≥ exact is a theorem;
    the test suite pins it, plus the estimate-error distribution the
    width controls. Decomposed into :func:`cm_shingles` /
    :func:`cm_counters` / :func:`cm_probe` so the streaming twin runs
    the LITERAL same counter maintenance (one-definition rule)."""
    sh = cm_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    exact = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    counters = cm_counters(sh, width=width, depth=depth)
    cand = exact.where(F.col("exact_count") >= min_count)
    return cm_probe(cand, counters, width=width, depth=depth)


def countmin_heavy_hitters_sql(
    src: str = "documents",
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
    n: int = CM_NGRAM,
    min_count: int = CM_MIN_COUNT,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB rendering of :func:`countmin_heavy_hitters` — same salt
    family, same counters, same min-of-depth probe."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    parts = " || ' ' || ".join(f"toks[i + {k}]" for k in range(n))

    def cm(r: int, key: str) -> str:
        return MD5_60_SQL.format(x=f"'cm{r}:' || {key}") + f" % {width}"

    col_case = "CASE " + " ".join(
        f"WHEN r = {r} THEN {cm(r, 'shingle')}" for r in range(depth - 1)
    ) + f" ELSE {cm(depth - 1, 'shingle')} END"
    series = f"(SELECT unnest(generate_series(0, {depth - 1})) AS r) _r"
    return f"""
WITH sh AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - {n - 1}),
                               i -> {parts})) AS shingle
  FROM (SELECT {toks} AS toks FROM {src}) _t
),
exact AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS exact_count
  FROM sh GROUP BY shingle
),
counters AS (
  SELECT r, {col_case} AS col, CAST(count(*) AS BIGINT) AS cnt
  FROM sh CROSS JOIN {series}
  GROUP BY r, {col_case}
),
cand AS (SELECT * FROM exact WHERE exact_count >= {min_count}),
probe AS (
  SELECT shingle, exact_count, r, {col_case} AS col
  FROM cand CROSS JOIN {series}
)
SELECT p.shingle, min(c.cnt) AS est_count, p.exact_count
FROM probe p JOIN counters c ON p.r = c.r AND p.col = c.col
GROUP BY p.shingle, p.exact_count
"""


# --- HyperLogLog distinct sketch --------------------------------------------

HLL_DEFAULT_P = 12  # production default: 4096 registers, σ ≈ 1.6%


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constants."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str, p: int = HLL_DEFAULT_P
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate with its measured ground
    truth — completing the sketch family next to KMV (order statistic),
    Bloom (membership) and Count-Min (frequency).

    Why HLL at 10^12 rows when :func:`kmv_distinct` exists: KMV needs a
    DISTINCT pass (an exchange carrying one row per distinct value)
    plus a per-group rank window; HLL is TWO streaming aggregations —
    (group, bucket) → max(rank), then group → integer register sum —
    with map-side combine absorbing duplicates before any exchange, so
    the shuffled bytes are O(groups × 2^p) regardless of cardinality.
    This is the estimator Spark's own approx_count_distinct implements;
    rebuilt here register-by-register so the arithmetic is EXACT and
    the driver's value-hash gate can verify it cross-engine.

    Exactness discipline: the 60-bit md5 hash splits into bucket (low p
    bits) and a (60−p)-bit word w; rank = leading zeros + 1 computed via
    ``length(bin(w))`` (identical unpadded-binary semantics in Spark and
    DuckDB, verified). The harmonic-mean denominator is kept INTEGER —
    Σ 2^(61−p−M_j) plus 2^(61−p) per never-hit register, bounded by
    m·2^(61−p) = 2^61 so it always fits BIGINT — because a float sum of
    powers of two needs > 53 mantissa bits and would round differently
    under different aggregation orders. The estimate is then ONE IEEE
    division of a Python-computed literal (α·m²·2^(61−p), the same
    decimal literal in both engines) by the exact integer sum.

    The graded path is the RAW estimator: HLL's small-range linear-
    counting branch needs ln(m/V), and transcendentals have no cross-
    engine exactness story (the established no-log discipline, see
    source_drift). Raw is the correct branch for n ≳ 2.5·m — callers
    size p so the interesting groups sit there (the contract pins p=5,
    threshold 80, against a 150-distinct fixture); the HLL++ bias-table
    correction is a production knob outside the hash gate.

    ``exact_distinct`` is the measured-ground-truth column (the
    Count-Min ``exact_count`` discipline); production drops that branch
    — it is the expensive thing the sketch exists to avoid.
    """
    est = hll_estimate(hll_registers(df, group_col, value_col, p), group_col, p)
    exact = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count_distinct(F.col(value_col)).alias("exact_distinct"))
    )
    return est.join(exact, group_col)


def hll_registers(
    df: DataFrame, group_col: str, value_col: str, p: int = HLL_DEFAULT_P
) -> DataFrame:
    """THE register computation, shared by batch :func:`hll_distinct`
    and the streaming twin (one definition of bucket/word/rank, so the
    two paths can never de-sync — the tool_pairs discipline). The
    (group, bucket) → max(rank) aggregate is MONOTONE, which is what
    makes HLL trivially streamable: Structured Streaming maintains the
    running max per register across micro-batches with bounded state
    (O(groups × 2^p) rows) and any slicing of the input yields the same
    final register table."""
    m = 1 << p
    h = md5_60(F.concat(F.col(value_col).cast("string"), F.lit(":hll")))
    rows = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col), h.alias("_h")
    )
    # INTEGER division (`div`, not `/`): h has 60 significant bits and a
    # float quotient would round above 2^53, corrupting the word
    w = F.expr(f"_h div {m}")
    rank = (
        F.lit(61 - p)
        - F.when(w > 0, F.length(F.bin(w))).otherwise(F.lit(0))
    ).cast("int")
    return (
        rows.select(group_col, (F.col("_h") % m).alias("_bucket"), rank.alias("_r"))
        .groupBy(group_col, "_bucket")
        .agg(F.max("_r").alias("_m"))
    )


def hll_estimate(regs: DataFrame, group_col: str, p: int = HLL_DEFAULT_P) -> DataFrame:
    """Registers → (group, est_distinct): the exact-integer harmonic sum
    and the single IEEE division (see :func:`hll_distinct`)."""
    m = 1 << p
    alpha_num = _hll_alpha(m) * m * m * float(1 << (61 - p))
    per_group = regs.groupBy(group_col).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {61 - p} - _m)")).alias("_s_hit"),
        F.count(F.lit(1)).alias("_hit"),
    )
    s = F.col("_s_hit") + (F.lit(m) - F.col("_hit")) * F.lit(1 << (61 - p)).cast(
        "long"
    )
    return per_group.select(
        group_col, (F.lit(alpha_num) / s.cast("double")).alias("est_distinct")
    )


def hll_distinct_sql(
    src: str = "events",
    group_col: str = "event_type",
    value_col: str = "user_id",
    p: int = HLL_DEFAULT_P,
) -> str:
    """DuckDB rendering of :func:`hll_distinct` — same integer register
    arithmetic, same embedded α·m²·2^(61−p) literal."""
    m = 1 << p
    alpha_num = _hll_alpha(m) * m * m * float(1 << (61 - p))
    h = MD5_60_SQL.format(x=f"(CAST({value_col} AS VARCHAR) || ':hll')")
    return f"""
WITH hll_rows AS (
  SELECT {group_col}, {h} AS _h FROM {src} WHERE {value_col} IS NOT NULL
),
hll_regs AS (
  SELECT {group_col}, _h % {m} AS _bucket,
         CAST({61 - p} - CASE WHEN _h // {m} > 0
                              THEN length(bin(_h // {m}))
                              ELSE 0 END AS INTEGER) AS _r
  FROM hll_rows
),
hll_max AS (
  SELECT {group_col}, _bucket, max(_r) AS _m
  FROM hll_regs GROUP BY {group_col}, _bucket
),
hll_sum AS (
  SELECT {group_col},
         CAST(sum(CAST(1 AS BIGINT) << ({61 - p} - _m)) AS BIGINT)
           + ({m} - count(*)) * (CAST(1 AS BIGINT) << {61 - p}) AS _s
  FROM hll_max GROUP BY {group_col}
),
hll_exact AS (
  SELECT {group_col}, CAST(count(DISTINCT {value_col}) AS BIGINT)
           AS exact_distinct
  FROM {src} WHERE {value_col} IS NOT NULL GROUP BY {group_col}
)
SELECT e.{group_col}, {alpha_num!r} / CAST(s._s AS DOUBLE) AS est_distinct,
       e.exact_distinct
FROM hll_sum s JOIN hll_exact e ON e.{group_col} = s.{group_col}
"""
