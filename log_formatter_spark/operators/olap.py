"""General OLAP operator surface over the events table: rollup
subtotals, per-group top-k, anti-join cohorts, sliding time-range
windows, and pivot — the remaining query shapes a reference user's
ad-hoc analytics would need, each with an exact DuckDB oracle.

Scale notes per operator live on each function; the common thread is
that every one is a single-exchange plan (grouping sets / window /
anti-join all hash-partition once on their key) with map-side partial
aggregation wherever the aggregate is algebraic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_rollup(ev: DataFrame) -> DataFrame:
    """ROLLUP (event_type, hour): detail rows + per-type subtotals +
    grand total in ONE pass. Spark expands grouping sets before the
    exchange, so partial aggregation still combines map-side — the
    shuffle carries ≤3× the group cardinality, never 3× the data."""
    hour = F.date_trunc("hour", "ts").alias("hour")
    return (
        ev.rollup("event_type", hour)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.grouping_id().alias("gid"),
        )
    )


def events_rollup_sql(src: str = "events") -> str:
    return f"""
SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       CAST(grouping(event_type) * 2 + grouping(date_trunc('hour', ts)) AS BIGINT) AS gid
FROM {src}
GROUP BY ROLLUP (event_type, date_trunc('hour', ts))
"""


def top_users_per_type(ev: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k (rank within partition): the bounded form of
    "hottest users" — state per group is k rows, not a global sort."""
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("event_type", "user_id", "n", "rank")
    )


def top_users_per_type_sql(src: str = "events", k: int = 3) -> str:
    return f"""
SELECT event_type, user_id, n, rank FROM (
  SELECT event_type, user_id, count(*) AS n,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY count(*) DESC, user_id) AS INTEGER) AS rank
  FROM {src} GROUP BY event_type, user_id
) WHERE rank <= {k}
"""


def purchasers_without_clicks(ev: DataFrame) -> DataFrame:
    """Cohort anti-join: users who purchased but never clicked. The
    exclusion set is an aggregated (distinct user) table — at any scale
    it is ≪ the event log, so the anti-join hash-partitions two
    already-shrunk distinct sets, or broadcasts the smaller one."""
    purchasers = (
        ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    return purchasers.join(clickers, on="user_id", how="left_anti")


def purchasers_without_clicks_sql(src: str = "events") -> str:
    # NOT EXISTS, not NOT IN: a single NULL click user_id would make
    # NOT IN return zero rows, where Spark's left_anti (null keys never
    # match) keeps every purchaser — NOT EXISTS has the anti-join's
    # null semantics in both engines
    return f"""
SELECT DISTINCT user_id FROM {src} p WHERE event_type = 'purchase'
  AND NOT EXISTS (SELECT 1 FROM {src} c
                  WHERE c.event_type = 'click' AND c.user_id = p.user_id)
"""


ROLLING_WINDOW_S = 7 * 24 * 3600


def user_rolling_count(ev: DataFrame, window_s: int = ROLLING_WINDOW_S) -> DataFrame:
    """Sliding time-range window: per event, how many events the same
    user produced in the trailing ``window_s`` seconds (inclusive).
    RANGE frames run over integer MICROSECOND epochs — both engines
    order on the exact same int64 (second-granularity epochs would
    truncate differently than DuckDB's fractional epoch()), and peers
    (equal timestamps) group identically. One exchange on user_id;
    frame evaluation is a per-partition sorted scan."""
    # ts is TIMESTAMP_NTZ; with the UTC session timezone the NTZ→LTZ
    # cast is the identity mapping, and unix_micros gives exact int64
    epoch = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_trailing")
    )


def user_rolling_count_sql(src: str = "events", window_s: int = ROLLING_WINDOW_S) -> str:
    return f"""
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN {window_s * 1_000_000} PRECEDING AND CURRENT ROW) AS n_trailing
FROM {src}
"""


QUANTILES = (0.5, 0.9, 0.99)


def value_quantiles(ev: DataFrame, qs: tuple[float, ...] = QUANTILES) -> DataFrame:
    """Exact per-group quantiles of ``value`` by deterministic rank
    arithmetic: q-th quantile = the value at 1-based rank ceil(q·n) in
    the (value, event_id)-sorted group — pure integer index selection,
    so both engines pick the IDENTICAL row (no interpolation, whose
    floating arithmetic differs between engines).

    Scale shape: one exchange on the group key + per-partition sort —
    the same cost class as any per-group ranking. For percentile state
    too hot even for that, Spark's ``percentile_approx`` (t-digest
    sketch) is the production fallback, like HLL beside the KMV sketch
    — it just can't be cross-engine hash-verified, which this can.
    """
    # NULL values are excluded (standard quantile semantics) — also a
    # parity requirement: Spark ranks nulls first, DuckDB last
    ev = ev.where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cw = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    aggs = [
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("value"))
        ).alias(f"p{int(q * 100)}")
        for q in qs
    ]
    return ranked.groupBy("event_type").agg(*aggs)


def value_quantiles_sql(src: str = "events", qs: tuple[float, ...] = QUANTILES) -> str:
    sel = ",\n       ".join(
        f"max(CASE WHEN rn = CAST(ceil({q} * n) AS BIGINT) THEN value END) AS p{int(q * 100)}"
        for q in qs
    )
    return f"""
SELECT event_type, {sel}
FROM (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM {src} WHERE value IS NOT NULL
)
GROUP BY event_type
"""


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: global top-k tokens by document frequency —
    the vocab-building primitive for tokenizer training. Token explode →
    (token, df) aggregation (map-side combinable) → global top-k via
    TakeOrderedAndProject (no full sort materializes)."""
    from log_formatter_spark.functions.text import tokens

    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).distinct()
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return counts.orderBy(F.col("df").desc(), "token").limit(k)


def vocab_topk_sql(src: str = "documents", k: int = 100) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x="text")
    return f"""
SELECT token, count(*) AS df FROM (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest({toks}) AS token FROM {src}
  )
)
GROUP BY token ORDER BY df DESC, token LIMIT {k}
"""


def distinctive_terms(docs: DataFrame, k: int = 3, min_df: int = 1) -> DataFrame:
    """Per-document distinctive terms: top-k tokens by tf/df ratio — the
    tf-idf-style keyword extraction, made cross-engine-exact by ranking
    on ONE IEEE division of exact integer counts (a log-idf weighting
    would hang determinism on libm's ln, which differs by ulps between
    engines; tf/df preserves the same per-document ranking for any
    monotone idf).

    Plan: token explode → (doc, token) tf counts → token df counts
    (map-side combinable, reusing the same exchange family) → join tf
    with df (token-keyed; df table is vocabulary-sized, broadcastable
    at any corpus scale) → per-doc top-k window.
    """
    from log_formatter_spark.functions.text import tokens

    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    scored = tf.join(F.broadcast(df_), on="token").select(
        "doc_id", "token", "tf", "df",
        (F.col("tf").cast("double") / F.col("df").cast("double")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


def distinctive_terms_sql(src: str = "documents", k: int = 3, min_df: int = 1) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x="text")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS token FROM {src}
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (
  SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok)
  GROUP BY token HAVING count(*) >= {min_df}
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
  FROM tf JOIN df USING (token)
)
SELECT doc_id, token, tf, df, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def events_pivot(ev: DataFrame) -> DataFrame:
    """Pivot event_type → columns of per-hour-of-day counts. The pivot
    value list is pinned (EVENT_TYPES) so the plan is static — Spark
    otherwise runs a collect-distinct job to discover columns, which at
    100 TB is a full extra pass."""
    hod = F.hour("ts").alias("hour_of_day")
    out = ev.groupBy(hod).pivot("event_type", EVENT_TYPES).count()
    # count() pivot yields nulls for absent combos; normalize to 0 like
    # the oracle's conditional sums
    return out.select(
        "hour_of_day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


def events_pivot_sql(src: str = "events") -> str:
    # CAST to BIGINT: DuckDB's sum() over integers is HUGEINT, which the
    # driver's typed value-hash sees as float64 vs Spark's int64 (the one
    # red row in CORRECTNESS_r02). hour() likewise renders int64 vs
    # Spark's int32 — same pattern as events_props_json_sql.
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in EVENT_TYPES
    )
    return f"""
SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
       {cols}
FROM {src} GROUP BY hour(ts)
"""


def _bigram_instances(docs: DataFrame, id_col: str | None = None) -> DataFrame:
    """Adjacent-token pairs, one row per bigram instance: arrays_zip of
    the two shifted slices, exploded — map-only. Keeps ``id_col`` when
    given (per-doc scoring) and drops it otherwise (corpus counts)."""
    from log_formatter_spark.functions.text import tokens

    keep = [F.col(id_col)] if id_col else []
    return (
        docs.select(*keep, tokens(F.col("text")).alias("_toks"))
        .select(
            *keep,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(_toks, 1, greatest(size(_toks) - 1, 0))"),
                    F.expr("slice(_toks, 2, greatest(size(_toks) - 1, 0))"),
                )
            ).alias("bg"),
        )
        .select(*keep, F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
    )


def bigram_lm(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Bigram language-model counts with MLE conditional probability:
    ``P(w2|w1) = n(w1,w2) / n(w1,·)`` — the n-gram-statistics primitive
    for corpus analysis (and the first stage of any count-based LM or
    phrase-mining pass).

    Plan: adjacent-pair explode (arrays_zip of the two shifted slices,
    map-only) → (w1, w2) counts (map-side combinable) → context totals
    as a window sum over ``w1`` on the ALREADY-AGGREGATED bigram table
    (vocabulary², not corpus, sized) → one double division. The
    ``min_count`` filter applies after context totals, so probabilities
    stay exact over the full distribution.
    """
    counts = (
        _bigram_instances(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ctx = Window.partitionBy("w1")
    return (
        counts.withColumn("ctx_n", F.sum("n").over(ctx))
        .where(F.col("n") >= min_count)
        .select(
            "w1",
            "w2",
            "n",
            "ctx_n",
            (F.col("n").cast("double") / F.col("ctx_n").cast("double")).alias("prob"),
        )
    )


def bigram_lm_sql(src: str = "documents", min_count: int = 5) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x="text")
    return f"""
WITH t AS (
  SELECT {toks} AS toks FROM {src}
),
pairs AS (
  SELECT unnest(list_zip(toks[:len(toks) - 1], toks[2:])) AS bg FROM t
),
counts AS (
  SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS n
  FROM pairs GROUP BY 1, 2
)
SELECT w1, w2, n, ctx_n,
       CAST(n AS DOUBLE) / CAST(ctx_n AS DOUBLE) AS prob
-- HUGEINT window sum -> pandas float64 unless cast (the events_pivot class)
FROM (SELECT *, CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS ctx_n FROM counts)
WHERE n >= {min_count}
"""


# 2^40 — power-of-two fixed-point scale: prob * 2^40 is an EXACT float
# op (exponent shift), floor is exact, and integer sums are order-free,
# so the per-doc aggregate is bit-identical across engines and
# partitionings without any transcendental in sight.
_LM_FP_SCALE = float(1 << 40)


def doc_lm_score(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document LM quality score: the mean self-trained bigram
    probability ``avg P(w_i | w_{i-1})`` — the CCNet-style "LM filter"
    shape (score docs by how typical their word transitions are for
    the corpus; boilerplate scores high, lorem-noise scores low),
    with the mean replacing the usual avg-log-prob so the score stays
    cross-engine hash-exact: ``ln`` differs by ulps between Spark's
    JVM and DuckDB's libm (measured), while
    fixed-point ``floor(P·2^40)`` integer sums are exact and
    order-free. Monotonicity per transition is preserved; only the
    averaging geometry differs from the log formulation.

    Plan: bigram instances (map-only explode) are counted into the
    vocabulary²-sized prob table (same shape as :func:`bigram_lm`,
    ``min_count=1`` so every observed transition scores), which
    broadcast-joins back onto the instance stream — at 100 TB the
    corpus-sized side never shuffles on the join key; the only wide
    exchanges are the bigram count agg and the per-doc sum. Docs with
    fewer than 2 tokens have no transitions and are excluded (inner
    join), documented. int64 headroom: sum(fp) < 2^63 needs
    < 2^23 ≈ 8M bigrams per doc.

    Returns ``(doc_id, n_bigrams, lm_score)``.
    """
    inst = _bigram_instances(docs, id_col=id_col)
    counts = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    ctx = Window.partitionBy("w1")
    probs = counts.withColumn("ctx_n", F.sum("n").over(ctx)).select(
        "w1",
        "w2",
        (F.col("n").cast("double") / F.col("ctx_n").cast("double")).alias("prob"),
    )
    scored = inst.join(F.broadcast(probs), ["w1", "w2"]).select(
        id_col, F.floor(F.col("prob") * F.lit(_LM_FP_SCALE)).alias("fp")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        (
            (F.sum("fp").cast("double") / F.count(F.lit(1)).cast("double"))
            / F.lit(_LM_FP_SCALE)
        ).alias("lm_score"),
    )


def doc_lm_score_sql(src: str = "documents", id_col: str = "doc_id") -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x="text")
    return f"""
WITH t AS (
  SELECT {id_col}, {toks} AS toks FROM {src}
),
inst AS (
  SELECT {id_col}, bg[1] AS w1, bg[2] AS w2 FROM (
    SELECT {id_col}, unnest(list_zip(toks[:len(toks) - 1], toks[2:])) AS bg FROM t
  )
),
counts AS (
  SELECT w1, w2, count(*) AS n FROM inst GROUP BY 1, 2
),
probs AS (
  SELECT w1, w2, CAST(n AS DOUBLE) /
         CAST(CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS DOUBLE) AS prob
  FROM counts
),
scored AS (
  SELECT i.{id_col}, CAST(floor(p.prob * {_LM_FP_SCALE!r}) AS BIGINT) AS fp
  FROM inst i JOIN probs p ON i.w1 = p.w1 AND i.w2 = p.w2
)
SELECT {id_col}, CAST(count(*) AS INTEGER) AS n_bigrams,
       CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       / {_LM_FP_SCALE!r} AS lm_score
FROM scored GROUP BY {id_col}
"""


def dsir_contrast(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-shaped importance weighting (Xie et al., NeurIPS'23: select
    pre-training data by how target-like it is under cheap n-gram LMs):
    per doc, the mean contrast between the TARGET-domain bigram model
    and the full-corpus SOURCE model over the doc's transitions —
    positive = more target-like than the corpus average, the resampling
    signal ("re-weight the crawl toward wiki-like text").

    Determinism note: DSIR's log-ratio ``log p_t − log p_s`` would hang
    the hash gate on ``ln``'s last-ulp JVM-vs-libm divergence (measured),
    so the contrast here is the probability DIFFERENCE
    ``p_t(w2|w1) − p_s(w2|w1)`` in fixed-point ``floor(Δ·2^40)`` integer
    sums — order-free, bit-exact both engines, same sign semantics per
    transition. The log-ratio form is a one-line swap where
    cross-engine hashing isn't required.

    Plan: two vocabulary²-sized prob tables (target slice / full
    corpus), both BROADCAST back onto the corpus-sized instance stream
    (the doc side never shuffles on the join); transitions unseen in the
    target LM contribute ``0 − p_s`` via the left join's coalesce. Wide
    exchanges: the two count aggs + the per-doc sum — all map-side
    combined. Returns (doc_id, n_bigrams, dsir_score).
    """
    inst = _bigram_instances(docs, id_col=id_col)
    t_inst = _bigram_instances(docs.where(target_pred), id_col=id_col)

    def _probs(i: DataFrame) -> DataFrame:
        c = i.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
        ctx = Window.partitionBy("w1")
        return c.withColumn("ctx_n", F.sum("n").over(ctx)).select(
            "w1",
            "w2",
            (F.col("n").cast("double") / F.col("ctx_n").cast("double")).alias("p"),
        )
    p_s = _probs(inst).withColumnRenamed("p", "p_s")
    p_t = _probs(t_inst).withColumnRenamed("p", "p_t")
    scored = (
        inst.join(F.broadcast(p_s), ["w1", "w2"])
        .join(F.broadcast(p_t), ["w1", "w2"], "left")
        .select(
            id_col,
            F.floor(
                (F.coalesce(F.col("p_t"), F.lit(0.0)) - F.col("p_s"))
                * F.lit(_LM_FP_SCALE)
            ).alias("fp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        (
            (F.sum("fp").cast("double") / F.count(F.lit(1)).cast("double"))
            / F.lit(_LM_FP_SCALE)
        ).alias("dsir_score"),
    )


def dsir_contrast_sql(
    target_pred_sql: str, src: str = "documents", id_col: str = "doc_id"
) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x="text")
    inst = f"""
  SELECT {id_col}, bg[1] AS w1, bg[2] AS w2 FROM (
    SELECT {id_col}, unnest(list_zip(toks[:len(toks) - 1], toks[2:])) AS bg
    FROM (SELECT {id_col}, {toks} AS toks FROM {{rel}})
  )"""
    probs = """
  SELECT w1, w2, CAST(n AS DOUBLE) /
         CAST(CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS DOUBLE) AS p
  FROM (SELECT w1, w2, count(*) AS n FROM {inst} GROUP BY 1, 2)"""
    return f"""
WITH inst AS ({inst.format(rel=src)}),
t_inst AS ({inst.format(rel=f'(SELECT * FROM {src} WHERE {target_pred_sql}) _t')}),
p_s AS ({probs.format(inst='inst')}),
p_t AS ({probs.format(inst='t_inst')}),
scored AS (
  SELECT i.{id_col},
         CAST(floor((COALESCE(t.p, 0.0) - s.p) * {_LM_FP_SCALE!r}) AS BIGINT) AS fp
  FROM inst i
  JOIN p_s s ON i.w1 = s.w1 AND i.w2 = s.w2
  LEFT JOIN p_t t ON i.w1 = t.w1 AND i.w2 = t.w2
)
SELECT {id_col}, CAST(count(*) AS INTEGER) AS n_bigrams,
       CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       / {_LM_FP_SCALE!r} AS dsir_score
FROM scored GROUP BY {id_col}
"""


# --- error-burst detection ---------------------------------------------------

BURST_TRAIL_HOURS = 24
_HOUR_US = 3_600_000_000


def error_burst(
    transcripts: DataFrame,
    pattern: str,
    level: str = "ERROR",
    trail_hours: int = BURST_TRAIL_HOURS,
) -> DataFrame:
    """Hourly error-burst detection — the log-monitoring query the
    reference's prometheus counters exist to feed (agent/connector/
    queue.go:30-39 exposes per-gate counts; alerting on them is left to
    the scrape side): per hour, the count of ``level`` turns vs the
    trailing ``trail_hours`` baseline, as an exact ratio.

    burst_ratio = n_errors × trailing_hours / trailing_errors — the
    current hour vs the mean of the trailing window, computed as one
    integer product and ONE IEEE division so both engines agree
    bit-exactly. NULL when the trailing window is empty or error-free
    (first hours / cold systems), by construction rather than ±inf.
    Hours with zero errors produce no row (they can't burst); they are
    likewise absent from the baseline — the ratio is against the mean
    of *active* trailing hours, stated here because RANGE frames skip
    gaps silently.

    Scale shape: the window is GLOBAL (no partition key) on purpose —
    it runs over the hourly aggregate, whose row count is bounded by
    calendar time (~9 k rows/year), not by data size; the heavy
    input-sized work is the map-side-combined groupBy(hour) before it
    (the bigram_lm vocabulary² argument). RANGE frames run over exact
    int64 µs epochs, excluding the current hour
    (``-trail_hours·1h .. -1h``).
    """
    from log_formatter_spark.operators.parser import _to_java_regex

    jpat = _to_java_regex(pattern)
    hourly = (
        transcripts.where(F.regexp_extract(F.col("text"), jpat, 2) == level)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    epoch = F.unix_micros(F.col("hour").cast("timestamp_ltz"))
    w = Window.orderBy(epoch).rangeBetween(-trail_hours * _HOUR_US, -_HOUR_US)
    base = hourly.select(
        "hour",
        "n_errors",
        F.coalesce(F.sum("n_errors").over(w), F.lit(0)).alias("trailing_errors"),
        F.count(F.lit(1)).over(w).alias("trailing_hours"),
    )
    return base.select(
        "hour",
        "n_errors",
        "trailing_errors",
        "trailing_hours",
        F.when(
            F.col("trailing_errors") > 0,
            (F.col("n_errors") * F.col("trailing_hours")).cast("double")
            / F.col("trailing_errors").cast("double"),
        ).alias("burst_ratio"),
    )


def error_burst_sql(
    pattern: str,
    transcripts_cte: str = "transcripts",
    level: str = "ERROR",
    trail_hours: int = BURST_TRAIL_HOURS,
) -> str:
    lo, hi = trail_hours * _HOUR_US, _HOUR_US
    return f"""
SELECT hour, n_errors, trailing_errors, trailing_hours,
       CASE WHEN trailing_errors > 0
            THEN CAST(n_errors * trailing_hours AS DOUBLE) / CAST(trailing_errors AS DOUBLE)
       END AS burst_ratio
FROM (
  SELECT hour, n_errors,
         coalesce(CAST(sum(n_errors) OVER w AS BIGINT), 0) AS trailing_errors,
         count(*) OVER w AS trailing_hours
  FROM (
    SELECT date_trunc('hour', ts) AS hour, count(*) AS n_errors
    FROM {transcripts_cte}
    WHERE regexp_extract(text, '{pattern}', 2) = '{level}'
    GROUP BY date_trunc('hour', ts)
  )
  WINDOW w AS (ORDER BY epoch_us(hour)
               RANGE BETWEEN {lo} PRECEDING AND {hi} PRECEDING)
)
"""


# --- ordered conversion funnel -------------------------------------------------

FUNNEL_EVENT_STAGES = ("signup", "view", "click", "purchase")


def event_funnel(
    ev: DataFrame,
    stages: tuple[str, ...] = FUNNEL_EVENT_STAGES,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """ORDERED conversion funnel — the log-analytics staple the events
    table exists for: how many users reach each stage IN SEQUENCE
    (stage k counts a user iff a stage-k event exists at-or-after their
    first qualifying stage-(k-1) event; an out-of-order click before
    any view does not convert). Output one row per stage plus the
    ``all_users`` base: ``(stage_idx, stage, n_users)``.

    Plan: ONE exchange on the user key serves every stage — the first
    qualifying timestamp of stage k is a conditional ``min`` window over
    the user partition referencing stage k-1's column, so the chain of
    |stages| windows shares a single Sort+Exchange (same partitioning,
    same ordering — Catalyst collapses them into one Window node
    stack); the final per-user row collapses via groupBy(user) on the
    same key and the stage counts are one driver-sized aggregate
    unpivoted with ``stack``. At 10^12 events: one shuffle, no joins,
    no skew surface beyond the hottest single user.

    NULL user_id/ts rows are excluded up front (a NULL user is not a
    funnel subject; NULL event times cannot order — and Spark/DuckDB
    disagree on NULL ordering, the contract null rule).
    """
    base = ev.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(user_col), F.col(ts_col), F.col(type_col))
    w = Window.partitionBy(user_col)
    cur = base
    prev_col = None
    for i, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev_col is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev_col))
        cur = cur.withColumn(
            f"_s{i}", F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev_col = f"_s{i}"
    per_user = cur.groupBy(user_col).agg(
        *[F.min(f"_s{i}").alias(f"_s{i}") for i in range(len(stages))]
    )
    counts = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("_all"),
        *[
            F.count(f"_s{i}").cast("bigint").alias(f"_c{i}")
            for i in range(len(stages))
        ],
    )
    stack_args = ["0", "'all_users'", "_all"]
    for i, stage in enumerate(stages):
        stack_args += [str(i + 1), f"'{stage}'", f"_c{i}"]
    return counts.select(
        F.expr(
            f"stack({len(stages) + 1}, {', '.join(stack_args)}) "
            "AS (stage_idx, stage, n_users)"
        )
    )


def event_funnel_sql(
    src: str = "events",
    stages: tuple[str, ...] = FUNNEL_EVENT_STAGES,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """DuckDB rendering of :func:`event_funnel` — same chained
    conditional-min windows, same sequenced >= rule."""
    sel = [user_col, ts_col, type_col]
    layers = [
        f"SELECT {', '.join(sel)} FROM {src} "
        f"WHERE {user_col} IS NOT NULL AND {ts_col} IS NOT NULL"
    ]
    for i, stage in enumerate(stages):
        cond = f"{type_col} = '{stage}'"
        if i > 0:
            cond += f" AND {ts_col} >= _s{i - 1}"
        sel = sel + [f"_s{i}"]
        layers.append(
            f"SELECT *, min(CASE WHEN {cond} THEN {ts_col} END) "
            f"OVER (PARTITION BY {user_col}) AS _s{i} FROM ({layers[-1]}) _l{i}"
        )
    per_user = (
        f"SELECT {user_col}, "
        + ", ".join(f"min(_s{i}) AS _s{i}" for i in range(len(stages)))
        + f" FROM ({layers[-1]}) _f GROUP BY {user_col}"
    )
    rows = [
        "SELECT 0 AS stage_idx, 'all_users' AS stage, "
        "CAST(count(*) AS BIGINT) AS n_users FROM pu"
    ]
    for i, stage in enumerate(stages):
        rows.append(
            f"SELECT {i + 1} AS stage_idx, '{stage}' AS stage, "
            f"CAST(count(_s{i}) AS BIGINT) AS n_users FROM pu"
        )
    return f"WITH pu AS ({per_user})\n" + "\nUNION ALL\n".join(rows)


def cohort_retention(
    ev: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention — the second log-analytics staple next to
    :func:`event_funnel`: users cohorted by the week of their FIRST
    event, counted once per calendar week they were active. Output
    ``(cohort_week, weeks_since, n_users)`` — the retention triangle a
    product dashboard plots (weeks_since=0 is the cohort size; each
    later cell is that cohort's survivors).

    Plan: ONE user-key aggregation collects each user's distinct active
    weeks as a sorted array (collect_set partials combine map-side, so
    10^12 events collapse to one row per user carrying at most
    weeks-of-history elements — bounded by the calendar, not the event
    count); cohort week = the array's first element, weeks explode
    map-only, and the triangle is one cohort-sized groupBy. A
    distinct-then-window formulation costs a second user-key exchange
    because distinct hashes on (user, week) while the window hashes on
    user alone — measured 3 exchanges vs this plan's 2 (plan-pinned).
    weeks_since is an exact-integer division (both weeks are
    Monday-truncated, so the day delta is always a multiple of 7 — the
    cast is safe under the truncate-vs-round cast divergence rule).

    NULL user/ts rows are excluded up front (not cohort subjects; the
    cross-engine NULL-ordering rule)."""
    wk = F.date_trunc("week", F.col(ts_col)).cast("timestamp_ntz")
    per_user = (
        ev.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col), wk.alias("week"))
        .groupBy(user_col)
        .agg(F.array_sort(F.collect_set("week")).alias("weeks"))
    )
    exploded = per_user.select(
        F.element_at("weeks", 1).alias("cohort_week"),
        F.explode("weeks").alias("week"),
    )
    weeks_since = (
        F.datediff(F.col("week"), F.col("cohort_week")) / F.lit(7)
    ).cast("int")
    return exploded.groupBy(
        F.col("cohort_week"), weeks_since.alias("weeks_since")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


def cohort_retention_sql(
    src: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB rendering of :func:`cohort_retention` — same Monday
    truncation, same exact-multiple-of-7 division."""
    return f"""
WITH act AS (
  SELECT DISTINCT {user_col}, date_trunc('week', {ts_col}) AS week
  FROM {src}
  WHERE {user_col} IS NOT NULL AND {ts_col} IS NOT NULL
),
c AS (
  SELECT {user_col}, week,
         min(week) OVER (PARTITION BY {user_col}) AS cohort_week
  FROM act
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER) AS weeks_since,
       CAST(count(*) AS BIGINT) AS n_users
FROM c GROUP BY cohort_week, weeks_since
"""


RATE_Z2 = 9  # squared z threshold: flag buckets beyond 3 sigma


def rate_anomaly(
    t: DataFrame,
    z2: int = RATE_Z2,
    key_col: str = "tool",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-(key, hour) traffic-rate anomaly scoring with EXACT integer
    statistics — the volume monitor a telemetry pipeline alerts on (a
    tool whose hourly call count jumps k sigma off its own baseline).

    For each key with hourly counts c over n buckets, S = Σc and
    Q = Σc²: the squared z-score is (cn − S)²/(nQ − S²) (population
    variance, denominators cancelled), and the flag is the exact
    integer comparison ``(cn − S)² > z²·(nQ − S²)`` — no float enters
    the DECISION, so Spark and DuckDB flag identically; only the
    reported ``dev_score`` performs one IEEE division on exact
    operands (the source_drift discipline). Products are widened to
    decimal(38,0) (HUGEINT in the oracle): c·n and its square wrap
    int64 beyond ~10⁵ buckets of 10⁹ rows, well inside this type.

    Plan: one map-side-combined (key, hour) aggregate is the only
    row-scale work; the per-key moment windows run on the aggregated
    key×hours-sized frame, partitioned by key (never unpartitioned —
    the BroadcastNestedLoopJoin constant-fold trap). A constant-count
    key has zero variance → NULL score, never flagged; a single-bucket
    key likewise (cn − S ≡ 0).

    Output: (key, hour, n_turns, dev_score, is_anomaly) for EVERY
    bucket — the full scored series, not just the alerts, so the
    contract hashes the arithmetic everywhere.
    """
    dec = "decimal(38,0)"
    b = (
        t.where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_turns"))
    )
    w = Window.partitionBy("key")
    c = F.col("n_turns").cast(dec)
    st = b.select(
        "key",
        "hour",
        "n_turns",
        F.count(F.lit(1)).over(w).cast(dec).alias("_n"),
        F.sum(c).over(w).alias("_s"),
        F.sum(c * c).over(w).alias("_q"),
    )
    d = F.col("n_turns").cast(dec) * F.col("_n") - F.col("_s")
    lhs = d * d
    rhs = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
    return st.select(
        "key",
        "hour",
        "n_turns",
        F.when(rhs > 0, lhs.cast("double") / rhs.cast("double")).alias(
            "dev_score"
        ),
        F.when(rhs > 0, lhs > F.lit(z2).cast(dec) * rhs)
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def rate_anomaly_sql(
    transcripts_cte: str = "transcripts",
    z2: int = RATE_Z2,
    key_col: str = "tool",
    ts_col: str = "ts",
) -> str:
    """DuckDB rendering of :func:`rate_anomaly` — HUGEINT plays
    decimal(38,0), same exact-integer flag, same single division."""
    return f"""
SELECT key, hour, n_turns,
       CASE WHEN rhs > 0 THEN CAST(lhs AS DOUBLE) / CAST(rhs AS DOUBLE) END
         AS dev_score,
       CASE WHEN rhs > 0 THEN lhs > {z2} * rhs ELSE FALSE END AS is_anomaly
FROM (
  SELECT key, hour, n_turns,
         (CAST(n_turns AS HUGEINT) * _n - _s)
           * (CAST(n_turns AS HUGEINT) * _n - _s) AS lhs,
         _n * _q - _s * _s AS rhs
  FROM (
    SELECT key, hour, n_turns,
           CAST(count(*) OVER w AS HUGEINT) AS _n,
           sum(CAST(n_turns AS HUGEINT)) OVER w AS _s,
           sum(CAST(n_turns AS HUGEINT) * CAST(n_turns AS HUGEINT)) OVER w
             AS _q
    FROM (
      SELECT {key_col} AS key, date_trunc('hour', {ts_col}) AS hour,
             CAST(count(*) AS BIGINT) AS n_turns
      FROM {transcripts_cte}
      WHERE {key_col} IS NOT NULL AND {ts_col} IS NOT NULL
      GROUP BY {key_col}, date_trunc('hour', {ts_col})
    )
    WINDOW w AS (PARTITION BY key)
  )
)
"""


PMI_TOP_K = 100
PMI_MIN_COUNT = 5


def term_pmi(
    docs: DataFrame, k: int = PMI_TOP_K, min_count: int = PMI_MIN_COUNT
) -> DataFrame:
    """Top-k collocations by PMI lift — the phrase-mining staple
    (Church & Hanks 1990) for corpus exploration and tokenizer/vocab
    curation: word pairs that co-occur far above chance.

    Probabilities come from BIGRAM MARGINALS (c_x = Σ_y c_xy,
    c_y = Σ_x c_xy, N = Σ c_xy), the standard simplification that
    needs NO unigram table and therefore NO joins: both marginals are
    window sums over the already-aggregated bigram frame (vocab²-
    bounded, not corpus-sized), partitioned by w1 / w2. lift =
    c_xy·N/(c_x·c_y); since N is a positive constant, ranking by the
    N-free ratio c_xy/(c_x·c_y) yields the identical order — so top-k
    selects BEFORE N is known, and the 1-row N total then attaches to
    the k-row result by union + unpartitioned window over k+1 rows
    (the key_skew_report pattern; a join would constant-fold into the
    banned BroadcastNestedLoopJoin).

    Every product is exact decimal(38,0) (HUGEINT in the oracle); the
    two divisions are single IEEE ops on exact operands, so both
    engines produce bit-identical doubles and therefore the identical
    top-k; residual double ties break on (w1, w2). ``min_count``
    suppresses the hapax pairs whose lift is pure noise (PMI's known
    low-frequency bias). No log is taken — log2 is monotone, so lift
    ranks identically to PMI and stays transcendental-free (the
    distinctive_terms discipline).
    """
    counts = (
        _bigram_instances(docs).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_xy")
        )
    )
    dec = "decimal(38,0)"
    m = counts.withColumn(
        "n_x", F.sum("n_xy").over(Window.partitionBy("w1"))
    ).withColumn("n_y", F.sum("n_xy").over(Window.partitionBy("w2")))
    ratio = F.col("n_xy").cast(dec).cast("double") / (
        F.col("n_x").cast(dec) * F.col("n_y").cast(dec)
    ).cast("double")
    top = (
        m.where(F.col("n_xy") >= min_count)
        .withColumn("_r", ratio)
        .orderBy(F.desc("_r"), "w1", "w2")
        .limit(k)
    )
    tot = counts.agg(F.sum("n_xy").alias("_n_all")).select(
        F.lit(None).cast("string").alias("w1"),
        F.lit(None).cast("string").alias("w2"),
        F.lit(None).cast("bigint").alias("n_xy"),
        F.lit(None).cast("bigint").alias("n_x"),
        F.lit(None).cast("bigint").alias("n_y"),
        F.lit(None).cast("double").alias("_r"),
        "_n_all",
    )
    u = top.withColumn("_n_all", F.lit(None).cast("bigint")).unionByName(tot)
    attached = u.withColumn(
        "n_all", F.max("_n_all").over(Window.partitionBy())
    ).where(F.col("w1").isNotNull())
    lift = (F.col("n_xy").cast(dec) * F.col("n_all").cast(dec)).cast(
        "double"
    ) / (F.col("n_x").cast(dec) * F.col("n_y").cast(dec)).cast("double")
    return attached.select("w1", "w2", "n_xy", "n_x", "n_y", lift.alias("lift"))


def term_pmi_sql(
    src: str = "documents", k: int = PMI_TOP_K, min_count: int = PMI_MIN_COUNT
) -> str:
    """DuckDB rendering of :func:`term_pmi` — same marginals, same
    N-free ranking, HUGEINT products, one division per output."""
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x="text")
    return f"""
WITH pmi_counts AS (
  SELECT bg[1] AS w1, bg[2] AS w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM (
    SELECT unnest(list_zip(toks[:len(toks) - 1], toks[2:])) AS bg
    FROM (SELECT {toks} AS toks FROM {src})
  )
  GROUP BY 1, 2
)
SELECT w1, w2, n_xy, n_x, n_y,
       CAST(CAST(n_xy AS HUGEINT) * CAST(n_all AS HUGEINT) AS DOUBLE)
         / CAST(CAST(n_x AS HUGEINT) * CAST(n_y AS HUGEINT) AS DOUBLE)
         AS lift
FROM (
  SELECT w1, w2, n_xy, n_x, n_y,
         CAST(n_xy AS DOUBLE)
           / CAST(CAST(n_x AS HUGEINT) * CAST(n_y AS HUGEINT) AS DOUBLE)
           AS _r
  FROM (
    SELECT w1, w2, n_xy,
           CAST(sum(n_xy) OVER (PARTITION BY w1) AS BIGINT) AS n_x,
           CAST(sum(n_xy) OVER (PARTITION BY w2) AS BIGINT) AS n_y
    FROM pmi_counts
  )
  WHERE n_xy >= {min_count}
  ORDER BY _r DESC, w1, w2 LIMIT {k}
) t, (
  SELECT CAST(sum(n_xy) AS BIGINT) AS n_all FROM pmi_counts
) g
"""


STREAK_MIN_LEN = 2


def error_streaks(
    t: DataFrame, pattern: str, min_len: int = STREAK_MIN_LEN
) -> DataFrame:
    """Maximal runs of consecutive ERROR-level turns per conversation —
    the gaps-and-islands classic, applied to the failure-cascade signal
    an agent-ops pipeline pages on (one error is noise; four in a row
    is an incident). ``error_burst`` counts errors per calendar window;
    this finds *contiguity* in turn order, which a time window cannot
    express.

    Island detection: among a conversation's error turns ordered by
    ``turn_idx``, the key ``turn_idx - row_number()`` is constant
    exactly within each consecutive run. The level comes from the same
    regex extraction both engines run (a malformed line extracts no
    level and cannot join a streak).

    Plan: the ERROR filter applies BEFORE the conversation exchange,
    so only error rows shuffle (at healthy 10¹²-turn corpora that is
    a tiny fraction); the run aggregate groups on (conv_id, island) —
    hash(conv_id) partitioning already clusters it, so Catalyst plans
    NO second exchange (pinned in tests). Output:
    ``(conv_id, start_turn, end_turn, streak_len)`` for runs ≥
    ``min_len``.
    """
    from log_formatter_spark.operators.parser import _to_java_regex

    lvl = F.regexp_extract(F.col("text"), _to_java_regex(pattern), 2)
    err = t.where(lvl == "ERROR").select("conv_id", "turn_idx")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    isl = err.withColumn("_isl", F.col("turn_idx") - F.row_number().over(w))
    return (
        isl.groupBy("conv_id", "_isl")
        .agg(
            F.min("turn_idx").alias("start_turn"),
            F.max("turn_idx").alias("end_turn"),
            F.count(F.lit(1)).cast("bigint").alias("streak_len"),
        )
        .where(F.col("streak_len") >= min_len)
        .select("conv_id", "start_turn", "end_turn", "streak_len")
    )


def error_streaks_sql(
    parsed_cte: str = "parsed", min_len: int = STREAK_MIN_LEN
) -> str:
    """DuckDB rendering of :func:`error_streaks` over the shared parsed
    CTE (same island key, same strict level equality)."""
    return f"""
SELECT conv_id, start_turn, end_turn, streak_len FROM (
  SELECT conv_id,
         min(turn_idx) AS start_turn,
         max(turn_idx) AS end_turn,
         CAST(count(*) AS BIGINT) AS streak_len
  FROM (
    SELECT conv_id, turn_idx,
           turn_idx - row_number() OVER (
             PARTITION BY conv_id ORDER BY turn_idx) AS _isl
    FROM {parsed_cte} WHERE level = 'ERROR'
  )
  GROUP BY conv_id, _isl
) WHERE streak_len >= {min_len}
"""


QS_RATE_BITS = 20  # sampling threshold granularity: coin in [0, 2^20)
QS_RATE = 1.0 / 16
QS_QUANTILES = (0.5, 0.9, 0.99)


def quantile_sample_error(
    ev: DataFrame,
    qs: tuple[float, ...] = QS_QUANTILES,
    rate: float = QS_RATE,
) -> DataFrame:
    """Sampled quantile estimation WITH its measured rank error — the
    sketch-validation harness for order statistics: run the cheap
    estimator and the exact baseline side by side, report the error,
    let the pipeline decide when the sample suffices. Unlike ``percentile_approx`` (t-digest, not
    reproducible cross-engine), the estimator here is a DETERMINISTIC
    md5-coin Bernoulli sample + the same rank-select both engines run
    — so the whole report is hash-exact, sample included.

    Per (event_type, q): the exact value at rank ceil(q·n); the
    estimate at rank ceil(q·m) within the hash sample (m = sample
    size); and the estimate's TRUE rank error in ppm — the selected
    sample row's full-data row_number against q·10⁶. The coin is md5
    of event_id (the hash_sample stability discipline: membership
    never changes as other rows arrive).

    Plan: the exact rank, the sample rank (a conditional running sum),
    n and m all ride ONE (event_type)-partitioned sort — a single
    exchange; the per-q selection is one aggregate + a stack unpivot.
    Scale story: when a group is too hot to sort in full, the sample's
    sort is rate× smaller and this report states exactly what that
    costs in rank accuracy.
    """
    from log_formatter_spark.functions.hashing import md5_60

    thresh = int(rate * (1 << QS_RATE_BITS))
    ev = ev.where(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cw = Window.partitionBy("event_type")
    flag = (
        F.pmod(md5_60(F.col("event_id").cast("string")), F.lit(1 << QS_RATE_BITS))
        < F.lit(thresh)
    ).cast("bigint")
    ranked = ev.select(
        "event_type",
        "value",
        flag.alias("_in"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
        F.sum(flag).over(w).alias("srn"),
        F.sum(flag).over(cw).alias("m"),
    )
    aggs = []
    for q in qs:
        tag = int(q * 1_000_000)
        exact_pick = F.col("rn") == F.ceil(F.lit(q) * F.col("n"))
        samp_pick = (F.col("_in") == 1) & (
            F.col("srn") == F.ceil(F.lit(q) * F.col("m"))
        )
        aggs += [
            F.max(F.when(exact_pick, F.col("value"))).alias(f"_ex{tag}"),
            F.max(F.when(samp_pick, F.col("value"))).alias(f"_ap{tag}"),
            F.max(F.when(samp_pick, F.col("rn"))).alias(f"_ar{tag}"),
        ]
    g = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"), F.max("m").alias("m"), *aggs
    )
    stack_args = []
    for q in qs:
        tag = int(q * 1_000_000)
        # row_number() is 32-bit: the 100x sweep caught _ar * 10^6
        # overflowing int under ANSI — widen BEFORE the multiply
        err = f"abs(cast(_ar{tag} as bigint) * 1000000 div n - {tag})"
        stack_args += [str(tag), f"_ex{tag}", f"_ap{tag}", err]
    stacked = g.select(
        "event_type",
        "n",
        "m",
        F.expr(
            f"stack({len(qs)}, {', '.join(stack_args)}) "
            "AS (q_ppm, exact_value, approx_value, err_ppm)"
        ),
    )
    return stacked.select(
        "event_type", "q_ppm", "n", "m", "exact_value", "approx_value", "err_ppm"
    )


def quantile_sample_error_sql(
    src: str = "events",
    qs: tuple[float, ...] = QS_QUANTILES,
    rate: float = QS_RATE,
) -> str:
    """DuckDB rendering of :func:`quantile_sample_error` — same coin,
    same shared sort, same rank arithmetic."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    thresh = int(rate * (1 << QS_RATE_BITS))
    coin = MD5_60_SQL.format(x="CAST(event_id AS VARCHAR)")
    rows = []
    for q in qs:
        tag = int(q * 1_000_000)
        rows.append(
            f"SELECT event_type, {tag} AS q_ppm, n, m, "
            f"max(CASE WHEN rn = CAST(ceil({q} * n) AS BIGINT) THEN value END) "
            "AS exact_value, "
            f"max(CASE WHEN _in = 1 AND srn = CAST(ceil({q} * m) AS BIGINT) "
            "THEN value END) AS approx_value, "
            f"abs(max(CASE WHEN _in = 1 AND srn = CAST(ceil({q} * m) AS BIGINT) "
            f"THEN rn END) * 1000000 // n - {tag}) AS err_ppm "
            "FROM ranked GROUP BY event_type, n, m"
        )
    return f"""
WITH base AS (
  SELECT event_type, value, event_id,
         CASE WHEN (({coin}) % {1 << QS_RATE_BITS} + {1 << QS_RATE_BITS})
                   % {1 << QS_RATE_BITS} < {thresh}
              THEN 1 ELSE 0 END AS _in
  FROM {src} WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, value, _in,
         row_number() OVER w AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(sum(_in) OVER w AS BIGINT) AS srn,
         CAST(sum(_in) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
)
""" + "\nUNION ALL\n".join(rows)
