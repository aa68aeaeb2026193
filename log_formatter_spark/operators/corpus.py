"""Composite corpus-cleaning operator — the end-to-end training-data
use-case: combine quality scoring, exact dedup, language ID and token
bounds into a per-document keep/drop decision with an audit reason.

Single-pass plan (round-2 rewrite): quality, language and token-count
columns are map-only projections of the same (doc_id, text) scan, so
they are computed in ONE select alongside the dedup group key; the only
shuffle is the dedup window over group_key, which already carries the
finished per-doc columns — 1 scan, 1 exchange, 0 joins (pinned in
tests/test_plans.py). The round-1 version computed four DataFrames and
equality-joined them on doc_id: 4 scans + 3 shuffled joins, all of
which carried the whole corpus at scale. The ``reason`` column is the
first failing rule in a fixed order — deterministic and auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from log_formatter_spark.functions.text import (
    BPE_TOKEN_RE,
    LANG_STOPWORDS,
    STOPWORDS,
    _LANG_ORDER,
    _stop_hits,
    lang_id_sql,
    lang_pred_expr,
    quality_expr,
    text_stats_sql,
    token_count_sql,
    tok_chars_expr,
    tokens,
)
from log_formatter_spark.operators.dedup import exact_dedup_sql, norm_text_expr

MIN_QUALITY = 0.5
MIN_TOKENS = 20
MAX_TOKENS = 10_000
KEEP_LANGS = ("en", "und")


def corpus_filter(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, keep, reason, quality_score, lang_pred, n_bpe_tokens)."""
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("_n_tokens"),
        tok_chars_expr(toks).alias("_tok_chars"),
        _stop_hits(toks, STOPWORDS).alias("_n_stop"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE), F.lit(0))
        ).alias("n_bpe_tokens"),
        *[
            _stop_hits(toks, LANG_STOPWORDS[lang]).alias(f"_h_{lang}")
            for lang in _LANG_ORDER
        ],
        F.md5(norm_text_expr(text_col)).alias("_group_key"),
    )
    scores = {lang: F.col(f"_h_{lang}") / F.col("_n_tokens") for lang in _LANG_ORDER}
    derived = base.select(
        id_col,
        "_group_key",
        quality_expr(F.col("_n_tokens"), F.col("_tok_chars"), F.col("_n_stop")).alias(
            "quality_score"
        ),
        lang_pred_expr(scores).alias("lang_pred"),
        "n_bpe_tokens",
    )
    w = Window.partitionBy("_group_key").orderBy(id_col)
    j = derived.withColumn("is_dup", F.row_number().over(w) > F.lit(1))
    lang_ok = F.col("lang_pred").isin(*KEEP_LANGS)
    reason = (
        F.when(F.col("is_dup"), "duplicate")
        .when(~lang_ok, "language")
        .when(F.col("n_bpe_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("n_bpe_tokens") > MAX_TOKENS, "too_long")
        .when(F.col("quality_score") < MIN_QUALITY, "low_quality")
        .otherwise("kept")
    )
    return j.select(
        id_col,
        (reason == "kept").alias("keep"),
        reason.alias("reason"),
        "quality_score",
        "lang_pred",
        "n_bpe_tokens",
    )


def corpus_filter_sql(src: str = "documents", id_col: str = "doc_id") -> str:
    langs = ", ".join(f"'{l}'" for l in KEEP_LANGS)
    return f"""
WITH stats AS ({text_stats_sql(src)}),
dups AS ({exact_dedup_sql(src)}),
langs AS ({lang_id_sql(src)}),
toks AS ({token_count_sql(src)}),
j AS (
  SELECT stats.{id_col}, stats.quality_score, dups.is_dup, langs.lang_pred,
         toks.n_bpe_tokens
  FROM stats
  JOIN dups USING ({id_col})
  JOIN langs USING ({id_col})
  JOIN toks USING ({id_col})
),
decided AS (
  SELECT *, CASE
    WHEN is_dup THEN 'duplicate'
    WHEN lang_pred NOT IN ({langs}) THEN 'language'
    WHEN n_bpe_tokens < {MIN_TOKENS} THEN 'too_short'
    WHEN n_bpe_tokens > {MAX_TOKENS} THEN 'too_long'
    WHEN quality_score < {MIN_QUALITY} THEN 'low_quality'
    ELSE 'kept' END AS reason
  FROM j
)
SELECT {id_col}, reason = 'kept' AS keep, reason, quality_score, lang_pred,
       n_bpe_tokens
FROM decided
"""


# --- split contamination + source profile ---------------------------------


def split_contamination(
    docs: DataFrame,
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval contamination audit: near-dup pairs that CROSS the
    dataset split — the eval-integrity check every training pipeline
    needs (a test doc near-duplicating a train doc silently inflates
    eval scores). ``pairs`` is any pair-emitting dedup output;
    ``splits`` is the deterministic hash split (contract._dataset_split
    shape: id, split).

    Plan: two equality joins of the (tiny relative to the corpus) pair
    table against the split assignment — the split side is a map-only
    projection of the doc scan, so at scale both joins broadcast the
    pair table or hash-join on ids; never a corpus×corpus product.
    Output keeps only cross-split pairs, labeled (train_doc, eval_doc).
    """
    sa = splits.select(F.col(id_col).alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col(id_col).alias("doc_b"), F.col("split").alias("split_b"))
    # contamination = a TRAIN doc near-duplicating an eval doc; exactly
    # one side must be 'train' (a val↔test pair is a split-design
    # question, not training contamination — excluded, not mislabeled)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where((F.col("split_a") == "train") != (F.col("split_b") == "train"))
        .select(
            F.when(F.col("split_a") == "train", F.col("doc_a")).otherwise(F.col("doc_b")).alias("train_doc"),
            F.when(F.col("split_a") == "train", F.col("doc_b")).otherwise(F.col("doc_a")).alias("eval_doc"),
            F.when(F.col("split_a") == "train", F.col("split_b")).otherwise(F.col("split_a")).alias("eval_split"),
        )
    )


def split_contamination_sql(pairs_cte: str, splits_cte: str) -> str:
    return f"""
WITH pairs AS ({pairs_cte}),
splits AS ({splits_cte}),
crossed AS (
  SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
  FROM pairs p
  JOIN splits a ON p.doc_a = a.doc_id
  JOIN splits b ON p.doc_b = b.doc_id
  WHERE (a.split = 'train') <> (b.split = 'train')
)
SELECT CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS train_doc,
       CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS eval_doc,
       CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS eval_split
FROM crossed
"""


def split_assign(key: Column, train_pct: int = 80, val_pct: int = 90):
    """THE deterministic hash-split rule — ``pmod(md5_60(key ||
    ':split'), 100)`` with ``< train_pct`` train / ``< val_pct`` val —
    defined ONCE and shared by the per-doc split (contract
    ``_dataset_split``) and :func:`cluster_split`, so the refinement
    property (a singleton cluster keeps its per-doc assignment) is
    guaranteed by construction, not by four hand-synced renderings.
    Returns ``(bucket, split)`` columns."""
    from log_formatter_spark.functions.hashing import md5_60

    bucket = F.pmod(
        md5_60(F.concat(key.cast("string"), F.lit(":split"))), F.lit(100)
    )
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < val_pct, "val")
        .otherwise("test")
    )
    return bucket.cast("int"), split


def split_assign_sql(key_sql: str, train_pct: int = 80, val_pct: int = 90):
    """SQL twin of :func:`split_assign`: returns ``(bucket_expr,
    case_expr_over_b)`` — the caller aliases the bucket expression as
    ``b`` in an inner SELECT and applies the CASE outside."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    b = MD5_60_SQL.format(x=f"(CAST({key_sql} AS VARCHAR) || ':split')") + " % 100"
    case = (
        f"CASE WHEN b < {train_pct} THEN 'train' "
        f"WHEN b < {val_pct} THEN 'val' ELSE 'test' END"
    )
    return b, case


def cluster_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 90,
) -> DataFrame:
    """Leakage-SAFE dataset split: assign train/val/test at dup-CLUSTER
    granularity, so a document and its near-duplicates land in the same
    split by construction. :func:`split_contamination` AUDITS the
    leakage a per-doc hash split produces; this operator is the FIX —
    the split key is the connected-component id from
    :func:`~log_formatter_spark.operators.dedup.cluster_pairs`, not the
    doc id, so no near-dup pair can ever straddle train/eval (the
    cross-split pair set over the SAME ``pairs`` input is empty by
    construction, pinned in tests).

    The hash salt (``':split'``) and bucket thresholds match
    contract ``_dataset_split`` exactly, and a singleton component's
    ``cluster_id`` IS its own doc id — so the cluster split is a strict
    refinement of the per-doc split: docs outside any dup cluster keep
    the identical assignment, only clustered docs move (onto their
    component minimum's bucket). Migrating an existing corpus split to
    the safe one therefore touches exactly the contaminated docs.

    Plan shape: the component labels ride the iterative CC machinery
    (bounded rounds, see cluster_pairs); the split assignment itself is
    one map-only projection over the labels — no extra exchange. At
    100 TB the pair table is the (small) dedup output and the label
    frame is one row per doc; nothing here is quadratic.
    """
    from log_formatter_spark.operators.dedup import cluster_pairs

    labels = cluster_pairs(docs, pairs, id_col=id_col)
    bucket, split = split_assign(F.col("cluster_id"), train_pct, val_pct)
    return labels.select(
        id_col,
        "cluster_id",
        bucket.alias("bucket"),
        split.alias("split"),
    )


def cluster_split_sql(
    pairs_cte: str,
    src: str = "documents",
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 90,
) -> str:
    """DuckDB twin of :func:`cluster_split`: recursive-CTE components
    (a different CC algorithm than Spark's label propagation — the
    strongest cross-engine evidence) + the shared
    :func:`split_assign_sql` rule applied to ``cluster_id``."""
    from log_formatter_spark.operators.dedup import cluster_pairs_sql

    b, case = split_assign_sql("cluster_id", train_pct, val_pct)
    return f"""
SELECT {id_col}, cluster_id, CAST(b AS INTEGER) AS bucket,
       {case} AS split
FROM (SELECT {id_col}, cluster_id, {b} AS b
      FROM ({cluster_pairs_sql(pairs_cte, src=src, id_col=id_col)}))
"""


def source_profile(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-(source, predicted-language) corpus profile: doc counts and
    exact integer size totals — the monitoring rollup a corpus pipeline
    publishes per ingest source. Integer-only aggregates (counts,
    char/token sums) keep the result bit-exact across engines with no
    decimal gymnastics; one map-side-combinable aggregation."""
    toks = tokens(F.col("text"))
    base = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        *[
            _stop_hits(toks, LANG_STOPWORDS[lang]).alias(f"_h_{lang}")
            for lang in _LANG_ORDER
        ],
    )
    scores = {lang: F.col(f"_h_{lang}") / F.col("n_tokens") for lang in _LANG_ORDER}
    return (
        base.select(
            "source", lang_pred_expr(scores).alias("lang_pred"), "n_chars", "n_tokens"
        )
        .groupBy("source", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def source_profile_sql(src: str = "documents") -> str:
    return f"""
WITH langs AS ({lang_id_sql(src)})
SELECT d.source, l.lang_pred, count(*) AS n_docs,
       CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
       CAST(sum(len(list_filter(string_split(lower(d.text), ' '), t -> t <> ''))) AS BIGINT) AS total_tokens
FROM {src} d JOIN langs l ON d.doc_id = l.doc_id
GROUP BY d.source, l.lang_pred
"""


# --- corpus sampling ------------------------------------------------------

QUOTA_PER_SOURCE = 10

# Deterministic per-source sampling rates for hash_sample's contract
# configuration: two named tiers plus a default, so the threshold CASE
# is exercised on every branch.
SAMPLE_RATES: dict[str, float] = {"src0": 1.0, "src1": 0.75}
SAMPLE_DEFAULT_RATE = 0.4


def source_quota_sample(
    docs: DataFrame,
    quota: int = QUOTA_PER_SOURCE,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source quality quota: keep the ``quota`` highest-quality docs
    from each ingest source — the standard mixing-weights curation step
    (cap boilerplate-heavy sources, keep the best of each).

    Plan: the quality score is the same single-scan map-only projection
    as ``corpus_filter`` (bit-identical doubles, same expression
    family), then ONE window ``row_number`` over ``source``. Spark ≥3.5
    rewrites ``row_number <= k`` into WindowGroupLimit: each input
    partition pre-prunes to its local top-``quota`` BEFORE the
    exchange, so the shuffle moves O(partitions × quota) rows, not the
    corpus — per-source skew (one giant source) cannot concentrate more
    than ``quota`` surviving rows on any reducer. Ordering ties break
    by doc_id for a total order.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.size(toks).alias("_n_tokens"),
        tok_chars_expr(toks).alias("_tok_chars"),
        _stop_hits(toks, STOPWORDS).alias("_n_stop"),
    ).select(
        id_col,
        "source",
        quality_expr(F.col("_n_tokens"), F.col("_tok_chars"), F.col("_n_stop")).alias(
            "quality_score"
        ),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col(id_col)
    )
    return (
        base.withColumn("src_rank", F.row_number().over(w).cast("int"))
        .where(F.col("src_rank") <= quota)
        .select(id_col, "source", "quality_score", "src_rank")
    )


def source_quota_sample_sql(
    src: str = "documents",
    quota: int = QUOTA_PER_SOURCE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL, _stop_hits_sql

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH base AS (
  SELECT {id_col}, source,
         CAST(len({toks}) AS INTEGER) AS _n_tokens,
         CAST(list_reduce(list_prepend(0, list_transform({toks}, t -> CAST(length(t) AS INTEGER))), (a, b) -> a + b) AS INTEGER) AS _tok_chars,
         {_stop_hits_sql(toks, STOPWORDS)} AS _n_stop
  FROM {src}
),
scored AS (
  SELECT {id_col}, source,
         0.4 * least(1.0, _n_tokens / 100.0)
       + 0.3 * greatest(0.0, 1.0 - abs(_tok_chars / _n_tokens - 5.0) / 5.0)
       + 0.3 * least(1.0, (_n_stop / _n_tokens) * 4.0) AS quality_score
  FROM base
)
SELECT {id_col}, source, quality_score, src_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
            ORDER BY quality_score DESC, {id_col}) AS INTEGER) AS src_rank
  FROM scored
) WHERE src_rank <= {quota}
"""


def hash_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = SAMPLE_DEFAULT_RATE,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic per-source Bernoulli sampling: keep a doc iff its
    60-bit md5 coin lands under the source's rate threshold.

    The mixing-ratio workhorse: re-weight sources (up/down-sample) with
    a sample that is (a) reproducible run-to-run and engine-to-engine —
    the coin is md5 of the doc id, not a PRNG — and (b) stable under
    corpus growth: a doc's keep/drop never changes when other docs
    arrive, so incremental ingestion never resamples history (the
    property random-split by fraction lacks). Map-only: a literal CASE
    threshold per source, one integer compare, no shuffle, no
    collect. Thresholds are exact int64 literals computed once
    driver-side (``int(rate * 2^60)``), so both engines compare the
    same integers.
    """
    from log_formatter_spark.functions.hashing import md5_60

    rates = SAMPLE_RATES if rates is None else rates
    thr = F.lit(int(default_rate * (1 << 60)))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(source_col) == s, F.lit(int(r * (1 << 60)))).otherwise(thr)
    coin = md5_60(F.concat(F.lit("sample:"), F.col(id_col).cast("string")))
    return (
        docs.select(F.col(id_col), F.col(source_col).alias("source"), coin.alias("coin"))
        .where(F.col("coin") < thr)
        .select(id_col, "source", "coin")
    )


def hash_sample_sql(
    src: str = "documents",
    rates: dict[str, float] | None = None,
    default_rate: float = SAMPLE_DEFAULT_RATE,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    rates = SAMPLE_RATES if rates is None else rates
    branches = " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(r * (1 << 60))}"
        for s, r in sorted(rates.items(), reverse=True)
    )
    coin = MD5_60_SQL.format(x=f"'sample:' || CAST({id_col} AS VARCHAR)")
    return f"""
SELECT {id_col}, {source_col} AS source, coin FROM (
  SELECT {id_col}, {source_col}, {coin} AS coin,
         CASE {branches} ELSE {int(default_rate * (1 << 60))} END AS thr
  FROM {src}
) WHERE coin < thr
"""


def quality_deciles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Quality-decile token-mass dashboard — the mixture-planning view
    ("how many tokens live in each quality band?") that decides
    curation thresholds and per-band sampling weights before anyone
    trains: (decile, n_docs, total_tokens, lo_score, hi_score), decile
    0 = worst tenth.

    Exactness: decile = ``floor((rank-1)·10 / n)`` from a global
    row_number over (quality_score, doc_id) — pure integer arithmetic
    on an exact rank, so band edges are bit-identical in both engines
    (interpolating percentiles never are). The global sort is the
    honest cost: it sorts the NARROW (score, id) projection, not the
    corpus, and the production swap at 10^12 docs is percentile_approx
    thresholds + a map-only bucket assignment — same output schema, a
    sketch-accuracy band boundary instead of an exact one. Quality and
    token expressions are the same single-scan family as
    ``corpus_filter``, so the dashboard and the filter can never
    disagree about a doc's score."""
    toks = tokens(F.col(text_col))
    scored = (
        docs.select(
            F.col(id_col),
            F.size(toks).alias("_n_tokens"),
            tok_chars_expr(toks).alias("_tok_chars"),
            _stop_hits(toks, STOPWORDS).alias("_n_stop"),
        )
        # zero-token docs have a 0/0 (NULL/NaN) score whose ORDER BY
        # position diverges across engines (Spark nulls-first, DuckDB
        # nulls-last — the parity rule: filter nulls before any
        # rank/order-statistic query); they carry no token mass anyway
        .where(F.col("_n_tokens") > 0)
        .select(
            id_col,
            "_n_tokens",
            quality_expr(
                F.col("_n_tokens"), F.col("_tok_chars"), F.col("_n_stop")
            ).alias("quality_score"),
        )
    )
    w = Window.orderBy("quality_score", id_col)
    n = Window.partitionBy()
    ranked = scored.select(
        "quality_score",
        "_n_tokens",
        # explicit floor: DuckDB's CAST(double AS INTEGER) ROUNDS where
        # Spark's truncates — floor() is the one spelling both agree on.
        # row_number is 32-bit in Spark: cast long BEFORE *10 or the
        # rank arithmetic wraps past ~214M docs
        F.floor(
            (F.row_number().over(w).cast("long") - 1) * 10
            / F.count(F.lit(1)).over(n)
        ).cast("int").alias("decile"),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_tokens").alias("total_tokens"),
        F.min("quality_score").alias("lo_score"),
        F.max("quality_score").alias("hi_score"),
    )


def quality_deciles_sql(src: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL, _stop_hits_sql

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH base AS (
  SELECT {id_col},
         CAST(len({toks}) AS INTEGER) AS _n_tokens,
         CAST(list_reduce(list_prepend(0, list_transform({toks}, t -> CAST(length(t) AS INTEGER))), (a, b) -> a + b) AS INTEGER) AS _tok_chars,
         {_stop_hits_sql(toks, STOPWORDS)} AS _n_stop
  FROM {src}
),
scored AS (
  SELECT {id_col}, _n_tokens,
         0.4 * least(1.0, _n_tokens / 100.0)
       + 0.3 * greatest(0.0, 1.0 - abs(_tok_chars / _n_tokens - 5.0) / 5.0)
       + 0.3 * least(1.0, (_n_stop / _n_tokens) * 4.0) AS quality_score
  FROM base WHERE _n_tokens > 0
),
ranked AS (
  SELECT quality_score, _n_tokens,
         CAST(floor((row_number() OVER (ORDER BY quality_score, {id_col}) - 1) * 10
              / count(*) OVER ()) AS INTEGER) AS decile
  FROM scored
)
SELECT decile, count(*) AS n_docs,
       CAST(sum(_n_tokens) AS BIGINT) AS total_tokens,
       min(quality_score) AS lo_score, max(quality_score) AS hi_score
FROM ranked GROUP BY decile
"""


# --- training-mixture assembly ----------------------------------------------

# Contract mixture: integer epoch multipliers per source (the Pile /
# LLaMA-style mixture table — "wiki ×3, web ×1"), default 1.
MIX_EPOCHS: dict[str, int] = {"src0": 3, "src1": 2}
MIX_DEFAULT_EPOCHS = 1


def mixture_epochs(
    docs: DataFrame,
    epochs: dict[str, int] | None = None,
    default_epochs: int = MIX_DEFAULT_EPOCHS,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Assemble a training mixture by integer per-source oversampling:
    each doc appears ``epochs[source]`` times, tagged with its epoch
    index and a deterministic 60-bit shuffle key.

    Integer epochs are how production mixtures are actually specified
    (the Pile's per-set epochs, LLaMA's sampling proportions rounded to
    passes): upweighting a source = repeating it whole, never a lossy
    random resample. The plan is a map-only explode of a
    literal-bounded sequence — zero exchanges, output size =
    Σ epochs·|source| exactly. ``mix_key`` (md5 of doc_id:epoch) gives
    every replica a reproducible position in a global shuffle order:
    sort/bucket by mix_key at write time and the training scan order is
    engine- and run-independent, with the two replicas of a doc landing
    far apart (the within-epoch de-clustering property curriculum
    writers want)."""
    from log_formatter_spark.functions.hashing import md5_60

    epochs = MIX_EPOCHS if epochs is None else epochs
    e = F.lit(default_epochs)
    for s, n in sorted(epochs.items()):
        e = F.when(F.col(source_col) == s, F.lit(n)).otherwise(e)
    key = md5_60(
        F.concat_ws(":", F.lit("mix"), F.col(id_col).cast("string"), F.col("epoch").cast("string"))
    )
    return (
        docs.select(F.col(id_col), F.col(source_col).alias("source"), e.alias("_e"))
        # epochs=0 (drop the source entirely) must yield NO rows: Spark's
        # sequence(0, -1) would generate a DESCENDING [0, -1] — filter
        # first, matching DuckDB's empty range(0, 0)
        .where(F.col("_e") > 0)
        .select(
            id_col,
            "source",
            F.explode(F.sequence(F.lit(0), F.col("_e") - 1)).alias("epoch"),
        )
        .select(id_col, "source", "epoch", key.alias("mix_key"))
    )


def mixture_epochs_sql(
    src: str = "documents",
    epochs: dict[str, int] | None = None,
    default_epochs: int = MIX_DEFAULT_EPOCHS,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    epochs = MIX_EPOCHS if epochs is None else epochs
    branches = " ".join(
        f"WHEN {source_col} = '{s}' THEN {n}" for s, n in sorted(epochs.items())
    )
    key = MD5_60_SQL.format(
        x=f"'mix:' || CAST({id_col} AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)"
    )
    return f"""
SELECT {id_col}, source, epoch, {key} AS mix_key FROM (
  SELECT {id_col}, {source_col} AS source,
         CAST(unnest(range(0, CASE {branches} ELSE {default_epochs} END)) AS INTEGER) AS epoch
  FROM {src}
)
"""


MIX_TEMP_BUDGET = 300


def _temperature_quotas(
    counts: list[tuple[str, int]], budget: int, alpha: float
) -> dict[str, int]:
    """Hamilton-apportioned temperature quotas from per-source counts:
    weight w_s = n_s^alpha, quota q_s = budget * w_s / Σw floored, with
    the leftover (< n_sources) distributed by largest remainder
    (tie-break: source name) so Σ quotas == budget exactly whenever
    budget ≤ Σn. All arithmetic is EXACT integer math: for the shipped
    α=0.5 the weight is ``math.isqrt`` — which equals the SQL twin's
    ``floor(sqrt(CAST(n AS DOUBLE)))`` for every n < 2^40 (IEEE sqrt is
    correctly rounded and the gap between √(k²−1) and k, ~1/2k, dwarfs
    the double ulp there; one source would need a trillion docs to
    leave that range) — so the driver-side plan literals and the DuckDB
    rendering cannot drift."""
    import math

    if alpha == 0.5:
        weights = {s: math.isqrt(n) for s, n in counts}
    else:  # non-default temperatures: driver-side float pow (no SQL twin)
        weights = {s: int(round(n**alpha)) for s, n in counts}
    total = sum(weights.values())
    if total == 0:
        return {s: 0 for s, _ in counts}
    floors = {s: budget * w // total for s, w in weights.items()}
    leftover = budget - sum(floors.values())
    by_rem = sorted(
        weights, key=lambda s: (-(budget * weights[s] % total), s)
    )
    for s in by_rem[:leftover]:
        floors[s] += 1
    return floors


def mixture_temperature(
    docs: DataFrame,
    budget: int = MIX_TEMP_BUDGET,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-weighted mixture sampling (the T5 / LLaMA / GPT-3
    data-mixing rule): per-source quotas ∝ n_s^α for α < 1, flattening
    the source distribution so tail sources are upweighted relative to
    their raw share, then a deterministic hash-ordered draw of exactly
    ``quota_s`` docs per source. Complements :func:`mixture_epochs`
    (integer oversampling when the mixture is hand-specified) — this is
    the rule that COMPUTES the mixture from corpus statistics.

    Plan shape: per-source counts are a driver-sized aggregate (sources
    are a bounded vocabulary — the anchors/centroids discipline), so
    the quotas become exact integer plan literals via Hamilton
    apportionment (see :func:`_temperature_quotas`). Selection is ONE
    window ``row_number`` over ``source`` ordered by a salted 60-bit
    doc hash: the literal ``rank <= max(quota)`` bound is applied FIRST
    so Spark's WindowGroupLimit prunes every map partition to its local
    top-max(q) BEFORE the exchange (the source_quota_sample discipline
    — the shuffle moves O(partitions × max quota) rows, never the
    corpus, and a giant source cannot concentrate more than max(q)
    surviving rows on a reducer), then the exact per-source quota
    filter runs as a literal CASE on the pruned rows.

    Determinism: the hash order is md5-based and salted ('mixt'), ties
    broken by doc_id — a strict total order, identical in the DuckDB
    twin at any parallelism.
    """
    from log_formatter_spark.functions.hashing import md5_60

    counts = [
        (r["source"], r["n"])
        for r in docs.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    quotas = _temperature_quotas(sorted(counts), budget, alpha)
    max_q = max(quotas.values(), default=0)
    if max_q == 0:
        return docs.select(
            F.col(id_col),
            F.col(source_col).alias("source"),
            F.lit(0).cast("int").alias("mix_rank"),
            F.lit(0).cast("long").alias("quota"),
        ).limit(0)
    key = md5_60(F.concat_ws(":", F.lit("mixt"), F.col(id_col).cast("string")))
    w = Window.partitionBy("source").orderBy(F.col("_mix_key"), F.col(id_col))
    q_expr = F.lit(0).cast("long")
    for s, q in sorted(quotas.items()):
        q_expr = F.when(F.col("source") == s, F.lit(q).cast("long")).otherwise(q_expr)
    return (
        docs.select(
            F.col(id_col), F.col(source_col).alias("source"), key.alias("_mix_key")
        )
        .withColumn("mix_rank", F.row_number().over(w).cast("int"))
        .where(F.col("mix_rank") <= F.lit(max_q))  # WindowGroupLimit prune
        .withColumn("quota", q_expr)
        .where(F.col("mix_rank") <= F.col("quota"))
        .select(id_col, "source", "mix_rank", "quota")
    )


def mixture_temperature_sql(
    src: str = "documents",
    budget: int = MIX_TEMP_BUDGET,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB rendering of :func:`mixture_temperature` at α=0.5 — the
    quota arithmetic runs relationally from the same table (counts →
    floor(sqrt) weights → floor division → largest-remainder top-up),
    matching the operator's driver-side integer math exactly (see
    :func:`_temperature_quotas` for the isqrt ≡ floor(sqrt(double))
    bound). Only the shipped α=0.5 is rendered: other temperatures go
    through float pow, which has no cross-engine exactness story."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    key = MD5_60_SQL.format(x=f"'mixt:' || CAST({id_col} AS VARCHAR)")
    return f"""
WITH mt_counts AS (
  SELECT {source_col} AS source, CAST(count(*) AS BIGINT) AS n
  FROM {src} GROUP BY {source_col}
),
mt_w AS (
  SELECT source, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt
  FROM mt_counts
),
mt_tot AS (SELECT source, wt, SUM(wt) OVER () AS total_wt FROM mt_w),
mt_floor AS (
  SELECT source,
         ({budget} * wt) // total_wt AS q_floor,
         ({budget} * wt) % total_wt AS rem
  FROM mt_tot
),
mt_quota AS (
  SELECT source,
         q_floor + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                        <= {budget} - SUM(q_floor) OVER () THEN 1 ELSE 0 END
           AS quota
  FROM mt_floor
),
mt_ranked AS (
  SELECT {id_col}, {source_col} AS source,
         CAST(row_number() OVER (PARTITION BY {source_col}
              ORDER BY {key}, {id_col}) AS INTEGER) AS mix_rank
  FROM {src}
)
SELECT r.{id_col}, r.source, r.mix_rank, CAST(q.quota AS BIGINT) AS quota
FROM mt_ranked r JOIN mt_quota q ON q.source = r.source
WHERE r.mix_rank <= q.quota
"""


# --- eval-set decontamination ----------------------------------------------

DECONTAM_NGRAM = 4


def decontaminate(
    docs: DataFrame,
    eval_pred: Column,
    n: int = DECONTAM_NGRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram eval-set decontamination: (doc_id, n_hit_shingles)
    for every TRAIN document sharing at least one word n-gram with any
    EVAL document (``eval_pred`` marks the eval rows).

    The standard pre-training hygiene step (the GPT-3/PaLM reports both
    describe exactly this shape: drop or flag training docs that
    contain any benchmark n-gram). Distinct from split_contamination,
    which finds NEAR-dup pairs across already-assigned splits; this is
    exact set-membership against a designated eval corpus.

    100 TB plan: eval benchmarks are tiny next to the corpus, so the
    distinct eval-shingle side is BROADCAST, and the broadcast probe
    runs BEFORE any shuffle — the train side is scan + explode (no
    distinct yet) + broadcast-hash probe, so the full shingle table is
    never exchanged. Only the surviving HIT rows pay the distinct
    (duplicate positions of the same (doc, shingle) must count once)
    and the final per-doc count, both map-side-combined.
    """
    from log_formatter_spark.functions.shingles import shingle_df

    sh = shingle_df(docs, n=n, text_col=text_col, id_col=id_col, distinct=False)
    ev = docs.where(eval_pred).select(id_col, text_col)
    ev_sh = (
        shingle_df(ev, n=n, text_col=text_col, id_col=id_col, distinct=False)
        .select("shingle")
        .distinct()
    )
    train = sh.join(docs.where(eval_pred).select(id_col), id_col, "left_anti")
    return (
        train.join(F.broadcast(ev_sh), "shingle")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def decontaminate_sql(
    eval_pred_sql: str,
    src: str = "documents",
    n: int = DECONTAM_NGRAM,
    id_col: str = "doc_id",
) -> str:
    from log_formatter_spark.functions.shingles import shingles_sql

    sh = shingles_sql(src=src, n=n, id_col=id_col)
    # eval shingles come straight from the filtered source (not via an
    # id IN-list), and the train-side exclusion is NOT EXISTS, not
    # NOT IN: one NULL id in the eval set would turn NOT IN into zero
    # rows (SQL's three-valued logic makes `x NOT IN (.., NULL)` never
    # true), silently diverging from Spark's null-safe left_anti join.
    ev_src = f"(SELECT * FROM {src} WHERE {eval_pred_sql}) _ev"
    ev_sh = shingles_sql(src=ev_src, n=n, id_col=id_col)
    return f"""
WITH sh AS ({sh}),
ev AS (SELECT DISTINCT shingle FROM ({ev_sh})),
eval_ids AS (SELECT {id_col} FROM {src} WHERE {eval_pred_sql})
SELECT s.{id_col}, count(*) AS n_hit_shingles
FROM sh s JOIN ev USING (shingle)
WHERE NOT EXISTS (SELECT 1 FROM eval_ids e WHERE e.{id_col} = s.{id_col})
GROUP BY s.{id_col}
"""


# --- boilerplate fraction ---------------------------------------------------

BOILER_NGRAM = 3
BOILER_MIN_DF = 3


def boilerplate_fraction(
    docs: DataFrame,
    n: int = BOILER_NGRAM,
    min_df: int = BOILER_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles, n_boiler, boiler_frac): per-document share
    of distinct word n-grams that are corpus-common (document frequency
    ≥ ``min_df``) — the CCNet/RefinedWeb-style boilerplate signal
    (headers, navigation, license blurbs repeat verbatim across docs;
    novel prose does not). High boiler_frac is a drop/downweight cue
    for corpus_filter-style rules.

    Plan: distinct shingles (1 exchange) → df counts via groupBy
    shingle (map-side partials; hot boilerplate keys arrive as one
    combined row per map task) → shingle-keyed join back (AQE skew-join
    splits the probe side if one shingle dominates) → per-doc count (1
    exchange on doc_id). The join is the honest cost: df-tagging each
    (doc, shingle) row inherently co-locates by shingle once; a window
    over shingle would do the same co-location without AQE's skew
    handling, so the join form is the scale-safe one.

    boiler_frac is a single IEEE division of two exact int64 casts —
    bit-identical across engines.
    """
    from log_formatter_spark.functions.shingles import shingle_df

    sh = shingle_df(docs, n=n, text_col=text_col, id_col=id_col, distinct=True)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    tagged = sh.join(df_counts, "shingle")
    out = tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0)).alias("n_boiler"),
    )
    return out.select(
        id_col,
        "n_shingles",
        "n_boiler",
        (F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double")).alias(
            "boiler_frac"
        ),
    )


def boilerplate_fraction_sql(
    src: str = "documents",
    n: int = BOILER_NGRAM,
    min_df: int = BOILER_MIN_DF,
    id_col: str = "doc_id",
) -> str:
    from log_formatter_spark.functions.shingles import shingles_sql

    sh = shingles_sql(src=src, n=n, id_col=id_col)
    return f"""
WITH sh AS ({sh}),
df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
agg AS (
  SELECT {id_col},
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
  FROM sh JOIN df USING (shingle) GROUP BY {id_col}
)
SELECT {id_col}, n_shingles, n_boiler,
       CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS boiler_frac
FROM agg
"""


def _strip_covered(
    docs: DataFrame,
    covered: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared rebuild step for the span-stripping operators: given
    ``covered`` = (id, p) token positions to remove (1-based), left_anti
    the positional token stream against it and reassemble the survivors
    in position order with the deterministic struct-array_sort pattern.
    One row per input doc (fully-covered docs keep an empty clean_text).
    Output ``(id, clean_text, n_tokens, n_kept)``."""
    from log_formatter_spark.functions.text import tokens

    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("p0", "tok")
    ).select(id_col, (F.col("p0") + F.lit(1)).alias("p"), "tok")
    kept = tok.join(covered, [id_col, "p"], "left_anti")
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("tok")))),
            lambda s: s.getField("tok"),
        ),
        " ",
    )
    agg = kept.groupBy(id_col).agg(
        rebuilt.alias("clean_text"), F.count(F.lit(1)).alias("n_kept")
    )
    base = docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
    )


def strip_boilerplate(
    docs: DataFrame,
    n: int = BOILER_NGRAM,
    min_df: int = BOILER_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ACTIONABLE form of :func:`boilerplate_fraction`: rewrite each
    document with corpus-common n-gram spans REMOVED — the
    RefinedWeb-style cleanup step (headers, navigation, license blurbs
    repeat verbatim across docs; stripping them instead of dropping the
    whole doc keeps the novel prose). A token is removed iff it is
    covered by ANY n-shingle whose document frequency ≥ ``min_df``.
    Output ``(doc_id, clean_text, n_tokens, n_kept)`` — one row per
    input doc (fully-boilerplate docs keep a row with empty clean_text,
    so downstream length filters see them rather than losing them).

    100 TB plan: shingle df counts (one exchange, map-side partials) →
    hot-shingle join against the positional shingle stream (AQE
    skew-join handles a dominating boilerplate shingle) → covered
    positions explode ONLY for hot-shingle starts (the n× expansion is
    proportional to boilerplate mass, not corpus size) → left_anti join
    on (doc, position) → one doc-keyed aggregation whose struct
    array_sort makes the rebuilt text order bit-identical at any
    parallelism (the joined_turns discipline). clean_text is
    token-normalized (lowercased, single spaces) — the same
    canonicalization every downstream dedup/quality operator applies
    anyway, so nothing is lost at the pipeline level.
    """
    from log_formatter_spark.functions.shingles import (
        positional_shingles,
        shingle_df,
    )

    sh = shingle_df(docs, n=n, text_col=text_col, id_col=id_col, distinct=True)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("shingle")
    )
    pos = positional_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    covered = (
        pos.join(hot, "shingle")
        .select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias("p"),
        )
        .distinct()
    )
    return _strip_covered(docs, covered, id_col, text_col)


def strip_boilerplate_sql(
    src: str = "documents",
    n: int = BOILER_NGRAM,
    min_df: int = BOILER_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`strip_boilerplate` — same hot-shingle
    set, same covered-position expansion, same position-ordered
    reassembly."""
    from log_formatter_spark.functions.shingles import (
        positional_shingles_sql,
        shingles_sql,
    )
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH sh AS ({shingles_sql(src, n=n, text_col=text_col, id_col=id_col)}),
hot AS (
  SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
  WHERE df >= {min_df}
),
pos AS ({positional_shingles_sql(src, n=n, text_col=text_col, id_col=id_col)}),
cov AS (
  SELECT DISTINCT {id_col}, i + k AS p
  FROM (SELECT {id_col}, i FROM pos JOIN hot USING (shingle)) _h
  CROSS JOIN (SELECT unnest(generate_series(0, {n - 1})) AS k) _k
),
tok AS (
  SELECT {id_col}, u.p AS p, u.tok AS tok
  FROM (
    SELECT {id_col},
           unnest(list_transform(generate_series(1, len(toks)),
                                 i -> {{'p': i, 'tok': toks[i]}})) AS u
    FROM (SELECT {id_col}, {toks} AS toks FROM {src}) _t
  )
),
kept AS (
  SELECT t.{id_col}, t.p, t.tok
  FROM tok t ANTI JOIN cov c ON t.{id_col} = c.{id_col} AND t.p = c.p
),
agg AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY {id_col}
),
base AS (SELECT {id_col}, len({toks}) AS n_tokens FROM {src})
SELECT b.{id_col}, coalesce(a.clean_text, '') AS clean_text, b.n_tokens,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
FROM base b LEFT JOIN agg a USING ({id_col})
"""


def strip_repetition(
    docs: DataFrame,
    n: int = BOILER_NGRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repetition stripping — the intra-doc twin of
    :func:`strip_boilerplate` and the actionable form of
    `text.repetition_score` (the Gopher/MassiveText repetition filters
    score and DROP repetitive docs; generation loops and scraper
    stutter often sit inside otherwise-good documents, where stripping
    the repeats keeps the prose). A token is removed iff covered by an
    n-shingle whose identical shingle already STARTED earlier in the
    same document — so the first occurrence of every span survives and
    later copies vanish. Same output contract as strip_boilerplate:
    ``(doc_id, clean_text, n_tokens, n_kept)``, one row per input doc.

    100 TB plan: strictly lighter than the cross-doc strip — there is
    NO corpus-wide table at all. Positional shingles are map-only after
    the token projection; "seen earlier in this doc" is one window
    (row_number over (doc, shingle) ordered by position) whose
    partitioning is doc-local; covered positions explode only for
    repeated starts; the rebuild is the shared `_strip_covered` step.
    Every exchange is keyed on the doc id — embarrassingly parallel
    across documents, no skew surface beyond document length."""
    from log_formatter_spark.functions.shingles import positional_shingles

    pos = positional_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    w = Window.partitionBy(id_col, "shingle").orderBy("i")
    repeated = pos.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") > 1
    )
    covered = repeated.select(
        id_col,
        F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias("p"),
    ).distinct()
    return _strip_covered(docs, covered, id_col, text_col)


def strip_repetition_sql(
    src: str = "documents",
    n: int = BOILER_NGRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`strip_repetition` — same repeated-start
    window, same covered-position expansion, same reassembly."""
    from log_formatter_spark.functions.shingles import positional_shingles_sql
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH pos AS ({positional_shingles_sql(src, n=n, text_col=text_col, id_col=id_col)}),
rep AS (
  SELECT {id_col}, i FROM (
    SELECT {id_col}, i,
           row_number() OVER (PARTITION BY {id_col}, shingle ORDER BY i) AS rn
    FROM pos
  ) WHERE rn > 1
),
cov AS (
  SELECT DISTINCT {id_col}, i + k AS p
  FROM rep CROSS JOIN (SELECT unnest(generate_series(0, {n - 1})) AS k) _k
),
tok AS (
  SELECT {id_col}, u.p AS p, u.tok AS tok
  FROM (
    SELECT {id_col},
           unnest(list_transform(generate_series(1, len(toks)),
                                 i -> {{'p': i, 'tok': toks[i]}})) AS u
    FROM (SELECT {id_col}, {toks} AS toks FROM {src}) _t
  )
),
kept AS (
  SELECT t.{id_col}, t.p, t.tok
  FROM tok t ANTI JOIN cov c ON t.{id_col} = c.{id_col} AND t.p = c.p
),
agg AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY {id_col}
),
base AS (SELECT {id_col}, len({toks}) AS n_tokens FROM {src})
SELECT b.{id_col}, coalesce(a.clean_text, '') AS clean_text, b.n_tokens,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
FROM base b LEFT JOIN agg a USING ({id_col})
"""


# --- curation funnel ---------------------------------------------------------

FUNNEL_STAGES = (
    "raw",
    "lang",
    "quality",
    "exact_dedup",
    "neardup",
    "decontaminated",
)
FUNNEL_NEARDUP_MIN_EST = 0.5
FUNNEL_EVAL_MOD = 23  # the decontaminate contract convention


def curation_funnel(
    docs: DataFrame,
    keep_lang: str = "en",
    min_quality: float = MIN_QUALITY,
    neardup_min_est: float = FUNNEL_NEARDUP_MIN_EST,
    eval_pred: Column | None = None,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """The stage-by-stage retention report a pipeline owner runs before
    every training mix: how many documents (and how much token mass)
    survive each CUMULATIVE curation stage —

        raw → lang(metadata) → quality ≥ τ → exact-dedup survivors →
        near-dup pruned → decontaminated (eval docs + eval-n-gram hits
        removed)

    Output ``(stage_idx, stage, n_docs, n_tokens)``, six rows. Each
    stage applies to the PREVIOUS stage's survivors, so consecutive-row
    deltas are exactly "what this stage cost". Near-dup pruning is the
    ONE-HOP rule (drop the larger id of every banded MinHash pair with
    est ≥ ``neardup_min_est`` among the current survivors) — the same
    candidates as `dedup.minhash_pairs`, deliberately NOT the
    transitive-closure clustering (`dedup.cluster_pairs` reports
    families; a funnel wants a cheap deterministic prune whose SQL twin
    is a NOT EXISTS). Decontamination shingles come from the RAW eval
    slice (benchmarks don't go through curation), broadcast into the
    probe — the `decontaminate` asymmetry.

    100 TB plan: stages 0–2 are map-only filters of one scan; stage 3
    is the exact-dedup window; stage 4 adds the banded pair join; stage
    5 the broadcast shingle probe. Each stage's plan CONTAINS its
    prefix, so Spark's exchange reuse serves the shared shuffles; a
    production run at petabyte scale would checkpoint s3 once instead —
    the report is six driver-sized aggregate rows either way.
    ``eval_pred`` must reference carried columns (id/text/lang);
    default is the ``doc_id % 23`` eval convention.
    """
    from log_formatter_spark.functions.shingles import shingle_df
    from log_formatter_spark.operators.dedup import minhash_pairs

    if eval_pred is None:
        eval_pred = F.col(id_col) % FUNNEL_EVAL_MOD == 0
    toks = tokens(F.col(text_col))
    s0 = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.col(lang_col),
        F.size(toks).cast("bigint").alias("_n_tok"),
    )
    s1 = s0.where(F.col(lang_col) == keep_lang)
    q = quality_expr(F.size(toks), tok_chars_expr(toks), _stop_hits(toks, STOPWORDS))
    s2 = s1.where(q >= F.lit(min_quality))
    w = Window.partitionBy(F.md5(norm_text_expr(text_col))).orderBy(id_col)
    s3 = (
        s2.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    dup_b = (
        minhash_pairs(
            s3, n=n, text_col=text_col, id_col=id_col, min_est=neardup_min_est
        )
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    s4 = s3.join(dup_b, id_col, "left_anti")
    ev_sh = (
        shingle_df(
            docs.where(eval_pred), n=n, text_col=text_col, id_col=id_col,
            distinct=False,
        )
        .select("shingle")
        .distinct()
    )
    train = s4.where(~eval_pred)
    hits = (
        shingle_df(train, n=n, text_col=text_col, id_col=id_col, distinct=False)
        .join(F.broadcast(ev_sh), "shingle")
        .select(id_col)
        .distinct()
    )
    s5 = train.join(hits, id_col, "left_anti")
    stages = [s0, s1, s2, s3, s4, s5]
    outs = [
        df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("_n_tok"), F.lit(0)).cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(i).alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )
        for i, (name, df) in enumerate(zip(FUNNEL_STAGES, stages))
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def curation_funnel_sql(
    src: str = "documents",
    keep_lang: str = "en",
    min_quality: float = MIN_QUALITY,
    neardup_min_est: float = FUNNEL_NEARDUP_MIN_EST,
    eval_pred_tmpl: str = "({id}) % 23 = 0",
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> str:
    """DuckDB rendering of :func:`curation_funnel` — same cumulative
    stages, NOT EXISTS for both prunes (never NOT IN: one NULL key
    would empty it), quality via text_stats_sql (the established
    bit-identical twin of quality_expr)."""
    from log_formatter_spark.functions.shingles import shingles_sql
    from log_formatter_spark.operators.dedup import minhash_pairs_sql, norm_text_sql

    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    ev_src = eval_pred_tmpl.format(id=f"{id_col}")
    carried = f"{id_col}, {text_col}, {lang_col}, n_tok"
    stage_rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS stage_idx, '{name}' AS stage, count(*) AS n_docs,"
        f" CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM s{i}"
        for i, name in enumerate(FUNNEL_STAGES)
    )
    return f"""
WITH s0 AS (
  SELECT {id_col}, {text_col}, {lang_col},
         CAST(len({toks}) AS BIGINT) AS n_tok
  FROM {src}
),
s1 AS (SELECT * FROM s0 WHERE {lang_col} = '{keep_lang}'),
st AS ({text_stats_sql('s1', text_col=text_col, id_col=id_col)}),
s2 AS (
  SELECT s1.* FROM s1 JOIN st USING ({id_col})
  WHERE st.quality_score >= {min_quality!r}
),
s3 AS (
  SELECT {carried} FROM (
    SELECT s2.*,
           row_number() OVER (PARTITION BY md5({norm_text_sql(text_col)})
                              ORDER BY {id_col}) AS rn
    FROM s2
  ) WHERE rn = 1
),
prs AS ({minhash_pairs_sql(src='s3', n=n, text_col=text_col, id_col=id_col, min_est=neardup_min_est)}),
s4 AS (
  SELECT * FROM s3
  WHERE NOT EXISTS (SELECT 1 FROM prs WHERE prs.doc_b = s3.{id_col})
),
evd AS (SELECT * FROM {src} WHERE {ev_src}),
evsh AS (
  SELECT DISTINCT shingle
  FROM ({shingles_sql('evd', n=n, text_col=text_col, id_col=id_col)}) _e
),
tr AS (SELECT * FROM s4 WHERE NOT ({ev_src})),
hits AS (
  SELECT DISTINCT {id_col}
  FROM ({shingles_sql('tr', n=n, text_col=text_col, id_col=id_col)}) _t
  JOIN evsh USING (shingle)
),
s5 AS (
  SELECT * FROM tr
  WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.{id_col} = tr.{id_col})
)
{stage_rows}
"""


# --- cross-source corpus overlap audit -------------------------------------

OVERLAP_MIN_EST = 0.5


def source_overlap(
    docs: DataFrame,
    n: int = 3,
    min_est: float = OVERLAP_MIN_EST,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source corpus overlap audit: for every ordered pair of
    distinct sources (s, vs), the fraction of s's documents that have a
    MinHash near-duplicate (est_jaccard >= min_est) in vs — the
    containment measure a multi-source training mix is audited with
    before sources are weighted ("how much of source B is already in
    source A"). The reference pipeline routes per-source
    (SURVEY.md §2.3 dynamic index fan-out); this is the corpus-level
    question the same source labels answer at curation time.

    Output: (source, vs_source, n_docs, dup_docs, containment), one row
    per ordered source pair observed to share at least one near-dup
    (observed-only keeps the plan free of a sources x sources product;
    absent pairs mean containment 0 by definition in both engines).

    Plan shape at 100 TB: candidate pairs come from the banded MinHash
    equality joins (cost = sum of bucket sizes squared, never
    |docs|^2 — `dedup.minhash_pairs`); the pair stream is symmetrized
    with a unionAll (map-only), source labels attach via two hash joins
    keyed on doc id, and the result aggregates to a source-pair-sized
    table (tiny). countDistinct is exact, not a sketch, so the driver
    hash gate can verify it.
    """
    from log_formatter_spark.operators.dedup import minhash_pairs

    pairs = minhash_pairs(
        docs, n=n, text_col=text_col, id_col=id_col, min_est=min_est
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc"), F.col("doc_b").alias("partner")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("doc"), F.col("doc_a").alias("partner"))
    )
    src = docs.select(F.col(id_col), F.col(source_col))
    labeled = (
        sym.join(
            src.select(
                F.col(id_col).alias("doc"), F.col(source_col).alias("source")
            ),
            "doc",
        )
        .join(
            src.select(
                F.col(id_col).alias("partner"),
                F.col(source_col).alias("vs_source"),
            ),
            "partner",
        )
        .where(F.col("source") != F.col("vs_source"))
    )
    dups = labeled.groupBy("source", "vs_source").agg(
        F.countDistinct("doc").alias("dup_docs")
    )
    totals = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs")
    )
    return dups.join(totals, "source").select(
        "source",
        "vs_source",
        "n_docs",
        "dup_docs",
        (F.col("dup_docs").cast("double") / F.col("n_docs").cast("double")).alias(
            "containment"
        ),
    )


def source_overlap_sql(
    src: str = "documents",
    n: int = 3,
    min_est: float = OVERLAP_MIN_EST,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    """DuckDB rendering of :func:`source_overlap` — same banded MinHash
    pair CTE, same symmetrize/label/aggregate, column-for-column."""
    from log_formatter_spark.operators.dedup import minhash_pairs_sql

    pairs = minhash_pairs_sql(src=src, n=n, id_col=id_col, min_est=min_est)
    return f"""
WITH pairs AS ({pairs}),
sym AS (
  SELECT doc_a AS doc, doc_b AS partner FROM pairs
  UNION ALL
  SELECT doc_b AS doc, doc_a AS partner FROM pairs
),
lab AS (
  SELECT s.doc, da.{source_col} AS source, db.{source_col} AS vs_source
  FROM sym s
  JOIN {src} da ON s.doc = da.{id_col}
  JOIN {src} db ON s.partner = db.{id_col}
  WHERE da.{source_col} <> db.{source_col}
),
dups AS (
  SELECT source, vs_source, count(DISTINCT doc) AS dup_docs
  FROM lab GROUP BY source, vs_source
),
tot AS (
  SELECT {source_col} AS source, count(*) AS n_docs FROM {src} GROUP BY {source_col}
)
SELECT d.source, d.vs_source, t.n_docs, d.dup_docs,
       CAST(d.dup_docs AS DOUBLE) / CAST(t.n_docs AS DOUBLE) AS containment
FROM dups d JOIN tot t ON d.source = t.source
"""


# --- per-source distribution drift ------------------------------------------


def source_drift(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-distribution drift: total-variation distance
    between each source's unigram distribution and the corpus-wide
    distribution — the dataset-shift monitor a multi-source training
    mix is watched with (a source whose token mix diverges from the
    corpus is re-weighted or audited before it skews the model).

    TV(s) = ½ Σ_t |n_ts/N_s − n_t/N| over ALL corpus tokens t. Tokens
    absent from s contribute n_t/N each, so with A_s = Σ_{t∈s}
    |n_ts·N − n_t·N_s| and B_s = Σ_{t∈s} n_t the closed form is
    TV(s) = (A_s + (N − B_s)·N_s) / (2·N_s·N) — every sum an EXACT
    integer (order-free, and no transcendental such as log, whose
    last bit can differ between Spark and DuckDB), widened to
    decimal(38,0) because n_ts·N exceeds int64 beyond ~10× scale
    (Spark wraps, DuckDB silently promotes to HUGEINT — a divergence
    this type pin removes). Only the final division is IEEE, on exact
    operands, so the hash gate verifies it.

    Plan shape at 100 TB: token explode → (source, token) counts
    (map-side combinable) → vocabulary-sized token totals broadcast
    back → one per-source aggregate. The corpus total N rides the
    per-source totals frame via an unpartitioned window — that frame is
    SOURCE-count-sized (a small dim by construction), so the
    single-partition window is free, and both N and N_s then attach to
    the token stream through one broadcast hash join on ``source``
    (a constant-key join to a 1-row N frame would constant-fold into a
    BroadcastNestedLoopJoin — the banned node — which is why the window
    form is used instead).

    Output: (source, n_tokens, tv_dist), one row per source with at
    least one token.
    """
    from log_formatter_spark.functions.text import tokens

    tok = docs.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    per = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n_ts"))
    tot_t = per.groupBy("token").agg(F.sum("n_ts").alias("n_t"))
    tot_s = per.groupBy("source").agg(F.sum("n_ts").alias("n_s")).withColumn(
        "n_tot", F.sum("n_s").over(Window.partitionBy())
    )
    dec = "decimal(38,0)"
    j = per.join(F.broadcast(tot_t), "token").join(F.broadcast(tot_s), "source")
    agg = j.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.max("n_tot").alias("n_all"),
        F.sum(
            F.abs(
                F.col("n_ts").cast(dec) * F.col("n_tot").cast(dec)
                - F.col("n_t").cast(dec) * F.col("n_s").cast(dec)
            )
        ).alias("a"),
        F.sum(F.col("n_t").cast(dec)).alias("b"),
    )
    num = F.col("a") + (
        (F.col("n_all").cast(dec) - F.col("b")) * F.col("n_tokens").cast(dec)
    )
    den = (
        F.lit(2).cast(dec) * F.col("n_tokens").cast(dec) * F.col("n_all").cast(dec)
    )
    return agg.select(
        "source",
        "n_tokens",
        (num.cast("double") / den.cast("double")).alias("tv_dist"),
    )


def source_drift_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """DuckDB rendering of :func:`source_drift` — same exact-integer
    closed form (HUGEINT plays decimal(38,0)), column-for-column."""
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH tok AS (
  SELECT {source_col} AS source, unnest({toks}) AS token FROM {src}
),
per AS (SELECT source, token, count(*) AS n_ts FROM tok GROUP BY source, token),
tot_t AS (SELECT token, sum(n_ts) AS n_t FROM per GROUP BY token),
tot_s AS (SELECT source, sum(n_ts) AS n_s FROM per GROUP BY source),
n AS (SELECT sum(n_s) AS n_tot FROM tot_s),
agg AS (
  SELECT p.source,
         max(s.n_s) AS n_tokens,
         max(n.n_tot) AS n_all,
         sum(abs(CAST(p.n_ts AS HUGEINT) * CAST(n.n_tot AS HUGEINT)
                 - CAST(t.n_t AS HUGEINT) * CAST(s.n_s AS HUGEINT))) AS a,
         sum(CAST(t.n_t AS HUGEINT)) AS b
  FROM per p
  JOIN tot_t t USING (token)
  JOIN tot_s s USING (source)
  CROSS JOIN n
  GROUP BY p.source
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(a + (CAST(n_all AS HUGEINT) - b) * CAST(n_tokens AS HUGEINT) AS DOUBLE)
         / CAST(CAST(2 AS HUGEINT) * CAST(n_tokens AS HUGEINT) * CAST(n_all AS HUGEINT) AS DOUBLE)
         AS tv_dist
FROM agg
"""


# --- PPS (token-mass-proportional) Poisson sampling -------------------------

# Weight cap (tokens) and the inclusion probability AT the cap. The
# per-token threshold step unit = int(rate * 2^60) // cap is an exact
# int64 plan literal: thr(w) = min(w, cap) * unit  <=  rate * 2^60  <
# 2^63, so the comparison against the 60-bit md5 coin never overflows
# and both engines compare identical integers.
WS_CAP = 512
WS_RATE = 0.5


def weighted_sample(
    docs: DataFrame,
    cap: int = WS_CAP,
    rate: float = WS_RATE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probability-proportional-to-size (PPS) Poisson sampling by token
    mass: keep a doc with inclusion probability
    ``rate * min(n_tokens, cap) / cap`` — the importance sampler that
    weights long documents up (token mass, not doc count, is what a
    training run consumes), with a cap so one mega-document cannot
    dominate the draw.

    Why Poisson (independent per-doc coins) and not fixed-size PPS:
    fixed-size weighted sampling without replacement needs a global
    order statistic over transcendental keys (u^(1/w) — which has no
    cross-engine exactness story AND needs a corpus-wide sort), while
    the Poisson form is MAP-ONLY: one token count, one md5 coin, one
    integer compare, no shuffle, no state. At 10^12 docs it is the only
    shape that runs in one pass, and it inherits hash_sample's
    incremental stability — a doc's keep/drop never changes as the
    corpus grows, so re-ingestion never resamples history.

    Exactness: the threshold is ``min(w, cap) * UNIT`` with
    ``UNIT = int(rate * 2^60) // cap`` — pure int64 arithmetic (max
    value rate*2^60 < 2^60), compared against the salted 60-bit md5
    coin. No doubles anywhere, so the DuckDB twin is bit-identical.
    Zero-token docs get threshold 0 and can never be drawn.
    """
    from log_formatter_spark.functions.hashing import md5_60

    unit = int(rate * (1 << 60)) // cap
    toks = tokens(F.col(text_col))
    coin = md5_60(F.concat(F.lit("wps:"), F.col(id_col).cast("string")))
    return (
        docs.select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            coin.alias("coin"),
        )
        .withColumn(
            "w_capped", F.least(F.col("n_tokens"), F.lit(cap).cast("long"))
        )
        .where(F.col("coin") < F.col("w_capped") * F.lit(unit).cast("long"))
        .select(id_col, "n_tokens", "w_capped", "coin")
    )


def weighted_sample_sql(
    src: str = "documents",
    cap: int = WS_CAP,
    rate: float = WS_RATE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`weighted_sample` — same capped-token
    weight, same salted coin, same exact int64 threshold literal."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL
    from log_formatter_spark.functions.text import TOKENS_SQL

    unit = int(rate * (1 << 60)) // cap
    toks = TOKENS_SQL.format(x=text_col)
    coin = MD5_60_SQL.format(x=f"'wps:' || CAST({id_col} AS VARCHAR)")
    return f"""
SELECT {id_col}, n_tokens, w_capped, coin FROM (
  SELECT {id_col},
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         least(CAST(len({toks}) AS BIGINT), {cap}) AS w_capped,
         {coin} AS coin
  FROM {src}
) WHERE coin < w_capped * {unit}
"""


# --- snapshot diff -----------------------------------------------------------


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-level diff between two corpus snapshots: one output row per
    doc that was ``added`` (only in new), ``removed`` (only in old) or
    ``changed`` (in both, content hash differs) — unchanged docs emit
    nothing, so the output is delta-sized, not corpus-sized.

    The dataset-versioning primitive every recurring-crawl pipeline
    needs: "what actually moved between snapshot N and N+1" drives
    incremental dedup/embedding/index maintenance (only the delta needs
    reprocessing) and regression review before a retrain.

    Plan shape: each side is reduced MAP-SIDE to ``(id, md5(text))``
    before the join, so the full-outer shuffle moves two narrow
    (int64, 32-char) columns — never the text. At 10^12 rows both
    snapshots live bucket-partitioned by ``id`` (the band-index layout
    discipline), making the full-outer a zero-exchange sort-merge;
    the delta output is small by construction (crawl-over-crawl churn
    is a few percent). The content hash means "changed" detection costs
    O(changed) comparisons of 32-char strings, not text equality.
    """
    o = old.select(
        F.col(id_col).alias("_o_id"), F.md5(F.col(text_col)).alias("old_md5")
    )
    n = new.select(
        F.col(id_col).alias("_n_id"), F.md5(F.col(text_col)).alias("new_md5")
    )
    joined = o.join(n, o["_o_id"] == n["_n_id"], "full_outer")
    status = (
        F.when(F.col("_o_id").isNull(), F.lit("added"))
        .when(F.col("_n_id").isNull(), F.lit("removed"))
        .when(F.col("old_md5") != F.col("new_md5"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("_o_id"), F.col("_n_id")).alias(id_col),
            status.alias("status"),
            "old_md5",
            "new_md5",
        )
        .where(F.col("status") != "unchanged")
    )


# Deterministic snapshot fixture for the contract row: v1 keeps coins
# 0-7 of a 10-way md5 split, v2 keeps coins 1-9 (so coin 0 rows are
# removals and coins 8-9 are additions), and within the shared coins a
# 1-in-5 salted coin rewrites the text (revision suffix) so "changed"
# rows exist. Both predicates are pure md5-on-id expressions, rendered
# identically in the SQL twin.
DIFF_SALT_V = "dsv:"
DIFF_SALT_C = "dsc:"


def diff_fixture(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Build the (old, new) snapshot pair :func:`dataset_diff` is graded
    on, from one documents table, deterministically in both engines."""
    from log_formatter_spark.functions.hashing import md5_60

    vcoin = md5_60(F.concat(F.lit(DIFF_SALT_V), F.col(id_col).cast("string"))) % 10
    ccoin = md5_60(F.concat(F.lit(DIFF_SALT_C), F.col(id_col).cast("string"))) % 5
    old = docs.where(vcoin < 8).select(id_col, text_col)
    new = docs.where(vcoin >= 1).select(
        F.col(id_col),
        F.when(ccoin == 0, F.concat(F.col(text_col), F.lit(" [rev2]")))
        .otherwise(F.col(text_col))
        .alias(text_col),
    )
    return old, new


def dataset_diff_sql(
    src: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB rendering of :func:`dataset_diff` over :func:`diff_fixture`
    — same 10-way version coin, same 1-in-5 revision coin, same
    md5-hash compare, same full-outer classification."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    vcoin = MD5_60_SQL.format(x=f"'{DIFF_SALT_V}' || CAST({id_col} AS VARCHAR)")
    ccoin = MD5_60_SQL.format(x=f"'{DIFF_SALT_C}' || CAST({id_col} AS VARCHAR)")
    return f"""
WITH dd_old AS (
  SELECT {id_col} AS _o_id, md5({text_col}) AS old_md5
  FROM {src} WHERE ({vcoin}) % 10 < 8
),
dd_new AS (
  SELECT {id_col} AS _n_id,
         md5(CASE WHEN ({ccoin}) % 5 = 0 THEN {text_col} || ' [rev2]'
                  ELSE {text_col} END) AS new_md5
  FROM {src} WHERE ({vcoin}) % 10 >= 1
)
SELECT COALESCE(_o_id, _n_id) AS {id_col},
       CASE WHEN _o_id IS NULL THEN 'added'
            WHEN _n_id IS NULL THEN 'removed'
            WHEN old_md5 <> new_md5 THEN 'changed'
            ELSE 'unchanged' END AS status,
       old_md5, new_md5
FROM dd_old FULL OUTER JOIN dd_new ON _o_id = _n_id
WHERE (CASE WHEN _o_id IS NULL THEN 'added'
            WHEN _n_id IS NULL THEN 'removed'
            WHEN old_md5 <> new_md5 THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
"""


# --- n-gram novelty vs a reference corpus ------------------------------------

NOV_N = 5
NOV_SALT = "nov:"


def novelty_fixture(
    docs: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (reference, probe) split of one documents table for
    the novelty grading row: a salted md5 coin sends ~80% of docs to the
    reference corpus and ~20% to the probe slice, identically in both
    engines (the diff_fixture discipline)."""
    from log_formatter_spark.functions.hashing import md5_60

    coin = md5_60(F.concat(F.lit(NOV_SALT), F.col(id_col).cast("string"))) % 10
    return docs.where(coin < 8), docs.where(coin >= 8)


def ngram_novelty(
    new: DataFrame,
    ref: DataFrame | None = None,
    n: int = NOV_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: for each
    probe doc, how many of its token n-gram OCCURRENCES (positions, not
    distinct grams — the occurrence-weighted form standard in
    memorization analyses) never appear anywhere in the reference.
    Output ``(id, n_grams, n_novel, novelty_pct)`` — the score that
    separates genuinely new content from re-crawls, template spins and
    near-verbatim quotes of already-ingested data before it is admitted
    to a training mix.

    Plan shape: the probe side explodes n-grams WITHOUT a per-doc
    distinct (`shingle_df(distinct=False)` — the count is duplicate-
    aware by definition, so the full-width (id, shingle) shuffle the
    distinct would cost is skipped); both sides reduce each gram to a
    60-bit md5 immediately, so the only wide exchange carries
    (int64, int64). The reference side is ONE global distinct over
    int64 gram hashes — at production scale a maintained table,
    bucket-partitioned by ``gh`` like the band index, making the probe
    join one-sided; a Bloom pre-filter (``functions.sketch``) turns the
    common all-novel case map-only. Every node below the final per-doc
    aggregate is stateless, which is what lets the STREAMING twin run
    this exact definition unchanged (stream-static left join + one
    bounded aggregate keyed by doc).

    ``novelty_pct`` is exact integer math — ``(n_novel * 100) div
    n_grams`` — both engines floor non-negative integer division, no
    doubles anywhere. Docs with fewer than ``n`` tokens emit nothing
    (no grams to judge), identically in both engines.

    Pass ``ref_grams`` (a frame with column ``gh``, e.g. the persisted
    :func:`gram_index` read back from parquet) to probe a maintained
    index instead of recomputing the reference explode — the
    steady-state ingest shape.
    """
    if (ref is None) == (ref_grams is None):
        raise ValueError("pass exactly one of ref / ref_grams")
    from log_formatter_spark.functions.hashing import md5_60
    from log_formatter_spark.functions.shingles import shingle_df

    ref_g = (
        gram_index(ref, n=n, text_col=text_col, id_col=id_col)
        if ref_grams is None
        else ref_grams.select("gh")
    ).withColumn("_hit", F.lit(1))
    new_g = shingle_df(
        new, n=n, text_col=text_col, id_col=id_col, distinct=False
    ).select(id_col, md5_60(F.col("shingle")).alias("gh"))
    return (
        new_g.join(ref_g, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("_hit").isNull(), F.lit(1))).alias("n_novel"),
        )
        .withColumn("novelty_pct", F.expr("(n_novel * 100) div n_grams"))
    )


def gram_index(
    ref: DataFrame,
    n: int = NOV_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The reference corpus's distinct 60-bit gram-hash set — the
    artifact :func:`ngram_novelty` probes. Persist it once per corpus
    version (`write_gram_index`) instead of recomputing it per scoring
    run: at production scale this is the maintained, bucket-partitioned
    gram table the docstring above promises: an index written once and
    appended to per ingest, never rebuilt. Ingest appends merge into it
    with one distinct over the delta's grams — history is never
    re-exploded."""
    from log_formatter_spark.functions.hashing import md5_60
    from log_formatter_spark.functions.shingles import shingle_df

    return (
        shingle_df(ref, n=n, text_col=text_col, id_col=id_col, distinct=False)
        .select(md5_60(F.col("shingle")).alias("gh"))
        .distinct()
    )


def write_gram_index(
    ref: DataFrame,
    path: str,
    n: int = NOV_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize :func:`gram_index` to parquet. Local paths get a
    plain parquet write; a catalog-managed table would use
    ``bucketBy("gh")`` so the novelty probe join is one-sided
    (zero exchange on the index side), exactly like the band index."""
    gram_index(ref, n=n, text_col=text_col, id_col=id_col).write.mode(
        "overwrite"
    ).parquet(path)


def ngram_novelty_sql(
    src: str = "documents",
    n: int = NOV_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`ngram_novelty` over the
    :func:`novelty_fixture` split — same salted coin, same n-gram
    positions, same 60-bit gram hash, same integer percentage."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    coin = MD5_60_SQL.format(x=f"'{NOV_SALT}' || CAST({id_col} AS VARCHAR)")
    gh = MD5_60_SQL.format(x="shingle")
    parts = " || ' ' || ".join(f"toks[i + {k}]" for k in range(n))
    grams = (
        f"SELECT {id_col}, unnest(list_transform("
        f"generate_series(1, len(toks) - {n - 1}), i -> {parts})) AS shingle\n"
        f"  FROM (SELECT {id_col}, {toks} AS toks FROM {src}\n"
        f"        WHERE ({coin}) % 10 {{cmp}} 8) _t"
    )
    return f"""
WITH ref_g AS (
  SELECT DISTINCT {gh} AS gh FROM ({grams.format(cmp="<")}) _rg
),
new_g AS (
  SELECT {id_col}, {gh} AS gh FROM ({grams.format(cmp=">=")}) _ng
)
SELECT ng.{id_col} AS {id_col},
       count(*) AS n_grams,
       count(*) FILTER (WHERE rg.gh IS NULL) AS n_novel,
       (count(*) FILTER (WHERE rg.gh IS NULL) * 100) // count(*) AS novelty_pct
FROM new_g ng LEFT JOIN ref_g rg ON ng.gh = rg.gh
GROUP BY ng.{id_col}
"""


# --- crawl-fragment stitching (tail/head boundary overlap) -------------------

FRAG_K = 8
FRAG_SALT = "frag:"
FRAG_MAX_BOUNDARY_DOCS = 4


def fragment_fixture(
    docs: DataFrame,
    k: int = FRAG_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build the fragments table :func:`stitch_candidates` is graded on,
    deterministically in both engines: a salted md5 coin picks ~25% of
    sufficiently long docs (≥ 2k tokens) and splits each into two
    fragments that SHARE a k-token boundary — fragment A is tokens
    ``1..m+k`` and fragment B is tokens ``m+1..n`` with ``m = n div 2``,
    so ``tail_k(A) == head_k(B)`` exactly. Unsplit docs pass through
    whole, giving the candidate generator a realistic majority of
    non-matching boundaries. Fragment ids are ``2*doc_id`` (A / whole)
    and ``2*doc_id + 1`` (B), keeping provenance recoverable."""
    from log_formatter_spark.functions.hashing import md5_60

    base = docs.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks").cast("long"))
    coin = md5_60(F.concat(F.lit(FRAG_SALT), F.col("_id").cast("string"))) % 4
    is_split = (coin == 0) & (F.col("n") >= 2 * k)
    split = base.where(is_split).withColumn("m", F.expr("n div 2"))
    frag_a = split.select(
        (F.col("_id") * 2).alias("frag_id"),
        F.concat_ws(
            " ",
            F.slice("toks", F.lit(1), (F.col("m") + F.lit(k)).cast("int")),
        ).alias(text_col),
    )
    frag_b = split.select(
        (F.col("_id") * 2 + 1).alias("frag_id"),
        F.concat_ws(
            " ",
            F.slice(
                "toks",
                (F.col("m") + 1).cast("int"),
                (F.col("n") - F.col("m")).cast("int"),
            ),
        ).alias(text_col),
    )
    whole = base.where(~is_split).select(
        (F.col("_id") * 2).alias("frag_id"),
        F.concat_ws(" ", F.col("toks")).alias(text_col),
    )
    return frag_a.unionByName(frag_b).unionByName(whole)


def stitch_candidates(
    frags: DataFrame,
    k: int = FRAG_K,
    max_boundary_docs: int = FRAG_MAX_BOUNDARY_DOCS,
    id_col: str = "frag_id",
    text_col: str = "text",
) -> DataFrame:
    """Crawl-fragment stitching: find ordered pairs ``(a, b)`` where the
    last k tokens of ``a`` equal the first k tokens of ``b`` — the
    reassembly primitive for corpora ingested as page-size fragments
    (truncated crawls, chat logs split at length limits, OCR page
    breaks), where training on unstitched halves wastes the boundary
    context and double-counts the overlap.

    Plan shape: two map-only projections compute each fragment's
    k-token head and tail strings; the only exchanges are a count
    window per boundary value (the skew guard) and ONE string equi-join
    tail→head. The guard drops boundary values shared by more than
    ``max_boundary_docs`` fragments on either side — a boilerplate
    header ("terms of service apply ...") is a hot join key that would
    otherwise produce a quadratic blowup: one hot key pairs every
    fragment that carries it with every other. Join equality
    is on the literal k-token boundary string (not a hash), so pairs
    are exact — no verification pass needed.
    """
    base = (
        frags.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .withColumn("n", F.size("toks"))
        .where(F.col("n") >= k)
    )
    tails = base.select(
        F.col(id_col).alias("a_id"),
        F.concat_ws(
            " ", F.slice("toks", F.col("n") - F.lit(k) + 1, F.lit(k))
        ).alias("boundary"),
    )
    heads = base.select(
        F.col(id_col).alias("b_id"),
        F.concat_ws(" ", F.slice("toks", F.lit(1), F.lit(k))).alias("boundary"),
    )
    w = Window.partitionBy("boundary")
    tails = (
        tails.withColumn("_tf", F.count(F.lit(1)).over(w))
        .where(F.col("_tf") <= max_boundary_docs)
        .drop("_tf")
    )
    heads = (
        heads.withColumn("_hf", F.count(F.lit(1)).over(w))
        .where(F.col("_hf") <= max_boundary_docs)
        .drop("_hf")
    )
    return (
        tails.join(heads, "boundary")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "boundary")
    )


def stitch_candidates_sql(
    src: str = "documents",
    k: int = FRAG_K,
    max_boundary_docs: int = FRAG_MAX_BOUNDARY_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`stitch_candidates` over the
    :func:`fragment_fixture` fragments — same coin, same split points,
    same boundary strings, same frequency guard."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    rtoks = TOKENS_SQL.format(x="text")
    coin = MD5_60_SQL.format(x=f"'{FRAG_SALT}' || CAST(_id AS VARCHAR)")
    return f"""
WITH fx AS (
  SELECT {id_col} AS _id, {toks} AS toks,
         CAST(len({toks}) AS BIGINT) AS n
  FROM {src}
),
frags AS (
  SELECT _id * 2 AS frag_id,
         array_to_string(list_slice(toks, 1, CAST(n // 2 + {k} AS INT)), ' ') AS text
  FROM fx WHERE ({coin}) % 4 = 0 AND n >= {2 * k}
  UNION ALL
  SELECT _id * 2 + 1,
         array_to_string(list_slice(toks, CAST(n // 2 + 1 AS INT), CAST(n AS INT)), ' ')
  FROM fx WHERE ({coin}) % 4 = 0 AND n >= {2 * k}
  UNION ALL
  SELECT _id * 2, array_to_string(toks, ' ')
  FROM fx WHERE NOT (({coin}) % 4 = 0 AND n >= {2 * k})
),
cand AS (
  SELECT frag_id, {rtoks} AS toks, len({rtoks}) AS n FROM frags
),
eligible AS (
  SELECT frag_id, toks, n FROM cand WHERE n >= {k}
),
tails AS (
  SELECT a_id, boundary FROM (
    SELECT frag_id AS a_id,
           array_to_string(list_slice(toks, n - {k} + 1, n), ' ') AS boundary,
           count(*) OVER (PARTITION BY array_to_string(list_slice(toks, n - {k} + 1, n), ' ')) AS _tf
    FROM eligible
  ) WHERE _tf <= {max_boundary_docs}
),
heads AS (
  SELECT b_id, boundary FROM (
    SELECT frag_id AS b_id,
           array_to_string(list_slice(toks, 1, {k}), ' ') AS boundary,
           count(*) OVER (PARTITION BY array_to_string(list_slice(toks, 1, {k}), ' ')) AS _hf
    FROM eligible
  ) WHERE _hf <= {max_boundary_docs}
)
SELECT t.a_id AS a_id, h.b_id AS b_id, t.boundary AS boundary
FROM tails t JOIN heads h ON t.boundary = h.boundary
WHERE t.a_id <> h.b_id
"""


# --- inter-labeler agreement (label QA) -------------------------------------

RATER_B_MIN_STOP = 0.05
RATER_B_MAX_AVG_TOK = 8.0
RATER_B_MIN_TOKENS = 20


def rater_agreement(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source inter-labeler agreement — observed agreement and
    Cohen's kappa between two keep/drop labelers, the label-QA audit a
    training-data pipeline runs before trusting ANY labeler (heuristic,
    classifier, or human batch): high observed agreement with kappa
    near zero means the labelers agree only as often as chance (one is
    uninformative); a kappa collapse in one source localizes where the
    rules diverge.

    Labeler A is the catalog's quality rule (``quality_score >=
    MIN_QUALITY`` — the same expression family as ``corpus_filter``, so
    this audits the shipping rule, not a copy); labeler B is an
    independent crude rule (stopword floor + token-length ceiling +
    minimum size). Swapping either for a model's keep/drop verdict or
    an imported human-label column is a drop-in: the kappa algebra only
    sees two boolean columns.

    Exactness: the four contingency cells are integer counts; po/pe are
    divisions of exact integers cast to double, pe composes the four
    marginal RATIOS (each <= 1.0 — never an integer product, so no
    overflow at any corpus size, the rate_anomaly discipline) in pinned
    order, and kappa = (po-pe)/nullif(1-pe, 0) — NULL (not a crash, not
    an engine-specific inf) when pe = 1. Zero-token docs are excluded
    on both engines (their ratio labels are NULL — the parity rule:
    filter nulls before boolean aggregation).

    One scan, one narrow (source, 2 bools) exchange with map-side
    partial counts; output is |sources| rows."""
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(source_col).alias("source"),
        F.size(toks).alias("_n_tokens"),
        tok_chars_expr(toks).alias("_tok_chars"),
        _stop_hits(toks, STOPWORDS).alias("_n_stop"),
    ).where(F.col("_n_tokens") > 0)
    a = (
        quality_expr(F.col("_n_tokens"), F.col("_tok_chars"), F.col("_n_stop"))
        >= F.lit(MIN_QUALITY)
    )
    stop_ratio = F.col("_n_stop") / F.col("_n_tokens")
    avg_tok = F.col("_tok_chars") / F.col("_n_tokens")
    b = (
        (stop_ratio >= F.lit(RATER_B_MIN_STOP))
        & (avg_tok <= F.lit(RATER_B_MAX_AVG_TOK))
        & (F.col("_n_tokens") >= F.lit(RATER_B_MIN_TOKENS))
    )
    lab = base.select("source", a.alias("_a"), b.alias("_b"))
    agg = lab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("_a") & F.col("_b"), F.lit(1))).alias("n_both_keep"),
        F.count(F.when(F.col("_a") & ~F.col("_b"), F.lit(1))).alias("n_a_only"),
        F.count(F.when(~F.col("_a") & F.col("_b"), F.lit(1))).alias("n_b_only"),
        F.count(F.when(~F.col("_a") & ~F.col("_b"), F.lit(1))).alias("n_both_drop"),
    )
    n = F.col("n_docs").cast("double")
    po = (F.col("n_both_keep") + F.col("n_both_drop")).cast("double") / n
    pa1 = (F.col("n_both_keep") + F.col("n_a_only")).cast("double") / n
    pb1 = (F.col("n_both_keep") + F.col("n_b_only")).cast("double") / n
    pa0 = (F.col("n_b_only") + F.col("n_both_drop")).cast("double") / n
    pb0 = (F.col("n_a_only") + F.col("n_both_drop")).cast("double") / n
    pe = pa1 * pb1 + pa0 * pb0
    return agg.select(
        "source",
        "n_docs",
        "n_both_keep",
        "n_a_only",
        "n_b_only",
        "n_both_drop",
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))).alias("kappa"),
    )


def rater_agreement_sql(
    src: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL, _stop_hits_sql

    toks = TOKENS_SQL.format(x=text_col)
    q = (
        "0.4 * least(1.0, _n_tokens / 100.0)"
        " + 0.3 * greatest(0.0, 1.0 - abs(_tok_chars / _n_tokens - 5.0) / 5.0)"
        " + 0.3 * least(1.0, (_n_stop / _n_tokens) * 4.0)"
    )
    return f"""
WITH base AS (
  SELECT {source_col} AS source,
         CAST(len({toks}) AS INTEGER) AS _n_tokens,
         CAST(list_reduce(list_prepend(0, list_transform({toks}, t -> CAST(length(t) AS INTEGER))), (a, b) -> a + b) AS INTEGER) AS _tok_chars,
         {_stop_hits_sql(toks, STOPWORDS)} AS _n_stop
  FROM {src}
),
lab AS (
  SELECT source,
         ({q}) >= {MIN_QUALITY} AS _a,
         (_n_stop / _n_tokens) >= {RATER_B_MIN_STOP!r}
           AND (_tok_chars / _n_tokens) <= {RATER_B_MAX_AVG_TOK!r}
           AND _n_tokens >= {RATER_B_MIN_TOKENS} AS _b
  FROM base WHERE _n_tokens > 0
),
agg AS (
  SELECT source,
         count(*) AS n_docs,
         count(*) FILTER (WHERE _a AND _b) AS n_both_keep,
         count(*) FILTER (WHERE _a AND NOT _b) AS n_a_only,
         count(*) FILTER (WHERE NOT _a AND _b) AS n_b_only,
         count(*) FILTER (WHERE NOT _a AND NOT _b) AS n_both_drop
  FROM lab GROUP BY source
)
SELECT source, n_docs, n_both_keep, n_a_only, n_b_only, n_both_drop, po, pe,
       (po - pe) / nullif(1.0 - pe, 0.0) AS kappa
FROM (
  SELECT *,
         CAST(n_both_keep + n_both_drop AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
         (CAST(n_both_keep + n_a_only AS DOUBLE) / CAST(n_docs AS DOUBLE))
           * (CAST(n_both_keep + n_b_only AS DOUBLE) / CAST(n_docs AS DOUBLE))
         + (CAST(n_b_only + n_both_drop AS DOUBLE) / CAST(n_docs AS DOUBLE))
           * (CAST(n_a_only + n_both_drop AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS pe
  FROM agg
)
"""


# --- token-budget water-filling (mixture planning under repeat caps) --------

BUDGET_FILL_TOKENS = 200_000
BUDGET_FILL_MAX_EPOCHS = 4


def token_budget_fill(
    docs: DataFrame,
    budget: int = BUDGET_FILL_TOKENS,
    max_epochs: int = BUDGET_FILL_MAX_EPOCHS,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Water-filling token allocation across sources under a repeat cap —
    the mixture-planning rule for "spend B training tokens, never repeat
    a source more than E times": every source's allocation rises to a
    common water level λ except sources whose capacity (tokens × E)
    caps out below it, whose surplus redistributes to the rest; λ is
    chosen so the allocations sum exactly to the budget. Complements
    :func:`mixture_temperature` (which sets DOC quotas ∝ n^α with no
    capacity notion): this is the allocator that answers "can the
    budget be met at all, and who absorbs the slack when a tail source
    runs dry".

    Closed form, no iteration: sort sources by capacity ascending; at
    rank i the candidate level is (B − Σ caps below) / (sources from i
    up), and the pivot is the FIRST rank whose own capacity reaches its
    candidate level — below the pivot every source is capped, at and
    above it every source gets λ = the pivot's level. When B exceeds
    total capacity there is no pivot and every source caps out (the
    ``filled`` column is how the caller detects the shortfall).

    Exactness: token totals and capacities are exact integers; each
    candidate level is ONE division of exact integers cast to double,
    and pivot selection compares those identical doubles in both
    engines. Windows order by (capacity, source) — a strict total
    order. Scale: per-source totals are a map-side-combined aggregate;
    the unpartitioned windows run over |sources| rows (a bounded
    vocabulary — the driver-sized discipline, in-engine here because
    the algebra is window-expressible). Zero-token sources carry no
    capacity and are excluded on both engines."""
    from log_formatter_spark.functions.text import tokens

    per = (
        docs.select(
            F.col(source_col).alias("source"),
            F.size(tokens(F.col(text_col))).alias("_t"),
        )
        .groupBy("source")
        .agg(F.sum("_t").alias("tokens"))
        .where(F.col("tokens") > 0)
        .select("source", "tokens", (F.col("tokens") * F.lit(max_epochs)).alias("cap"))
    )
    w = Window.orderBy("cap", "source")
    wall = Window.orderBy("cap", "source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per.select(
        "source",
        "tokens",
        "cap",
        F.row_number().over(w).alias("_rk"),
        F.coalesce(
            F.sum("cap").over(
                Window.orderBy("cap", "source").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_below"),
        F.count(F.lit(1)).over(wall).alias("_s"),
    )
    level = (F.lit(int(budget)) - F.col("_below")).cast("double") / (
        F.col("_s") - F.col("_rk") + F.lit(1)
    ).cast("double")
    cand = ranked.withColumn("_level", level)
    pivot = F.min(
        F.when(F.col("_level") <= F.col("cap").cast("double"), F.col("_rk"))
    ).over(wall)
    lam = F.max(
        F.when(F.col("_rk") == F.col("_pivot"), F.col("_level"))
    ).over(wall)
    out = (
        cand.withColumn("_pivot", pivot)
        .withColumn("_lam", lam)
        .select(
            "source",
            "tokens",
            "cap",
            F.when(
                F.col("_pivot").isNull() | (F.col("_rk") < F.col("_pivot")),
                F.col("cap").cast("double"),
            )
            .otherwise(F.col("_lam"))
            .alias("alloc"),
            (F.col("_pivot").isNotNull() & (F.col("_rk") >= F.col("_pivot"))).alias(
                "filled"
            ),
        )
    )
    return out.withColumn("epochs", F.col("alloc") / F.col("tokens").cast("double"))


def token_budget_fill_sql(
    src: str = "documents",
    budget: int = BUDGET_FILL_TOKENS,
    max_epochs: int = BUDGET_FILL_MAX_EPOCHS,
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH per AS (
  SELECT source, tokens, tokens * {max_epochs} AS cap FROM (
    SELECT {source_col} AS source,
           CAST(sum(CAST(len({toks}) AS INTEGER)) AS BIGINT) AS tokens
    FROM {src} GROUP BY {source_col}
  ) WHERE tokens > 0
),
ranked AS (
  SELECT source, tokens, cap,
         CAST(row_number() OVER (ORDER BY cap, source) AS INTEGER) AS _rk,
         COALESCE(CAST(sum(cap) OVER (ORDER BY cap, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS _below,
         CAST(count(*) OVER () AS INTEGER) AS _s
  FROM per
),
cand AS (
  SELECT *,
         CAST({int(budget)} - _below AS DOUBLE) / CAST(_s - _rk + 1 AS DOUBLE) AS _level
  FROM ranked
),
pv AS (
  SELECT *,
         min(CASE WHEN _level <= CAST(cap AS DOUBLE) THEN _rk END) OVER () AS _pivot
  FROM cand
),
lm AS (
  SELECT *, max(CASE WHEN _rk = _pivot THEN _level END) OVER () AS _lam FROM pv
)
SELECT source, tokens, cap,
       CASE WHEN _pivot IS NULL OR _rk < _pivot THEN CAST(cap AS DOUBLE)
            ELSE _lam END AS alloc,
       (_pivot IS NOT NULL AND _rk >= _pivot) AS filled,
       CASE WHEN _pivot IS NULL OR _rk < _pivot THEN CAST(cap AS DOUBLE)
            ELSE _lam END / CAST(tokens AS DOUBLE) AS epochs
FROM lm
"""


# --- per-source quality calibration ------------------------------------------


def quality_calibration(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source percentile calibration of the quality score: a doc's
    ``pct_in_source`` is its percent_rank WITHIN its ingest source —
    the score that makes a single keep-threshold comparable across
    sources whose raw-score distributions differ (a 0.6 from a
    boilerplate-heavy crawl and a 0.6 from curated text are not the
    same animal; their 80th percentiles are). Complements
    ``quality_deciles`` (global token-mass bands): this is the
    per-source rank transform mixture builders threshold on.

    Exactness: percent_rank over the strict total order
    (quality_score, doc_id) — no rank ties, so percent_rank ==
    (row_number-1)/(n-1), one exact-integer division per row;
    single-doc sources get 0.0 in both engines (pinned by test).
    Zero-token docs are excluded before ranking (NULL-score parity
    rule). The per-source sort is the honest cost (it sorts a NARROW
    (source, score, id) projection); the production swap at extreme
    scale is per-source approx-quantile thresholds + a map-only bucket
    lookup, same output contract with sketch-accuracy boundaries."""
    toks = tokens(F.col(text_col))
    scored = (
        docs.select(
            F.col(id_col),
            F.col(source_col).alias("source"),
            F.size(toks).alias("_n_tokens"),
            tok_chars_expr(toks).alias("_tok_chars"),
            _stop_hits(toks, STOPWORDS).alias("_n_stop"),
        )
        .where(F.col("_n_tokens") > 0)
        .select(
            id_col,
            "source",
            quality_expr(
                F.col("_n_tokens"), F.col("_tok_chars"), F.col("_n_stop")
            ).alias("quality_score"),
        )
    )
    w = Window.partitionBy("source").orderBy("quality_score", id_col)
    return scored.select(
        id_col, "source", "quality_score", F.percent_rank().over(w).alias("pct_in_source")
    )


def quality_calibration_sql(
    src: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    source_col: str = "source",
) -> str:
    from log_formatter_spark.functions.text import TOKENS_SQL, _stop_hits_sql

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
WITH base AS (
  SELECT {id_col}, {source_col} AS source,
         CAST(len({toks}) AS INTEGER) AS _n_tokens,
         CAST(list_reduce(list_prepend(0, list_transform({toks}, t -> CAST(length(t) AS INTEGER))), (a, b) -> a + b) AS INTEGER) AS _tok_chars,
         {_stop_hits_sql(toks, STOPWORDS)} AS _n_stop
  FROM {src}
),
scored AS (
  SELECT {id_col}, source,
         0.4 * least(1.0, _n_tokens / 100.0)
       + 0.3 * greatest(0.0, 1.0 - abs(_tok_chars / _n_tokens - 5.0) / 5.0)
       + 0.3 * least(1.0, (_n_stop / _n_tokens) * 4.0) AS quality_score
  FROM base WHERE _n_tokens > 0
)
SELECT {id_col}, source, quality_score,
       percent_rank() OVER (PARTITION BY source ORDER BY quality_score, {id_col}) AS pct_in_source
FROM scored
"""


# --- cross-corpus line-level dedup (CCNet) ---------------------------------


LINE_FIXTURE_WIDTH = 5


def line_fixture(
    docs: DataFrame,
    width: int = LINE_FIXTURE_WIDTH,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic line-structured corpus for :func:`line_dedup`: the
    driver's synthetic documents carry no newlines, so the contract
    fixture re-chunks each document's tokens into ``width``-token body
    lines and injects the boilerplate the CCNet line rule exists to
    strip — a per-source header line (every doc of a source shares it,
    the per-site nav/promo line of a real crawl) and one corpus-wide
    footer line (the license blurb). Pure map-only projection; both
    engines compute the identical string (:func:`line_fixture_sql`)."""
    toks = tokens(F.col(text_col))
    n_body = F.greatest(
        ((F.size(toks) + F.lit(width - 1)) / F.lit(width)).cast("int"), F.lit(1)
    )
    body = F.filter(
        F.transform(
            F.sequence(F.lit(1), n_body),
            lambda j: F.array_join(
                F.slice(toks, (j - F.lit(1)) * F.lit(width) + F.lit(1), width), " "
            ),
        ),
        lambda s: F.length(s) > 0,
    )
    header = F.concat(F.lit("visit "), F.col(source_col), F.lit(" dot com"))
    footer = F.lit("all rights reserved")
    lines = F.concat(F.array(header), body, F.array(footer))
    return docs.select(
        F.col(id_col), F.array_join(lines, "\n").alias(text_col)
    )


def line_fixture_sql(
    src: str = "documents",
    width: int = LINE_FIXTURE_WIDTH,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    """DuckDB rendering of :func:`line_fixture` — same token re-chunking,
    same injected header/footer lines, byte-identical output string."""
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=text_col)
    return f"""
SELECT {id_col},
       array_to_string(
         list_concat(
           list_concat(
             ['visit ' || {source_col} || ' dot com'],
             list_filter(
               list_transform(
                 generate_series(1, greatest((len(toks) + {width - 1}) // {width}, 1)),
                 j -> array_to_string(list_slice(toks, (j - 1) * {width} + 1, j * {width}), ' ')),
               s -> length(s) > 0)),
           ['all rights reserved']),
         chr(10)) AS {text_col}
FROM (SELECT {id_col}, {source_col}, {toks} AS toks FROM {src}) _lf
"""


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus LINE-level dedup — the CCNet rule (Wenzek et al.
    2020; C4 applies the same idea at three-sentence spans): a physical
    line survives iff it is the globally FIRST occurrence of that exact
    line, ordered by ``(doc_id, position)``; every later copy anywhere
    in the corpus is stripped. Granularity sits between
    :func:`strip_boilerplate` (df-threshold n-gram shingles — removes
    EVERY copy once hot) and exact doc dedup: nav bars, cookie banners
    and license footers vanish from all but one document while the
    first occurrence — and all novel prose — survives verbatim. Output
    ``({id}, clean_text, n_lines, n_kept)``, one row per input doc
    (fully-duplicated docs keep an empty clean_text so downstream
    length filters see them).

    100 TB plan: lines explode map-side from the text scan and are
    immediately reduced to ``(line_hash, min-struct(doc_id, pos))`` —
    a map-side-combinable aggregate, so the corpus-wide footer line
    contributes ONE row per map task to the exchange, not one per
    occurrence (no hot-key exchange). The probe join back is keyed on
    the same 60-bit hash; its only skew surface is a boilerplate line's
    occurrence list against a SINGLE winner row — the shape AQE's
    skew-join splits for free. Reassembly is one doc-keyed aggregation
    with the deterministic struct-array_sort rebuild. Total: one
    aggregate exchange + one hash join + one doc-keyed agg, all linear
    in corpus bytes."""
    from log_formatter_spark.functions.hashing import md5_60

    arr = F.filter(F.split(F.col(text_col), "\n"), lambda s: F.length(s) > 0)
    base = docs.select(F.col(id_col), arr.alias("_arr"))
    # coalesce makes the join/group key provably non-nullable, so
    # Catalyst does not push an isnotnull(key) filter that re-evaluates
    # the md5 expression per row (the re-inlining trap the catalog plan
    # sweep guards; lines are never NULL — posexplode of a filtered array)
    lines = base.select(
        id_col, F.posexplode("_arr").alias("_p0", "line")
    ).select(
        id_col,
        (F.col("_p0") + F.lit(1)).alias("p"),
        "line",
        F.coalesce(md5_60(F.col("line")), F.lit(0)).alias("h"),
    )
    winners = lines.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("wid"), F.col("p").alias("wp"))).alias("w")
    )
    kept = (
        lines.join(winners, "h")
        .where((F.col(id_col) == F.col("w.wid")) & (F.col("p") == F.col("w.wp")))
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("p"), F.col("line")))),
            lambda s: s.getField("line"),
        ),
        "\n",
    )
    agg = kept.groupBy(id_col).agg(
        rebuilt.alias("clean_text"), F.count(F.lit(1)).alias("n_kept")
    )
    return (
        base.select(F.col(id_col), F.size("_arr").cast("bigint").alias("n_lines"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def line_dedup_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`line_dedup` — same 60-bit line hash,
    same order-free min-struct winner, same position-ordered rebuild."""
    from log_formatter_spark.functions.hashing import MD5_60_SQL

    h = MD5_60_SQL.format(x="line")
    return f"""
WITH la AS (
  SELECT {id_col},
         list_filter(string_split({text_col}, chr(10)), s -> length(s) > 0) AS arr
  FROM {src}
),
lx AS (
  SELECT {id_col}, u.p AS p, u.line AS line, coalesce({h}, 0) AS h
  FROM (
    SELECT {id_col},
           unnest(list_transform(generate_series(1, len(arr)),
                                 i -> {{'p': i, 'line': arr[i]}})) AS u
    FROM la WHERE len(arr) > 0
  )
),
win AS (
  SELECT h, min(struct_pack(wid := {id_col}, wp := p)) AS w
  FROM lx GROUP BY h
),
kept AS (
  SELECT lx.{id_col}, lx.p, lx.line
  FROM lx JOIN win USING (h)
  WHERE lx.{id_col} = (win.w).wid AND lx.p = (win.w).wp
),
agg AS (
  SELECT {id_col},
         string_agg(line, chr(10) ORDER BY p) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY {id_col}
),
base AS (SELECT {id_col}, CAST(len(arr) AS BIGINT) AS n_lines FROM la)
SELECT base.{id_col},
       coalesce(agg.clean_text, '') AS clean_text,
       base.n_lines,
       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
FROM base LEFT JOIN agg USING ({id_col})
"""


# --- Gopher quality rules --------------------------------------------------


# The required-stopword list from Gopher/MassiveText (Rae et al. 2021,
# arXiv:2112.11446 A1.1): a doc must contain >= 2 of these to pass R5.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The NAMED Gopher/MassiveText quality-rule audit (Rae et al. 2021
    A1.1) — per-document boolean flags for each published rule plus the
    conjunction, the per-rule diagnostic a curation pipeline wants
    BEFORE collapsing quality to one score (``corpus_filter`` /
    ``text_stats`` give a blended score; this says WHICH rule a doc
    fails):

    - R1 ``ok_word_count``: 50 <= words <= 100,000
    - R2 ``ok_mean_word_len``: mean word length in [3, 10]
    - R3 ``ok_symbol_ratio``: (# + ellipsis chars) / words <= 0.1
    - R4 ``ok_alpha_words``: >= 80% of words contain an alphabetic char
    - R5 ``ok_stopwords``: >= 2 distinct required stopwords present
    - R6 ``ok_bullet_lines``: <= 90% of lines start with a bullet
    - R7 ``ok_ellipsis_lines``: <= 30% of lines end with an ellipsis

    EVERY decision is an exact integer comparison (cross-multiplied
    ratios — ``10*n_sym <= n_words``, ``10*n_alpha >= 8*n_words``, …),
    so no float enters any flag and both engines agree exactly on
    boundary documents (the rate_anomaly discipline). Word-level rules
    treat newlines as whitespace (a line break separates words); line
    rules run on the physical non-empty lines. Alphabetic = ASCII
    [a-z] over the canonical lowercased tokens — the documented
    simplification ``text_stats``' alpha_ratio already uses.

    100 TB plan: one map-only projection over the text scan — zero
    shuffles, zero joins, whole-stage codegen end to end; the audit of
    10^12 docs costs exactly one pass."""
    flat = F.translate(F.col(text_col), "\n", " ")
    toks = tokens(flat)
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda s: F.length(s) > 0)
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_words"),
        tok_chars_expr(toks).alias("_c"),
        F.size(F.regexp_extract_all(flat, F.lit("[#…]"), F.lit(0))).alias("_sym"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).alias("_alpha"),
        F.size(F.array_intersect(toks, req)).alias("_req"),
        F.size(lines).alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda s: (F.substring(s, 1, 2) == "- ")
                | F.substring(s, 1, 1).isin("•", "*"),
            )
        ).alias("_bullet"),
        F.size(
            F.filter(lines, lambda s: s.endswith("…") | s.endswith("..."))
        ).alias("_ell"),
    )
    w = F.col("n_words")
    out = base.select(
        id_col,
        "n_words",
        "n_lines",
        ((w >= 50) & (w <= 100_000)).alias("ok_word_count"),
        ((F.col("_c") >= 3 * w) & (F.col("_c") <= 10 * w)).alias("ok_mean_word_len"),
        (10 * F.col("_sym") <= w).alias("ok_symbol_ratio"),
        (10 * F.col("_alpha") >= 8 * w).alias("ok_alpha_words"),
        (F.col("_req") >= 2).alias("ok_stopwords"),
        (10 * F.col("_bullet") <= 9 * F.col("n_lines")).alias("ok_bullet_lines"),
        (10 * F.col("_ell") <= 3 * F.col("n_lines")).alias("ok_ellipsis_lines"),
    )
    flags = [c for c in out.columns if c.startswith("ok_")]
    expr = F.col(flags[0])
    for c in flags[1:]:
        expr = expr & F.col(c)
    return out.withColumn("pass_gopher", expr)


def gopher_rules_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB rendering of :func:`gopher_rules` — same integer
    cross-multiplied decisions, same token/line definitions."""
    from log_formatter_spark.functions.text import TOKENS_SQL

    toks = TOKENS_SQL.format(x=f"replace({text_col}, chr(10), ' ')")
    req = "[" + ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_STOPWORDS) + "]"
    return f"""
WITH base AS (
  SELECT {id_col},
         CAST(len(toks) AS INTEGER) AS n_words,
         CAST(list_reduce(list_prepend(0, list_transform(toks, t -> CAST(length(t) AS INTEGER))), (a, b) -> a + b) AS INTEGER) AS _c,
         CAST(len(regexp_extract_all(replace({text_col}, chr(10), ' '), '[#…]')) AS INTEGER) AS _sym,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS INTEGER) AS _alpha,
         CAST(len(list_intersect(toks, {req})) AS INTEGER) AS _req,
         CAST(len(lns) AS INTEGER) AS n_lines,
         CAST(len(list_filter(lns, s -> s LIKE '- %' OR left(s, 1) IN ('•', '*'))) AS INTEGER) AS _bullet,
         CAST(len(list_filter(lns, s -> s LIKE '%…' OR s LIKE '%...')) AS INTEGER) AS _ell
  FROM (
    SELECT {id_col}, {text_col}, {toks} AS toks,
           list_filter(string_split({text_col}, chr(10)), s -> length(s) > 0) AS lns
    FROM {src}
  )
)
SELECT {id_col}, n_words, n_lines,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (_c >= 3 * n_words AND _c <= 10 * n_words) AS ok_mean_word_len,
       (10 * _sym <= n_words) AS ok_symbol_ratio,
       (10 * _alpha >= 8 * n_words) AS ok_alpha_words,
       (_req >= 2) AS ok_stopwords,
       (10 * _bullet <= 9 * n_lines) AS ok_bullet_lines,
       (10 * _ell <= 3 * n_lines) AS ok_ellipsis_lines,
       ((n_words >= 50 AND n_words <= 100000)
        AND (_c >= 3 * n_words AND _c <= 10 * n_words)
        AND (10 * _sym <= n_words)
        AND (10 * _alpha >= 8 * n_words)
        AND (_req >= 2)
        AND (10 * _bullet <= 9 * n_lines)
        AND (10 * _ell <= 3 * n_lines)) AS pass_gopher
FROM base
"""
