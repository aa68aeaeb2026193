"""Word n-gram shingling — the shared substrate for minhash dedup and
document fingerprinting.

Both engines build the same (doc_id, shingle) set:
  Spark : explode(sequence(1, size(toks)-n+1)) + element_at slices
  DuckDB: lateral range(1, len(toks)-n+2) + 1-based list indexing

The shingle table is the scale-critical intermediate: at 10^12 docs it
is ~#tokens rows wide but only two columns, feeds straight into hash
aggregations (min-hash) or a shingle-keyed self-join (shared-span and
winnow pairs), and never materializes the original text past the first
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_formatter_spark.functions.hashing import md5_60, MD5_60_SQL
from log_formatter_spark.functions.text import tokens, TOKENS_SQL


def shingle_df(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document (a set when ``distinct=True``).

    ``distinct=False`` skips the dedup — and with it a full-width
    shuffle of the (id, shingle) table. Correct whenever the consumer is
    duplicate-idempotent: min-hash signatures use it (min over a
    multiset == min over its set), which leaves the signature plan with
    a single exchange that carries only (id, 16 longs) partials.
    Set-semantics consumers (Jaccard counts, fingerprint cardinality)
    must keep the default."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).where(
        F.size("toks") >= n
    )
    idx = base.select(
        id_col,
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1))).alias("i"),
    )
    parts = [F.element_at(F.col("toks"), F.col("i") + F.lit(k)) for k in range(n)]
    out = idx.select(id_col, F.concat_ws(" ", *parts).alias("shingle"))
    return out.distinct() if distinct else out


def shingles_sql(
    src: str = "documents", n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    toks = TOKENS_SQL.format(x=text_col)
    parts = " || ' ' || ".join(f"toks[i + {k}]" for k in range(n))
    return f"""
SELECT DISTINCT {id_col}, shingle FROM (
  SELECT {id_col},
         unnest(list_transform(generate_series(1, len(toks) - {n - 1}), i -> {parts})) AS shingle
  FROM (SELECT {id_col}, {toks} AS toks FROM {src}) _t
)
"""


def positional_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, i, shingle, n_sh) with 1-based position — winnowing needs the
    sequence, not the set, so duplicates at different positions survive.
    ``n_sh`` (shingle count) rides along from ``size(toks)`` so consumers
    can bound window starts without a second aggregation pass."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).where(
        F.size("toks") >= n
    )
    idx = base.select(
        id_col,
        "toks",
        (F.size("toks") - (n - 1)).alias("n_sh"),
        F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1))).alias("i"),
    )
    parts = [F.element_at(F.col("toks"), F.col("i") + F.lit(k)) for k in range(n)]
    return idx.select(id_col, "i", F.concat_ws(" ", *parts).alias("shingle"), "n_sh")


def winnow(
    df: DataFrame,
    n: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): slide a ``w``-wide window over the positional shingle
    hash sequence and keep each window's minimum; distinct selected
    hashes are the document's fingerprints.

    Guarantees (why plagiarism/near-dup pipelines use it over bottom-k):
    any shared run of ``w + n - 1`` tokens between two documents yields
    at least one IDENTICAL selected fingerprint, and fingerprint density
    is ~2/(w+1) of shingles regardless of document length.

    Plan: positional shingles (map-only after the token projection) →
    ONE hash exchange on doc_id with a per-partition sort by position →
    rolling ``min`` over ROWS [i, i+w-1] → distinct. Docs shorter than a
    full window degrade to their global min hash (the ``greatest(1, ..)``
    clamp) so every tokenizable doc gets ≥1 fingerprint. The distinct's
    second exchange carries only (doc_id, fp) pairs, ~2/(w+1) the
    shingle count.
    """
    pos = positional_shingles(df, n=n, text_col=text_col, id_col=id_col)
    pos = pos.select(id_col, "i", "n_sh", md5_60(F.col("shingle")).alias("h"))
    roll = Window.partitionBy(id_col).orderBy("i").rowsBetween(0, w - 1)
    return (
        pos.select(
            id_col,
            "i",
            "n_sh",
            F.min("h").over(roll).alias("fp"),
        )
        .where(F.col("i") <= F.greatest(F.lit(1), F.col("n_sh") - (w - 1)))
        .select(id_col, "fp")
        .distinct()
    )


def positional_shingles_sql(
    src: str = "documents", n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    toks = TOKENS_SQL.format(x=text_col)
    parts = " || ' ' || ".join(f"toks[i + {k}]" for k in range(n))
    return f"""
SELECT {id_col}, s.i AS i, s.shingle AS shingle, len(toks) - {n - 1} AS n_sh
FROM (
  SELECT {id_col}, toks,
         unnest(list_transform(generate_series(1, len(toks) - {n - 1}),
                               i -> {{'i': i, 'shingle': {parts}}})) AS s
  FROM (SELECT {id_col}, {toks} AS toks FROM {src}) _t
  WHERE len(toks) >= {n}
)
"""


def winnow_sql(
    src: str = "documents",
    n: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    h = MD5_60_SQL.format(x="shingle")
    return f"""
WITH pos AS (
  SELECT {id_col}, i, {h} AS h, n_sh
  FROM ({positional_shingles_sql(src, n=n, text_col=text_col, id_col=id_col)})
)
SELECT DISTINCT {id_col}, fp FROM (
  SELECT {id_col}, i, n_sh,
         min(h) OVER (PARTITION BY {id_col} ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
  FROM pos
) WHERE i <= greatest(1, n_sh - {w - 1})
"""


def winnow_pairs(
    df: DataFrame,
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared-run near-dup pairs by winnow-fingerprint blocking: two
    docs pair iff they share ≥ ``min_shared`` selected fingerprints.

    By the winnowing guarantee, any shared token run of length
    ≥ w + n - 1 forces a shared fingerprint — so this detects verbatim
    passage reuse (the "substring duplication" regime of training-data
    dedup, cf. exact-substring dedup over suffix arrays) with an
    inverted-index join on the ~2/(w+1)-density fingerprint table, not
    on raw shingles: an inverted-index self-join, but over a
    sequence-aware, pre-thinned key set."""
    fp = winnow(df, n=n, w=w, text_col=text_col, id_col=id_col)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, on="fp")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def winnow_pairs_sql(
    src: str = "documents",
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
WITH fp AS ({winnow_sql(src, n=n, w=w, text_col=text_col, id_col=id_col)})
SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, count(*) AS shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp
WHERE a.{id_col} < b.{id_col}
GROUP BY a.{id_col}, b.{id_col}
HAVING count(*) >= {min_shared}
"""


def repetition_score(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition: fraction of n-gram occurrences that
    are repeats (1 - distinct/total shingles) — the Gopher-style
    quality signal that catches boilerplate loops and degenerate
    generations. One grouped aggregation over the positional shingle
    table; the division is a single IEEE op on exact integer counts, so
    the oracle hash-matches."""
    pos = positional_shingles(df, n=n, text_col=text_col, id_col=id_col)
    return pos.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.countDistinct("shingle").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("rep_ratio"),
    )


def repetition_score_sql(
    src: str = "documents", n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    return f"""
SELECT {id_col}, count(*) AS n_shingles,
       count(DISTINCT shingle) AS n_distinct,
       1.0 - CAST(count(DISTINCT shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rep_ratio
FROM ({positional_shingles_sql(src, n=n, text_col=text_col, id_col=id_col)})
GROUP BY {id_col}
"""


def fingerprint(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rolling-hash document fingerprint: bottom sketch of shingle hashes.

    min/max of the 60-bit shingle hashes + distinct-shingle count. min
    and max are order-independent aggregates — deterministic at any
    parallelism, and the shuffle carries only (doc_id, 3 longs).
    """
    sh = shingle_df(df, n=n, text_col=text_col, id_col=id_col)
    h = md5_60(F.col("shingle"))
    return sh.groupBy(id_col).agg(
        F.min(h).alias("fp_min"),
        F.max(h).alias("fp_max"),
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
    )


def fingerprint_sql(
    src: str = "documents", n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    h = MD5_60_SQL.format(x="shingle")
    return f"""
WITH sh AS ({shingles_sql(src, n=n, text_col=text_col, id_col=id_col)})
SELECT {id_col}, min({h}) AS fp_min, max({h}) AS fp_max,
       CAST(count(*) AS BIGINT) AS n_shingles
FROM sh GROUP BY {id_col}
"""


# --- exact-substring dedup (r3 VERDICT #8) ---------------------------------


def exact_spans(
    df: DataFrame,
    min_tokens: int = 12,
    seed: int = 8,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact repeated token spans ≥ ``min_tokens`` across documents —
    the regime of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), whose single-machine tool is a suffix
    array. The distributed rendering: a span of ``m ≥ seed`` shared
    tokens is exactly a run of ``m − seed + 1`` consecutive shared
    ``seed``-shingles on one (i_a − i_b) diagonal, so maximal repeated
    spans fall out of a positional-shingle inverted index + one
    gaps-and-islands window — no suffix array, no global sort.

    Returns (doc_a, doc_b, a_start, b_start, span_tokens): 1-based
    token offsets of each MAXIMAL shared span (doc_a < doc_b).

    Plan at 10^12 tokens: postings shuffle once on the 60-bit shingle
    hash (cost Σ df² per shingle — ``seed`` = 8-grams are near-unique
    in natural text, so df ≈ 1 almost everywhere); matches shuffle once
    on (doc_a, doc_b) for the diagonal window; both exchanges carry
    integer-only rows. ``max_df`` (optional) drops shingles hotter than
    the cap before the self-join — the skew escape hatch for degenerate
    boilerplate; it TRUNCATES spans that pass through dropped shingles,
    so leaving it None keeps the operator exact (a stop-shingle cap
    trades recall on boilerplate-heavy spans for a bounded join).

    Keys are md5-derived 60-bit hashes (house style): a cross-doc
    collision would need ~2^30 distinct shingles sharing a bucket; the
    DuckDB oracle renders the identical hashing, so the driver gate is
    exact either way.
    """
    if min_tokens < seed:
        # a span of length in [min_tokens, seed-1] contains no
        # seed-shingle at all, so it would be SILENTLY invisible —
        # callers asking for shorter spans must lower the seed too
        raise ValueError(
            f"min_tokens ({min_tokens}) must be >= seed ({seed}): spans "
            "shorter than the seed shingle produce no diagonal run"
        )
    pos = positional_shingles(df, n=seed, text_col=text_col, id_col=id_col)
    ph = pos.select(F.col(id_col), "i", md5_60(F.col("shingle")).alias("h"))
    if max_df is not None:
        # DOCUMENT frequency (distinct docs per shingle) — a raw
        # occurrence count would let within-doc repetition alone trip
        # the cap and truncate real cross-doc spans
        hot = ph.groupBy("h").agg(
            F.countDistinct(id_col).alias("df")
        ).where(F.col("df") > max_df)
        ph = ph.join(hot, "h", "left_anti")
    a = ph.select(F.col(id_col).alias("doc_a"), F.col("i").alias("ia"), "h")
    b = ph.select(F.col(id_col).alias("doc_b"), F.col("i").alias("ib"), "h")
    matches = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ia", "ib", (F.col("ia") - F.col("ib")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = matches.select(
        "doc_a", "doc_b", "diag", "ia", "ib",
        (F.col("ia") - F.row_number().over(w)).alias("grp"),
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("ia").alias("a_start"),
            F.min("ib").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(seed - 1)).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_tokens)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


def exact_spans_sql(
    src: str = "documents",
    min_tokens: int = 12,
    seed: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_ctes: str = "",
) -> str:
    """DuckDB rendering: identical hashing, diagonals and islands.
    positional_shingles_sql's ``i`` is BIGINT (generate_series); Spark's
    is INT (sequence of int literals) — offsets cast to INTEGER and the
    run count to BIGINT to match Spark's count(*) + int literal.
    ``extra_ctes``: "name AS (...)," fragments spliced ahead of the
    operator's own CTEs (for fixture views over ``src``)."""
    h = MD5_60_SQL.format(x="shingle")
    return f"""
WITH {extra_ctes} pos AS (
  SELECT {id_col}, CAST(i AS INTEGER) AS i, {h} AS h
  FROM ({positional_shingles_sql(src, n=seed, text_col=text_col, id_col=id_col)})
),
matches AS (
  SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, a.i AS ia, b.i AS ib,
         a.i - b.i AS diag
  FROM pos a JOIN pos b ON a.h = b.h AND a.{id_col} < b.{id_col}
),
runs AS (
  SELECT doc_a, doc_b, diag, ia, ib,
         ia - CAST(row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY ia)
                   AS INTEGER) AS grp
  FROM matches
)
SELECT doc_a, doc_b,
       CAST(min(ia) AS INTEGER) AS a_start,
       CAST(min(ib) AS INTEGER) AS b_start,
       CAST(count(*) + {seed - 1} AS BIGINT) AS span_tokens
FROM runs
GROUP BY doc_a, doc_b, diag, grp
HAVING count(*) + {seed - 1} >= {min_tokens}
"""


def span_dup_stats(
    df: DataFrame,
    min_tokens: int = 12,
    seed: int = 8,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-token mass from :func:`exact_spans` — the
    actionable form of exact-substring dedup (Lee et al. 2022 drop docs
    / cut spans by exactly this measure): (doc_id, n_tokens, dup_tokens,
    dup_fraction) where ``dup_tokens`` counts tokens covered by at least
    one cross-doc repeated span ≥ ``min_tokens``.

    A token can sit under MANY spans (every partner doc yields one), so
    the per-doc span set is interval-MERGED before counting — a second
    gaps-and-islands: sort a doc's [start, end] intervals by start, a
    new island begins where start exceeds the running max end of all
    earlier intervals (one window max), then islands reduce to
    ``end − start + 1`` token counts. All integer ops + one final IEEE
    division → hash-exact oracle.

    Plan: exact_spans' two exchanges, then the per-doc interval table
    (spans are sparse — ≪ corpus tokens) shuffles once on doc_id for
    the merge window, and the doc spine joins back only to stamp zeros
    on span-free docs. Every doc appears exactly once.
    """
    spans = exact_spans(
        df, min_tokens=min_tokens, seed=seed, max_df=max_df,
        text_col=text_col, id_col=id_col,
    )
    ivals = spans.select(
        F.col("doc_a").alias(id_col),
        F.col("a_start").alias("s"),
        (F.col("a_start") + F.col("span_tokens") - 1).alias("e"),
    ).unionAll(
        spans.select(
            F.col("doc_b").alias(id_col),
            F.col("b_start").alias("s"),
            (F.col("b_start") + F.col("span_tokens") - 1).alias("e"),
        )
    ).distinct()
    # distinct makes (s, e) UNIQUE per doc, so the merge windows' order
    # is total: with duplicate intervals (one span shared with many
    # partner docs), ROWS-framed ties are ordered arbitrarily and
    # INDEPENDENTLY in the flag pass and the cumulative-sum pass — the
    # island ids came out nondeterministic (caught as a DuckDB-vs-Spark
    # 12-vs-24 divergence). Duplicates carry no merge information.
    order = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(order.rowsBetween(Window.unboundedPreceding, -1))
    marked = ivals.select(
        id_col, "s", "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # ROWS frame, not Spark's default RANGE: duplicate (s, e) intervals
    # (one span shared with several partner docs) are frame PEERS under
    # RANGE, which would diverge from the oracle's ROWS cumulative sum
    islands = marked.select(
        id_col, "s", "e",
        F.sum("new_island")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    per_doc = (
        islands.groupBy(id_col, "island")
        .agg((F.max("e") - F.min("s") + 1).alias("ilen"))
        .groupBy(id_col)
        .agg(F.sum("ilen").alias("dup_tokens"))
    )
    spine = df.select(
        F.col(id_col),
        F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("n_tokens"),
    )
    return spine.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
        ).alias("dup_fraction"),
    )


def span_dup_stats_sql(
    src: str = "documents",
    min_tokens: int = 12,
    seed: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_ctes: str = "",
) -> str:
    toks = TOKENS_SQL.format(x=f"COALESCE({text_col}, '')")
    return f"""
WITH {extra_ctes} spans AS ({exact_spans_sql(src, min_tokens=min_tokens, seed=seed,
                                             text_col=text_col, id_col=id_col)}),
ivals AS (
  SELECT DISTINCT * FROM (
    SELECT doc_a AS {id_col}, a_start AS s,
           a_start + CAST(span_tokens AS INTEGER) - 1 AS e FROM spans
    UNION ALL
    SELECT doc_b, b_start, b_start + CAST(span_tokens AS INTEGER) - 1 FROM spans
  )
),
marked AS (
  SELECT {id_col}, s, e,
         CASE WHEN max(e) OVER (PARTITION BY {id_col} ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
               OR s > max(e) OVER (PARTITION BY {id_col} ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM ivals
),
islands AS (
  SELECT {id_col}, s, e,
         CAST(sum(new_island) OVER (PARTITION BY {id_col} ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM marked
),
per_doc AS (
  SELECT {id_col}, CAST(sum(ilen) AS BIGINT) AS dup_tokens FROM (
    SELECT {id_col}, island, max(e) - min(s) + 1 AS ilen
    FROM islands GROUP BY {id_col}, island
  ) GROUP BY {id_col}
)
SELECT d.{id_col},
       CAST(len({toks}) AS INTEGER) AS n_tokens,
       COALESCE(p.dup_tokens, 0) AS dup_tokens,
       CASE WHEN len({toks}) > 0
            THEN CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                 / CAST(CAST(len({toks}) AS INTEGER) AS DOUBLE) END AS dup_fraction
FROM {src} d LEFT JOIN per_doc p ON d.{id_col} = p.{id_col}
"""
