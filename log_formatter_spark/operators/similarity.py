"""Similarity search over embedding columns.

- ``brute_topk``   : exact cosine top-k. The *query* side is broadcast
                     (queries ≪ corpus), so the corpus scan stays
                     shuffle-free: one pass, per-partition ranking, then
                     a tiny top-k-per-query final reduction.
- ``lsh_topk``     : sign-LSH bucketed ANN — the 100 TB path. Every
                     vector gets a b-bit bucket from the signs of its
                     dot products with b fixed anchor vectors
                     (deterministic: anchors are the lowest-id vectors,
                     not random planes, so reruns and the DuckDB oracle
                     agree exactly). Candidates join on bucket equality;
                     ranking runs per bucket. Recall < 1 by design —
                     the exact baseline above is the correctness anchor.

All cosine math runs on unit-normalized vectors (functions.vectors
.with_unit): the norm fold happens once per vector, so every pair costs
exactly one dot fold. Window ranking ties break by neighbor id —
total-order deterministic at any parallelism.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_formatter_spark.functions.classifier import (  # noqa: F401
    _ANCHOR_MEMO,
    _memo_key,
    clear_anchor_memo,
)
from log_formatter_spark.functions.vectors import dot, dot_sql, unit_cte_sql, with_unit

N_ANCHORS = 8


def brute_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for queries = the ``n_queries`` lowest ids."""
    u = with_unit(emb, id_col, vec_col)
    q = u.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col("uv").alias("qu")
    )
    c = u.select(F.col(id_col).alias("neighbor_id"), F.col("uv").alias("cu"))
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("neighbor_id")).select(
        "q_id", "neighbor_id", dot(F.col("qu"), F.col("cu")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cos")
    )


def brute_topk_sql(
    src: str = "embeddings",
    k: int = 10,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = dot_sql("q.uv", "c.uv")
    return f"""
WITH u AS ({unit_cte_sql(src, id_col, vec_col)}),
pairs AS (
  SELECT q.{id_col} AS q_id, c.{id_col} AS neighbor_id, {cos} AS cos
  FROM u q, u c
  WHERE q.{id_col} < {n_queries} AND q.{id_col} <> c.{id_col}
)
SELECT q_id, neighbor_id, rank, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def anchor_units(
    u: DataFrame, n_anchors: int, id_col: str = "vec_id"
) -> list[tuple[int, list[float]]]:
    """Collect the unit vectors of the ``n_anchors`` lowest ids,
    re-keyed to 0..n-1 anchor positions.

    A genuine order-by/limit (NOT ``id < n_anchors``): id spaces that
    don't start at 0 — filtered corpora, offset ingestion — must still
    yield a full anchor set, or every anchor-based operator silently
    degenerates (empty IVF results, single-bucket LSH = all-pairs).
    Driver-sized by construction (n_anchors rows); the values are the
    exact binary64 doubles Spark computed, so embedding them back as
    literals reproduces DuckDB's dot-sign decisions bit-for-bit.

    Memoized per (plan semanticHash, n_anchors): anchors are a pure
    deterministic function of the input relation, and the collect job —
    tiny in rows but a full job round-trip — was the whole
    similarity_lsh r1→r2 bench regression (+0.9 s per call, BENCH r2
    §7). ivf_topk's 8 centroids and lsh_topk's 8 anchors share one
    entry. Keyed on the ANALYZED plan plus an input-file fingerprint
    (mtime+size for small local listings — see ``_memo_key``), so two
    reads of the same path hit, while a changed path/schema or an
    overwritten parquet directory misses; ``clear_anchor_memo()`` is the
    explicit reset for sources the fingerprint can't see."""
    key = _memo_key(u, n_anchors, id_col)
    if key is not None and key in _ANCHOR_MEMO:
        return _ANCHOR_MEMO[key]
    rows = (
        u.select(id_col, "uv").orderBy(id_col).limit(n_anchors).collect()
    )
    out = [(pos, list(r["uv"])) for pos, r in enumerate(rows)]
    if key is not None:
        if len(_ANCHOR_MEMO) > 64:  # bound driver memory across long runs
            _ANCHOR_MEMO.clear()
        _ANCHOR_MEMO[key] = out
    return out


def bucket_expr(anchors: list[tuple[int, list[float]]], bit_of: dict[int, int]):
    """Map-only sign-LSH bucket: bit ``bit_of[a_id]`` set iff
    dot(uv, anchor a_id) ≥ 0. Anchors are embedded as array literals, so
    the whole assignment is a codegen'd projection — no join, no
    groupBy, no shuffle of the vector column (the round-1 version
    grouped on the full ``uv`` array, shuffling every vector as a key)."""
    acc = F.lit(0).cast("long")
    for a_id, au in anchors:
        acc = acc + F.when(
            dot(F.col("uv"), F.lit(au)) >= 0,
            F.lit(1 << bit_of[a_id]).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    return acc


def bucketed(
    u: DataFrame, n_anchors: int = N_ANCHORS, id_col: str = "vec_id"
) -> DataFrame:
    """Assign each unit vector a sign-LSH bucket (bit i = dot with
    anchor i ≥ 0). Anchors (lowest-id vectors) are collected once
    (driver-sized) and embedded as literals; bucket assignment is a
    map-only projection over the corpus — zero shuffles."""
    anchors = anchor_units(u, n_anchors, id_col=id_col)
    bucket = bucket_expr(anchors, {a_id: a_id for a_id, _ in anchors})
    return u.select(F.col(id_col), F.col("uv"), bucket.alias("bucket"))


TOPK_TARGET_BUCKET = 64


def auto_bits(n: int, target_bucket: int = TOPK_TARGET_BUCKET) -> int:
    """Bucket-code width for a corpus of ``n`` vectors: ⌈log₂(n/target)⌉
    clamped to [3, 16]. Candidate work per band is ~n²/2^bits, so bits
    must track log₂ n to hold mean bucket occupancy (and with it the
    verify cost per vector) constant — the scaling law measured in
    BENCH.md §5a (fixed 3 bits: 97.5 s at 10×; auto: 10.7 s). Used by
    :func:`lsh_topk`."""
    import math

    return max(3, min(16, math.ceil(math.log2(max(n, 2) / target_bucket))))


def lsh_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_anchors: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify: str = "fold",
) -> DataFrame:
    """ANN top-k: rank only candidates in the query's bucket.

    ``verify="vectorized"`` swaps the per-candidate cosine to the
    Arrow/numpy kernel (functions.vectors.dot_kernel) — the production
    config; ``"fold"`` stays the oracle-bit-exact default.

    ``n_anchors=None`` auto-sizes the bucket code to the corpus
    (⌈log₂(n/64)⌉ bits, clamped to [3, 16]): per-query candidate work is
    ~n/2^bits, so bits must track log₂ n or buckets grow linearly with
    the corpus — the same scaling law measured for the embedding
    near-dup in BENCH.md §5a. Recall falls as buckets shrink; the exact
    ``brute_topk`` is the correctness anchor.

    No persist: ``bucketed`` is a map-only projection, so the two
    consumers (query filter + corpus side) just re-run a cheap pruned
    scan each — cheaper than tying up executor storage memory across a
    full contract run (round-1 leak fix)."""
    if n_anchors is None:
        n_anchors = auto_bits(emb.count())
    u = with_unit(emb, id_col, vec_col)
    b = bucketed(u, n_anchors=n_anchors, id_col=id_col)
    q = b.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col("uv").alias("qu"), "bucket"
    )
    c = b.select(F.col(id_col).alias("neighbor_id"), F.col("uv").alias("cu"), "bucket")
    pairs = c.join(F.broadcast(q), on="bucket").where(
        F.col("q_id") != F.col("neighbor_id")
    )
    from log_formatter_spark.functions.vectors import dot_kernel

    kernel = dot_kernel(verify)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        pairs.select("q_id", "neighbor_id", kernel(F.col("qu"), F.col("cu")).alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cos")
    )


def label_centroids(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean embedding — the class-centroid primitive (seed for
    IVF cell training, label-quality audits, nearest-class-mean
    classification). Output is the exploded (label, dim, mean) shape:
    hashable by the driver, and the narrow (label, dim) key is also the
    right 100 TB layout — a 10^10-vector corpus reduces to
    |labels|×dims rows through ONE map-side-combinable aggregation
    (posexplode → groupBy(label, dim)), never collecting arrays.

    Determinism: components accumulate in FIXED POINT — floor(v·2^20)
    — because every alternative fails cross-engine: float sums are
    order-dependent under shuffle, and decimal casts of arbitrary
    float32s sit near scaled-rounding boundaries that the two engines
    resolve differently. Power-of-two scaling is EXACT double
    arithmetic, floor is exact, integer sums are order-free, and the
    final mean is two IEEE ops — bit-identical everywhere, with a
    bounded 2^-20 ≈ 1e-6 quantization (document-scale noise, far below
    float32 embedding precision in [-1, 1]).
    """
    scale = float(1 << 20)
    dims = emb.select(
        F.col("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    q = F.floor(F.col("v").cast("double") * F.lit(scale)).cast("long")
    return dims.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(q).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(scale))
        ).alias("mean"),
    )


def label_centroids_sql(src: str = "embeddings", vec_col: str = "embedding") -> str:
    scale = float(1 << 20)
    return f"""
SELECT label, CAST(i - 1 AS INTEGER) AS dim, count(*) AS n,
       CAST(sum(CAST(floor(CAST(v AS DOUBLE) * {scale!r}) AS BIGINT)) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * {scale!r}) AS mean
FROM (
  SELECT label, c.i AS i, {vec_col}[c.i] AS v
  FROM {src},
       LATERAL (SELECT unnest(generate_series(1, len({vec_col}))) AS i) c
)
GROUP BY label, i
"""


N_CENTROIDS = 8
N_PROBE = 2
# above this cell count, ivf assignment switches from per-centroid
# literal expressions to the Arrow matrix kernel (plan size O(1) in k)
_CELL_EXPR_MAX_K = 16


def _cell_kernels(cents: list[tuple[int, list[float]]], n_probe: int):
    """Arrow-batched cell assignment for large centroid sets: argmax-dot
    (corpus side) and top-``n_probe`` cells (query side) over the
    centroid matrix held in the UDF closure. Ties break toward the
    HIGHER cid, matching _argmax_cell/_cell_structs ordering: columns
    are laid out cid-descending so numpy's stable argsort resolves equal
    dots to the higher cid."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    order = sorted(range(len(cents)), key=lambda i: -cents[i][0])
    ids = np.array([cents[i][0] for i in order])
    M = np.array([cents[i][1] for i in order], dtype=np.float64)  # k x d

    def _dots(uv):
        return np.vstack(uv.to_numpy()) @ M.T

    @pandas_udf("int")
    def assign(uv):
        import pandas as pd

        if len(uv) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(ids[_dots(uv).argmax(axis=1)], index=uv.index)

    @pandas_udf("array<int>")
    def probe(uv):
        import pandas as pd

        if len(uv) == 0:
            return pd.Series([], dtype="object")
        top = np.argsort(-_dots(uv), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([[int(v) for v in ids[row]] for row in top], index=uv.index)

    return assign, probe


def _cell_structs(cents: list[tuple[int, list[float]]]):
    """Array of (dot, cid) structs — struct comparison orders by dot then
    cid, so array_max is argmax-with-deterministic-ties (larger cid wins)."""
    return F.array(
        *[
            F.struct(dot(F.col("uv"), F.lit(cv)).alias("d"), F.lit(cid).alias("cid"))
            for cid, cv in cents
        ]
    )


def _argmax_cell(cents: list[tuple[int, list[float]]]):
    """Argmax over the centroid dots (larger cid wins exact ties), made
    provably NON-NULLABLE via the coalesce(-1) wrapper.

    Nullability is the load-bearing property, not the argmax encoding:
    when a nullable expression is an INNER-JOIN key, Catalyst adds an
    ``isnotnull(key)`` filter and pushes it below the projection — where
    the whole cell expression gets re-inlined over the RAW embedding
    column (re-deriving the unit-normalization per dot) and evaluated a
    second time per corpus row, in interpreted mode (higher-order
    zip_with/aggregate lambdas have no codegen). Measured: 8.8 s vs
    0.9 s for the same candidate join at 20k vectors. ``lsh_topk`` never
    hit this because its sum-of-whens bucket is non-nullable by
    construction; the -1 sentinel (impossible cell id) buys the same
    for the struct argmax."""
    best = F.array_max(_cell_structs(cents))
    return F.coalesce(best.getField("cid"), F.lit(-1))


def _cell_assign(
    u: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_queries: int,
    n_probe: int,
    id_col: str,
    ride: tuple[str, ...] = (),
):
    """Shared IVF candidate formation: ``(assigned, probes)``.

    ``assigned`` = the corpus with its Voronoi ``cell`` (argmax centroid
    dot); ``probes`` = per query (id < n_queries) the ``n_probe`` cells
    with the largest centroid dot. ``ride`` columns pass through both
    sides (probe side aliased ``q_<name>``) so callers can filter pairs
    on query-vs-candidate attributes (hard_negatives' label rule)
    without a join back to the input.

    Two physical strategies behind one logical shape:
    - k ≤ _CELL_EXPR_MAX_K: codegen'd per-centroid literal expressions —
      the oracle path (bit-exact, whole-stage codegen), compile cost
      ~O(k*dim).
    - large k (production sqrt(n) sizing): per-centroid expressions
      would grow the plan ~O(k*dim) literals — compile time alone was
      12+ s at k=45. Instead the centroid MATRIX rides inside an
      Arrow-batched kernel (one einsum per batch; on a cluster the
      closure is torrent-broadcast with the task binary), so plan size
      is O(1) in k and assignment stays one map-only pass.
    """
    if len(cents) <= _CELL_EXPR_MAX_K:
        assigned = u.select(
            F.col(id_col),
            F.col("uv"),
            *[F.col(r) for r in ride],
            _argmax_cell(cents).alias("cell"),
        )
        # probe list: per query, the n_probe cells with the largest
        # centroid dot (desc, cid desc on ties — mirrors the argmax rule)
        probes = (
            u.where(F.col(id_col) < n_queries)
            .select(
                F.col(id_col).alias("q_id"),
                F.col("uv").alias("qu"),
                *[F.col(r).alias(f"q_{r}") for r in ride],
                F.explode(_cell_structs(cents)).alias("dc"),
            )
            .select(
                "q_id",
                "qu",
                *[f"q_{r}" for r in ride],
                F.col("dc.d").alias("d"),
                F.col("dc.cid").alias("cell"),
            )
        )
        pw = Window.partitionBy("q_id").orderBy(F.col("d").desc(), F.col("cell").desc())
        probes = (
            probes.withColumn("prn", F.row_number().over(pw))
            .where(F.col("prn") <= n_probe)
            .select("q_id", "qu", *[f"q_{r}" for r in ride], "cell")
        )
    else:
        assign_udf, probe_udf = _cell_kernels(cents, n_probe)
        assigned = u.select(
            F.col(id_col),
            F.col("uv"),
            *[F.col(r) for r in ride],
            assign_udf(F.col("uv")).alias("cell"),
        )
        probes = (
            u.where(F.col(id_col) < n_queries)
            .select(
                F.col(id_col).alias("q_id"),
                F.col("uv").alias("qu"),
                *[F.col(r).alias(f"q_{r}") for r in ride],
                F.explode(probe_udf(F.col("uv"))).alias("cell"),
            )
        )
    return assigned, probes


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_centroids: int | None = N_CENTROIDS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify: str = "fold",
    centroids: str | list = "anchors",
) -> DataFrame:
    """IVF-style ANN top-k: coarse quantize, probe, exact rerank.

    Production knobs (VERDICT r2 #8, non-oracled):
    - ``centroids="trained"``: k-means centroids from a bounded sample
      (:func:`train_centroids`) instead of the deterministic lowest-id
      anchors; same plan shape, sharper cells, higher recall. A
      pre-trained list can also be passed directly (train once, reuse
      across queries — the production pattern).
    - ``n_centroids=None``: auto-size to ~sqrt(n)
      (:func:`auto_centroids`), keeping per-query work k + n_probe*n/k
      near its minimum as the corpus grows.
    - ``verify="vectorized"``: Arrow/numpy rerank kernel.

    The second ANN family next to sign-LSH (``lsh_topk``): partition the
    corpus into ``n_centroids`` Voronoi cells (assignment = argmax dot
    against the centroid set), then each query probes only its
    ``n_probe`` nearest cells and exact-reranks the candidates. Centroids
    are the lowest-id corpus vectors — deterministic, so reruns and the
    DuckDB oracle agree bit-for-bit (a trained k-means would sharpen the
    cells; the plumbing and plan shape are identical, and determinism is
    what makes the driver's hash check possible).

    Plan shape at 100 TB: centroids are collected once (driver-sized:
    n_centroids rows) and embedded as literals → cell assignment is a
    map-only codegen'd projection, NO shuffle of the corpus; the probe
    table is (n_queries × n_probe) rows and is broadcast, so candidate
    formation is a broadcast hash join on ``cell`` — per-query work is
    n_probe/n_centroids of the corpus instead of all of it, and the only
    wide exchange is the final per-query top-k window over candidates.
    At real scale n_centroids grows to ~sqrt(n) (cells stay
    executor-sized) and the same plan holds.
    """
    u = with_unit(emb, id_col, vec_col)
    cents = resolve_centroids(
        emb, u, n_centroids, centroids, id_col=id_col, vec_col=vec_col
    )
    if not cents:  # empty corpus: schema-stable empty result
        return emb.sparkSession.createDataFrame(
            [], "q_id long, neighbor_id long, rank int, cos double"
        )
    assigned, probes = _cell_assign(u, cents, n_queries, n_probe, id_col)
    c = assigned.select(F.col(id_col).alias("neighbor_id"), F.col("uv").alias("cu"), "cell")
    pairs = c.join(F.broadcast(probes), on="cell").where(
        F.col("q_id") != F.col("neighbor_id")
    )
    from log_formatter_spark.functions.vectors import dot_kernel

    kernel = dot_kernel(verify)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        pairs.select("q_id", "neighbor_id", kernel(F.col("qu"), F.col("cu")).alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cos")
    )


def ivf_topk_sql(
    src: str = "embeddings",
    k: int = 10,
    n_queries: int = 8,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    d = dot_sql("v.uv", "c.cu")
    cos = dot_sql("q.qu", "n.cu")
    return f"""
WITH u AS ({unit_cte_sql(src, id_col, vec_col)}),
cents AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cid, uv AS cu
  FROM u ORDER BY {id_col} LIMIT {n_centroids}
),
dots AS (SELECT v.{id_col} AS id, v.uv, c.cid, {d} AS d FROM u v, cents c),
assigned AS (
  SELECT id, uv, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn FROM dots
  ) WHERE rn = 1
),
probes AS (
  SELECT id AS q_id, uv AS qu, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn FROM dots
  ) WHERE id < {n_queries} AND rn <= {n_probe}
),
pairs AS (
  SELECT q.q_id, n.id AS neighbor_id, {cos} AS cos
  FROM (SELECT a.id, a.uv AS cu, a.cell FROM assigned a) n
  JOIN probes q ON n.cell = q.cell AND q.q_id <> n.id
)
SELECT q_id, neighbor_id, rank, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def hard_negatives(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_centroids: int | None = N_CENTROIDS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    verify: str = "fold",
    centroids: str | list = "anchors",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query (the ``n_queries`` lowest ids), the ``k`` highest-cosine
    corpus vectors whose ``label_col`` DIFFERS from the query's — the
    near-misses a ranker must learn to push away. Same-label neighbors
    are presumed positives and excluded; rows with a NULL label never
    match the inequality and so neither query nor supply negatives
    (three-valued logic, identical in both engines — filter or backfill
    labels upstream if NULLs should participate).

    Output ``(q_id, neg_id, rank, cos, neg_label)``, rank 1..k per
    query by cosine desc (ties broken by neg_id asc).

    Candidate formation is the IVF cell machinery (:func:`_cell_assign`
    — shared with :func:`ivf_topk`), with the label riding both sides
    of the projection so the inequality is a post-join filter on the
    broadcast-join output: NEVER an all-pairs scan, and no join back to
    the input for labels. Plan shape at 100 TB is ivf_topk's: centroid
    assignment is map-only (centroids are driver-sized literals or an
    Arrow matrix kernel at sqrt(n) sizing), the probe side is broadcast,
    and the only wide exchange is the final per-query top-k window.
    Mining against ALL labels at once (every doc a query) is the same
    plan with the ``id < n_queries`` predicate widened — per-cell work
    stays n/k-sized. Production knobs mirror ivf_topk:
    ``centroids="trained"`` / pre-trained list, ``n_centroids=None``
    auto-sizing, ``verify="vectorized"`` Arrow rerank.
    """
    u = with_unit(emb, id_col, vec_col, extra={"lbl": F.col(label_col)})
    cents = resolve_centroids(
        emb, u, n_centroids, centroids, id_col=id_col, vec_col=vec_col
    )
    if not cents:  # empty corpus: schema-stable empty result
        return emb.sparkSession.createDataFrame(
            [], "q_id long, neg_id long, rank int, cos double, neg_label int"
        )
    assigned, probes = _cell_assign(
        u, cents, n_queries, n_probe, id_col, ride=("lbl",)
    )
    c = assigned.select(
        F.col(id_col).alias("neg_id"),
        F.col("uv").alias("cu"),
        F.col("lbl").alias("neg_label"),
        "cell",
    )
    pairs = c.join(F.broadcast(probes), on="cell").where(
        (F.col("q_id") != F.col("neg_id")) & (F.col("q_lbl") != F.col("neg_label"))
    )
    from log_formatter_spark.functions.vectors import dot_kernel

    kernel = dot_kernel(verify)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neg_id"))
    return (
        pairs.select(
            "q_id", "neg_id", "neg_label", kernel(F.col("qu"), F.col("cu")).alias("cos")
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neg_id", "rank", "cos", "neg_label")
    )


def _labeled_ivf_cells_ctes(
    src: str,
    n_queries: int,
    n_centroids: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> str:
    """THE labeled IVF-cell CTE block — unit vectors with labels,
    lowest-id anchor centroids, cell assignment (rn=1) and query probes
    (rn ≤ n_probe) — shared by :func:`hard_negatives_sql` and
    :func:`contrastive_triplets_sql` so the anchor/tie-break rule can
    never drift between the two oracles (and stays aligned with
    ``ivf_topk_sql``'s unlabeled rendering)."""
    d = dot_sql("v.uv", "c.cu")
    return f"""u AS ({unit_cte_sql(src, id_col, vec_col)}),
ul AS (
  SELECT u.{id_col} AS id, u.uv, e.{label_col} AS lbl
  FROM u JOIN {src} e USING ({id_col})
),
cents AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, uv AS cu
  FROM ul ORDER BY id LIMIT {n_centroids}
),
dots AS (SELECT v.id, v.uv, v.lbl, c.cid, {d} AS d FROM ul v, cents c),
assigned AS (
  SELECT id, uv, lbl, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn FROM dots
  ) WHERE rn = 1
),
probes AS (
  SELECT id AS q_id, uv AS qu, lbl AS q_lbl, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn FROM dots
  ) WHERE id < {n_queries} AND rn <= {n_probe}
)"""


def hard_negatives_sql(
    src: str = "embeddings",
    k: int = 10,
    n_queries: int = 8,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """DuckDB rendering of :func:`hard_negatives` — ivf_topk_sql with
    the label riding the unit CTE and the inequality on the pair join."""
    cos = dot_sql("q.qu", "n.cu")
    cells = _labeled_ivf_cells_ctes(
        src, n_queries, n_centroids, n_probe, id_col, vec_col, label_col
    )
    return f"""
WITH {cells},
pairs AS (
  SELECT q.q_id, n.id AS neg_id, n.lbl AS neg_label, {cos} AS cos
  FROM (SELECT a.id, a.uv AS cu, a.lbl, a.cell FROM assigned a) n
  JOIN probes q ON n.cell = q.cell AND q.q_id <> n.id AND q.q_lbl <> n.lbl
)
SELECT q_id, neg_id, rank, cos, neg_label FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS INTEGER) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def contrastive_triplets(
    emb: DataFrame,
    m: int = 4,
    n_queries: int = 8,
    n_centroids: int | None = N_CENTROIDS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    verify: str = "fold",
    centroids: str | list = "anchors",
) -> DataFrame:
    """Contrastive-training triplet assembly: for each query (the
    ``n_queries`` lowest ids), ONE positive — the highest-cosine
    candidate sharing the query's ``label_col`` — crossed with its
    top-``m`` hard negatives (highest-cosine candidates whose label
    DIFFERS), one row per (query, negative). This is the (anchor,
    positive, negative) batch a triplet/InfoNCE ranker consumes, with
    ``margin = pos_cos - neg_cos`` precomputed so downstream curricula
    can sort by difficulty (small or negative margin = hard triplet).

    Output ``(q_id, pos_id, neg_id, neg_rank, pos_cos, neg_cos,
    margin)``, ``neg_rank`` 1..m by neg cosine desc (ties by neg_id
    asc); the positive is rank-1 by cosine desc (ties by id asc).
    Queries with no same-label candidate in their probed cells emit
    nothing (inner semantics — a query that cannot form a positive
    cannot form a triplet). NULL labels satisfy neither the equality
    nor the inequality (three-valued logic, identical in the DuckDB
    twin), so NULL-label rows never participate on either side.

    Candidate formation is ONE :func:`_cell_assign` pass (shared with
    ``ivf_topk``/``hard_negatives``) with the label riding both sides,
    and the recombine is JOIN-FREE: the per-query positive is an
    order-free struct-max (``max(struct(cos, -c_id))`` over a ``q_id``
    window — the preference_pairs discipline) attached to every
    candidate row, then negatives are ranked by a second window over
    the same ``q_id`` clustering. A naive pos⋈neg self-join re-executes
    the whole scoring subtree twice (Spark cannot reuse the exchange
    across the differing pushed filters — measured 6 exchanges + an
    SMJ); this form scores once behind ONE ``q_id`` exchange. Plan
    shape at 100 TB is ivf_topk's: map-only assignment, broadcast
    probe join, per-query windows over candidate lists bounded by
    n_probe·(n/k). Production knobs mirror ivf_topk:
    ``centroids=\"trained\"``, ``n_centroids=None`` auto-sizing,
    ``verify=\"vectorized\"`` Arrow rerank.
    """
    u = with_unit(emb, id_col, vec_col, extra={"lbl": F.col(label_col)})
    cents = resolve_centroids(
        emb, u, n_centroids, centroids, id_col=id_col, vec_col=vec_col
    )
    empty_schema = (
        "q_id long, pos_id long, neg_id long, neg_rank int,"
        " pos_cos double, neg_cos double, margin double"
    )
    if not cents:  # empty corpus: schema-stable empty result
        return emb.sparkSession.createDataFrame([], empty_schema)
    assigned, probes = _cell_assign(
        u, cents, n_queries, n_probe, id_col, ride=("lbl",)
    )
    c = assigned.select(
        F.col(id_col).alias("c_id"),
        F.col("uv").alias("cu"),
        F.col("lbl").alias("c_lbl"),
        "cell",
    )
    from log_formatter_spark.functions.vectors import dot_kernel

    kernel = dot_kernel(verify)
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            # three-valued: NULL on either side -> NULL flag -> neither branch
            (F.col("q_lbl") == F.col("c_lbl")).alias("same"),
            kernel(F.col("qu"), F.col("cu")).alias("cos"),
        )
    )
    # order-free positive selection: max(struct(cos, -c_id)) = highest
    # cosine, ties broken toward the SMALLEST c_id — deterministic under
    # any partitioning, and attached without a join. max() skips NULLs,
    # so non-same rows (False or NULL `same`) never contribute.
    wq = Window.partitionBy("q_id")
    pos_pick = F.max(
        F.when(
            F.col("same"),
            F.struct(F.col("cos").alias("cos"), (-F.col("c_id")).alias("nid")),
        )
    ).over(wq)
    wn = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        scored.withColumn("pos", pos_pick)
        # ~same is NULL for NULL labels: three-valued, row drops
        .where((~F.col("same")) & F.col("pos").isNotNull())
        .withColumn("neg_rank", F.row_number().over(wn))
        .where(F.col("neg_rank") <= m)
        .select(
            "q_id",
            (-F.col("pos.nid")).alias("pos_id"),
            F.col("c_id").alias("neg_id"),
            "neg_rank",
            F.col("pos.cos").alias("pos_cos"),
            F.col("cos").alias("neg_cos"),
            (F.col("pos.cos") - F.col("cos")).alias("margin"),
        )
    )


def contrastive_triplets_sql(
    src: str = "embeddings",
    m: int = 4,
    n_queries: int = 8,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """DuckDB rendering of :func:`contrastive_triplets` — the shared
    labeled-cell CTE block with the label-equality flag splitting one
    scored candidate set into the pos/neg ranks."""
    cos = dot_sql("q.qu", "n.cu")
    cells = _labeled_ivf_cells_ctes(
        src, n_queries, n_centroids, n_probe, id_col, vec_col, label_col
    )
    return f"""
WITH {cells},
scored AS (
  SELECT q.q_id, n.id AS c_id, q.q_lbl = n.lbl AS same, {cos} AS cos
  FROM (SELECT a.id, a.uv AS cu, a.lbl, a.cell FROM assigned a) n
  JOIN probes q ON n.cell = q.cell AND q.q_id <> n.id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id, same ORDER BY cos DESC, c_id) AS INTEGER) AS rn
  FROM scored
),
pos AS (
  SELECT q_id, c_id AS pos_id, cos AS pos_cos FROM ranked WHERE same AND rn = 1
),
neg AS (
  SELECT q_id, c_id AS neg_id, rn AS neg_rank, cos AS neg_cos
  FROM ranked WHERE NOT same AND rn <= {m}
)
SELECT p.q_id, p.pos_id, g.neg_id, g.neg_rank, p.pos_cos, g.neg_cos,
       p.pos_cos - g.neg_cos AS margin
FROM pos p JOIN neg g USING (q_id)
"""


def lsh_topk_sql(
    src: str = "embeddings",
    k: int = 10,
    n_queries: int = 8,
    n_anchors: int = N_ANCHORS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    d = dot_sql("v.uv", "a.uv")
    cos = dot_sql("q.qu", "c.cu")
    return f"""
WITH u AS ({unit_cte_sql(src, id_col, vec_col)}),
anchors AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS a_id, uv
  FROM u ORDER BY {id_col} LIMIT {n_anchors}
),
bucketed AS (
  SELECT v.{id_col}, v.uv,
         CAST(sum(CASE WHEN {d} >= 0 THEN (1::BIGINT << a.a_id) ELSE 0 END) AS BIGINT) AS bucket
  FROM u v, anchors a
  GROUP BY v.{id_col}, v.uv
),
q AS (SELECT {id_col} AS q_id, uv AS qu, bucket FROM bucketed WHERE {id_col} < {n_queries}),
c AS (SELECT {id_col} AS neighbor_id, uv AS cu, bucket FROM bucketed),
pairs AS (
  SELECT q.q_id, c.neighbor_id, {cos} AS cos
  FROM c JOIN q ON c.bucket = q.bucket AND q.q_id <> c.neighbor_id
)
SELECT q_id, neighbor_id, rank, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


# --- trained quantizers (production ANN knobs, VERDICT r2 #8) -------------


def auto_centroids(n: int) -> int:
    """IVF cell count for a corpus of ``n`` vectors: ~sqrt(n), clamped
    to [8, 4096]. Balances the two scan costs (probe list grows with k,
    per-cell candidate list shrinks as n/k): total per-query work
    ~ k + n_probe*n/k is minimized at k ~ sqrt(n) — the same sizing
    rule IVF indexes use in practice. Mirrors auto_bits for LSH."""
    import math

    return max(8, min(4096, round(math.sqrt(max(n, 1)))))


def train_centroids(
    emb: DataFrame,
    n_centroids: int,
    sample_size: int = 65536,
    n_iter: int = 10,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """K-means-trained IVF centroids (Lloyd's on a bounded sample).

    The deterministic lowest-id anchors that the oracle-checked
    ``ivf_topk`` uses keep the driver's hash gate possible, but they are
    arbitrary points — cells are unbalanced and recall suffers. This is
    the non-oracled production knob: draw a DETERMINISTIC pseudo-random
    sample (order by md5(id): content-independent, rerun-stable,
    driver-bounded at ``sample_size`` rows — k-means on a sample is the
    standard IVF training recipe; the full corpus only ever sees the
    map-only assignment), run Lloyd's iterations in numpy on the driver,
    unit-normalize the result (cell assignment is argmax dot ==
    nearest-by-cosine only for unit centroids), and return the same
    (cid, vector) shape ``anchor_units`` yields so ``ivf_topk(...,
    centroids=...)`` slots either in unchanged.

    Empty-cell handling: a cell that loses all members is re-seeded to
    the sample point FURTHEST from its nearest centroid (deterministic
    ties by index) — the standard split-the-worst repair, keeping all k
    cells live. Seeded k-means++-lite init: first centroid = sample row
    0, the rest greedily maximize distance-to-nearest — deterministic,
    no RNG state dependence across numpy versions.
    """
    import numpy as np

    from log_formatter_spark.functions.hashing import md5_60
    from log_formatter_spark.functions.vectors import with_unit

    # memoized like anchor_units: training is deterministic in (input
    # relation, knobs), and the production pattern is train-once /
    # assign-many — repeated ivf_topk(centroids="trained") calls must
    # not re-run Lloyd's
    memo_key = _memo_key(
        emb, "kmeans", n_centroids, sample_size, n_iter, seed, id_col, vec_col
    )
    if memo_key is not None and memo_key in _ANCHOR_MEMO:
        return _ANCHOR_MEMO[memo_key]

    u = with_unit(emb, id_col, vec_col)
    rows = (
        u.select("uv", md5_60(F.col(id_col).cast("string")).alias("_h"))
        .orderBy("_h", id_col)
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["uv"] for r in rows], dtype=np.float64)
    n = len(X)
    if n == 0:
        return []
    k = min(n_centroids, n)

    # deterministic greedy farthest-point init (k-means++ without RNG)
    cents = [0]
    d2 = np.full(n, np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((X - X[cents[-1]]) ** 2).sum(axis=1))
        cents.append(int(d2.argmax()))
    C = X[cents].copy()

    for _ in range(n_iter):
        # unit rows: nearest-by-L2 == argmax dot
        assign = (X @ C.T).argmax(axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:  # re-seed dead cell at the worst-served sample point
                worst = int(((X - C[assign]) ** 2).sum(axis=1).argmax())
                newC[j] = X[worst]
        norms = np.linalg.norm(newC, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        newC = newC / norms
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    out = [(int(j), [float(v) for v in C[j]]) for j in range(k)]
    if memo_key is not None:
        if len(_ANCHOR_MEMO) > 64:
            _ANCHOR_MEMO.clear()
        _ANCHOR_MEMO[memo_key] = out
    return out


# --- ANN quality measurement ---------------------------------------------


def _approx_topk(
    emb: DataFrame,
    method: str,
    k: int,
    n_queries: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """THE ANN-method dispatch, shared by every index-quality harness
    (:func:`ann_recall`, :func:`ann_ndcg`) so the method set, the lsh
    anchor default, and the error message exist exactly once."""
    if method == "ivf":
        return ivf_topk(emb, k=k, n_queries=n_queries, id_col=id_col, vec_col=vec_col)
    if method == "lsh":
        return lsh_topk(
            emb, k=k, n_queries=n_queries, n_anchors=N_ANCHORS,
            id_col=id_col, vec_col=vec_col,
        )
    if method == "pq":
        return pq_topk(emb, k=k, n_queries=n_queries, id_col=id_col, vec_col=vec_col)
    raise ValueError(f"unknown method {method!r} (ivf|lsh|pq)")


def _approx_topk_sql(src: str, method: str, k: int, n_queries: int) -> str:
    """SQL twin of :func:`_approx_topk` — same dispatch, one place."""
    if method == "ivf":
        return ivf_topk_sql(src, k=k, n_queries=n_queries)
    if method == "pq":
        return pq_topk_sql(src, k=k, n_queries=n_queries)
    if method == "lsh":
        return lsh_topk_sql(src, k=k, n_queries=n_queries)
    # mirror the DataFrame twin — a typo must not yield lsh SQL
    raise ValueError(f"unknown method {method!r} (ivf|lsh|pq)")


def ann_recall(
    emb: DataFrame,
    method: str = "ivf",
    k: int = 10,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of a bucketed ANN index vs the exact baseline, as a
    first-class query: ``(q_id, n_hits, recall)`` per query — the
    index-quality dashboard an ANN deployment watches (recall drifts
    as the corpus grows away from its anchors/centroids, and this
    keeps the measurement in-engine instead of in a notebook).

    Exactness: hits are an integer count of (q_id, neighbor_id)
    matches between the two top-k sets; ``recall = n_hits / k`` is one
    double division of exact integers. A query whose bucket produced
    zero overlap still appears (left join from the exact side, which
    always has k rows per query). The exact baseline inside is the
    documented broadcast non-equi join — this operator is a
    measurement harness, priced accordingly (run it on a sample at
    100 TB, not the corpus).
    """
    approx = _approx_topk(emb, method, k, n_queries, id_col, vec_col)
    exact = brute_topk(emb, k=k, n_queries=n_queries, id_col=id_col, vec_col=vec_col)
    hits = (
        exact.select("q_id", "neighbor_id")
        .join(approx.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qs = exact.select("q_id").distinct()
    return qs.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n", F.lit(0)).cast("int").alias("n_hits"),
        (F.coalesce("n", F.lit(0)).cast("double") / F.lit(float(k))).alias("recall"),
    )


def ann_recall_sql(
    src: str = "embeddings",
    method: str = "ivf",
    k: int = 10,
    n_queries: int = 8,
) -> str:
    approx = _approx_topk_sql(src, method, k, n_queries)
    exact = brute_topk_sql(src, k=k, n_queries=n_queries)
    return f"""
WITH exact AS ({exact}),
approx AS ({approx}),
hits AS (
  SELECT e.q_id, count(*) AS n
  FROM exact e JOIN approx a ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.q_id
)
SELECT q.q_id, CAST(COALESCE(h.n, 0) AS INTEGER) AS n_hits,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / {float(k)!r} AS recall
FROM (SELECT DISTINCT q_id FROM exact) q LEFT JOIN hits h ON q.q_id = h.q_id
"""


def _ndcg_discounts(k: int) -> tuple[list[float], float]:
    """Per-rank 1/log2(r+1) discounts and the ideal DCG for graded
    gains (k, k-1, …, 1) — computed ONCE in Python and rendered as the
    same literals into both engines, so no engine evaluates log2."""
    disc = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    idcg = 0.0
    for r in range(1, k + 1):
        idcg = idcg + float(k - r + 1) * disc[r - 1]
    return disc, idcg


def _f64_sql(x: float) -> str:
    """Render a Python double into SQL BIT-EXACTLY. A plain decimal
    literal is NOT safe: DuckDB parses it as DECIMAL(18,s) and its
    decimal→double conversion is off by one ULP for some values
    (measured: 0.38685280723454163 arrives as …4416). Every IEEE
    double is num/den with integer num (≤2^53) and den a power of two
    — both sides exactly representable as doubles, and their quotient
    is exactly the original value, so this round-trips by IEEE
    division semantics, not by decimal printing."""
    num, den = float(x).as_integer_ratio()
    return f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"


def ann_ndcg(
    emb: DataFrame,
    method: str = "ivf",
    k: int = 10,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """NDCG@k of a bucketed ANN index vs the exact baseline — the
    rank-AWARE companion to :func:`ann_recall`: recall treats the top-k
    as a set, so an index that returns the true top-k in scrambled
    order (or swaps the #1 hit for the #k one) scores 1.0; NDCG grades
    each returned neighbor by WHERE the exact ranking put it (gain
    ``k - exact_rank + 1``, graded, position-discounted), which is what
    a retrieval stack actually feels. Per query:
    ``DCG = Σ_r gain(neighbor at approx rank r) / log2(r+1)``,
    ``ndcg = DCG / IDCG`` with IDCG the perfect-order constant.

    Cross-engine determinism: every discount
    ``1/log2(r+1)`` and IDCG are Python-computed floats rendered as
    identical literals into both engines; gains are exact integers; the
    per-rank contributions are isolated with one conditional sum per
    rank (each (q_id, approx rank) is unique, so the "sum" is a single
    value) and added LEFT-TO-RIGHT r=1..k — no engine-ordered float
    aggregation anywhere. Like ann_recall this is a measurement
    harness: at 100 TB run it on a query sample, not the corpus.
    """
    approx = _approx_topk(emb, method, k, n_queries, id_col, vec_col)
    exact = brute_topk(emb, k=k, n_queries=n_queries, id_col=id_col, vec_col=vec_col)
    disc, idcg = _ndcg_discounts(k)
    gains = exact.select(
        "q_id",
        "neighbor_id",
        (F.lit(k) - F.col("rank") + F.lit(1)).cast("long").alias("gain"),
    )
    joined = (
        approx.select("q_id", "neighbor_id", "rank")
        .join(gains, ["q_id", "neighbor_id"], "left")
        .select(
            "q_id", "rank", F.coalesce("gain", F.lit(0).cast("long")).alias("gain")
        )
    )
    aggs = [
        F.sum(F.when(F.col("rank") == r, F.col("gain"))).cast("long").alias(f"_g{r}")
        for r in range(1, k + 1)
    ]
    per_q = joined.groupBy("q_id").agg(*aggs)
    dcg = F.lit(0.0)
    for r in range(1, k + 1):
        dcg = dcg + F.coalesce(
            F.col(f"_g{r}").cast("double") * F.lit(disc[r - 1]), F.lit(0.0)
        )
    qs = exact.select("q_id").distinct()
    out = qs.join(per_q, "q_id", "left")
    return out.select(
        "q_id",
        F.coalesce(dcg, F.lit(0.0)).alias("dcg"),
        (F.coalesce(dcg, F.lit(0.0)) / F.lit(idcg)).alias("ndcg"),
    )


def ann_ndcg_sql(
    src: str = "embeddings",
    method: str = "ivf",
    k: int = 10,
    n_queries: int = 8,
) -> str:
    """DuckDB twin of :func:`ann_ndcg`: identical discount/IDCG
    literals, the same per-rank CASE sums (BIGINT-cast — the
    events_pivot HUGEINT lesson), the same left-to-right addition."""
    approx = _approx_topk_sql(src, method, k, n_queries)
    exact = brute_topk_sql(src, k=k, n_queries=n_queries)
    disc, idcg = _ndcg_discounts(k)
    case_sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN rank = {r} THEN gain END) AS BIGINT) AS _g{r}"
        for r in range(1, k + 1)
    )
    dcg = "0.0"
    for r in range(1, k + 1):
        dcg = f"({dcg} + COALESCE(CAST(_g{r} AS DOUBLE) * {_f64_sql(disc[r - 1])}, 0.0))"
    return f"""
WITH exact AS ({exact}),
approx AS ({approx}),
gains AS (
  SELECT q_id, neighbor_id, CAST({k} - rank + 1 AS BIGINT) AS gain FROM exact
),
joined AS (
  SELECT a.q_id, a.rank, COALESCE(g.gain, 0) AS gain
  FROM approx a LEFT JOIN gains g
    ON a.q_id = g.q_id AND a.neighbor_id = g.neighbor_id
),
per_q AS (
  SELECT q_id,
         {case_sums}
  FROM joined GROUP BY q_id
),
dcgs AS (SELECT q_id, {dcg} AS dcg FROM per_q)
SELECT q.q_id, COALESCE(d.dcg, 0.0) AS dcg,
       COALESCE(d.dcg, 0.0) / {_f64_sql(idcg)} AS ndcg
FROM (SELECT DISTINCT q_id FROM exact) q LEFT JOIN dcgs d ON q.q_id = d.q_id
"""


# --- product quantization ---------------------------------------------------
#
# The third ANN family, and the one that makes 10^12-vector search fit
# in memory at all: compress each vector to m small integer codes
# (here m=4 blocks x k=4 centroids for the oracle-checkable demo;
# production is m=d/8 blocks x k=256 — one BYTE per block, a 256x
# compression of a float64 corpus), then answer queries against the
# CODES with asymmetric distance computation (ADC): the query computes
# one tiny per-block dot table against the centroids, and every
# candidate scores with m table LOOKUPS + m-1 adds — no float vector is
# ever touched at scan time. Jegou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011.
#
# Determinism (what makes the driver hash possible): centroids are the
# lowest-id unit vectors (same anchor discipline as IVF/LSH — a trained
# k-means per sub-space drops in via train_centroids exactly like
# ivf_topk's `centroids="trained"` knob); block encoding is argmin of
# sequential-fold squared L2, ties to the LOWEST centroid index via an
# explicit comparison chain that renders identically in Spark and
# DuckDB SQL.

PQ_BLOCKS = 4
PQ_K = 4


def _sqd(a, b_lit):
    """Sequential-fold squared L2 between an array column and a literal."""
    return F.aggregate(
        F.zip_with(a, F.lit(b_lit), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_SQD_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), "
    "p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
)


def _argmin_chain(ds):
    """First index i with d_i <= d_j for all j > i — the argmin with
    lowest-index tie-break, as a comparison chain whose IEEE semantics
    render identically in both engines (NaN-free inputs)."""
    if len(ds) == 1:
        return F.lit(0)
    out = None
    for i in range(len(ds) - 1):
        cond = None
        for j in range(i + 1, len(ds)):
            c = ds[i] <= ds[j]
            cond = c if cond is None else (cond & c)
        out = F.when(cond, F.lit(i)) if out is None else out.when(cond, F.lit(i))
    return out.otherwise(F.lit(len(ds) - 1))


def _argmin_chain_sql(ds: list[str]) -> str:
    if len(ds) == 1:
        return "0"
    whens = []
    for i in range(len(ds) - 1):
        cond = " AND ".join(f"({ds[i]}) <= ({ds[j]})" for j in range(i + 1, len(ds)))
        whens.append(f"WHEN {cond} THEN {i}")
    return f"CASE {' '.join(whens)} ELSE {len(ds) - 1} END"


def _pq_blocks(cents: list[tuple[int, list[float]]], n_blocks: int):
    """(block_dim, per-block centroid slices). Centroid order == anchor
    position order (0..k-1), the code value space."""
    dim = len(cents[0][1])
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by {n_blocks} blocks")
    bd = dim // n_blocks
    return bd, [
        [cv[b * bd : (b + 1) * bd] for _pos, cv in cents] for b in range(n_blocks)
    ]


def train_pq_codebooks(
    emb: DataFrame,
    n_centroids: int = PQ_K,
    n_blocks: int = PQ_BLOCKS,
    sample_size: int = 65536,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, list[list[list[float]]]]:
    """Per-sub-space k-means codebooks — the production PQ knob, exactly
    ``train_centroids``'s role for IVF. This is what makes PQ *work*:
    each block's k centroids are fit to THAT block's marginal
    distribution (the whole point of product quantization — k^m
    effective cells from m independent k-way quantizers), instead of
    being slices of whichever vectors had the lowest ids.

    Same determinism discipline as ``train_centroids``: bounded sample
    in md5(id) order (rerun-stable, content-independent), greedy
    farthest-point init, Lloyd's in driver numpy, dead cells re-seeded
    at the worst-served point. Non-oracled (trained floats have no SQL
    twin); the contract path stays on the anchor codebooks. Returns
    ``(block_dim, blocks)`` shaped for ``pq_codes(..,
    codebooks=blocks)``."""
    import numpy as np

    from log_formatter_spark.functions.hashing import md5_60

    memo_key = _memo_key(
        emb, "pq", n_centroids, n_blocks, sample_size, n_iter, id_col, vec_col
    )
    if memo_key is not None and memo_key in _ANCHOR_MEMO:
        return _ANCHOR_MEMO[memo_key]

    u = with_unit(emb, id_col, vec_col)
    rows = (
        u.select("uv", md5_60(F.col(id_col).cast("string")).alias("_h"))
        .orderBy("_h", id_col)
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["uv"] for r in rows], dtype=np.float64)
    n = len(X)
    if n == 0:
        return (0, [])
    dim = X.shape[1]
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by {n_blocks} blocks")
    bd = dim // n_blocks
    k = min(n_centroids, n)

    blocks: list[list[list[float]]] = []
    for b in range(n_blocks):
        Xb = X[:, b * bd : (b + 1) * bd]
        cents = [0]
        d2 = np.full(n, np.inf)
        for _ in range(1, k):
            d2 = np.minimum(d2, ((Xb - Xb[cents[-1]]) ** 2).sum(axis=1))
            cents.append(int(d2.argmax()))
        C = Xb[cents].copy()
        for _ in range(n_iter):
            d = ((Xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            newC = C.copy()
            for j in range(k):
                members = Xb[assign == j]
                if len(members):
                    newC[j] = members.mean(axis=0)
                else:
                    worst = int(((Xb - C[assign]) ** 2).sum(axis=1).argmax())
                    newC[j] = Xb[worst]
            if np.allclose(newC, C, atol=1e-12):
                C = newC
                break
            C = newC
        blocks.append([[float(v) for v in C[j]] for j in range(k)])
    out = (bd, blocks)
    if memo_key is not None:
        if len(_ANCHOR_MEMO) > 64:
            _ANCHOR_MEMO.clear()
        _ANCHOR_MEMO[memo_key] = out
    return out


# above this k×m, PQ encode/dtable switch from per-centroid literal
# expressions to the Arrow matrix kernels — same plan-size argument as
# ivf's _CELL_EXPR_MAX_K (literals grow the plan O(k·m·bd); the kernel
# holds the codebook matrix in the UDF closure, plan size O(1))
_PQ_EXPR_MAX_KM = 32


def _pq_kernels(bd: int, blocks):
    """Arrow-batched PQ kernels for large codebooks: ``assign`` encodes
    a unit-vector batch to per-block codes (one GEMM per block,
    ``|c|² − 2x·c`` argmin — same argmin as the fold expressions up to
    fp rounding at exact ties, which is why the ORACLE path stays on
    the expression form); ``dtable`` emits the flattened m×k per-query
    dot table the ADC scorer indexes with ``element_at(t, b·k+c_b+1)``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mats = [np.array(cb, dtype=np.float64) for cb in blocks]
    k = len(blocks[0])

    @pandas_udf("array<int>")
    def assign(uv):
        import pandas as pd

        if len(uv) == 0:
            return pd.Series([], dtype="object")
        X = np.vstack(uv.to_numpy())
        codes = np.empty((len(X), len(mats)), dtype=np.int64)
        for b, C in enumerate(mats):
            Xb = X[:, b * bd : (b + 1) * bd]
            d = (C * C).sum(axis=1)[None, :] - 2.0 * (Xb @ C.T)
            codes[:, b] = d.argmin(axis=1)  # first min == lowest index
        return pd.Series([[int(v) for v in row] for row in codes], index=uv.index)

    @pandas_udf("array<double>")
    def dtable(uv):
        import pandas as pd

        if len(uv) == 0:
            return pd.Series([], dtype="object")
        X = np.vstack(uv.to_numpy())
        t = np.concatenate(
            [X[:, b * bd : (b + 1) * bd] @ C.T for b, C in enumerate(mats)], axis=1
        )  # (n, m*k), block-major — element_at(t, b*k + c + 1)
        return pd.Series([[float(v) for v in row] for row in t], index=uv.index)

    return assign, dtable, k


def _pq_encoded(u: DataFrame, bd: int, blocks, id_col: str) -> DataFrame:
    """(id, uv, c0..c{m-1}): per-block nearest-centroid codes — a
    map-only projection (zero shuffles over the corpus): codegen'd
    literal-centroid argmin chains for oracle-sized codebooks, the
    Arrow matrix kernel beyond _PQ_EXPR_MAX_KM."""
    if len(blocks) * len(blocks[0]) > _PQ_EXPR_MAX_KM:
        assign, _dt, _k = _pq_kernels(bd, blocks)
        enc = u.select(F.col(id_col), F.col("uv"), assign(F.col("uv")).alias("_cs"))
        return enc.select(
            id_col,
            "uv",
            *[
                F.element_at(F.col("_cs"), b + 1).alias(f"c{b}")
                for b in range(len(blocks))
            ],
        )
    cols = [F.col(id_col), F.col("uv")]
    for b, cslices in enumerate(blocks):
        sl = F.slice(F.col("uv"), b * bd + 1, bd)
        ds = [_sqd(sl, cs) for cs in cslices]
        cols.append(_argmin_chain(ds).alias(f"c{b}"))
    return u.select(*cols)


def _pq_resolve(
    u: DataFrame,
    emb: DataFrame,
    n_centroids: int,
    n_blocks: int,
    id_col: str,
    vec_col: str,
    codebooks,
):
    """(bd, blocks) from either the anchor discipline (oracle path) or
    trained/explicit codebooks (production path)."""
    if codebooks == "anchors":
        cents = anchor_units(u, n_centroids, id_col=id_col)
        if not cents:
            return 0, []
        return _pq_blocks(cents, n_blocks)
    if codebooks == "trained":
        return train_pq_codebooks(
            emb, n_centroids, n_blocks, id_col=id_col, vec_col=vec_col
        )
    bd = len(codebooks[0][0]) if codebooks else 0
    return bd, codebooks


def pq_codes(
    emb: DataFrame,
    n_centroids: int = PQ_K,
    n_blocks: int = PQ_BLOCKS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks="anchors",
) -> DataFrame:
    """(vec_id, c0..c{m-1}, code): the compressed PQ index — what a
    100 TB deployment actually WRITES as its ANN index table (the packed
    ``code`` int is the storage form; at k=256 it's m bytes/vector).
    ``codebooks``: "anchors" (deterministic, oracle-exact), "trained"
    (per-sub-space k-means via :func:`train_pq_codebooks`), or an
    explicit (blocks) list — train once, encode many."""
    u = with_unit(emb, id_col, vec_col)
    bd, blocks = _pq_resolve(
        u, emb, n_centroids, n_blocks, id_col, vec_col, codebooks
    )
    if not blocks:
        fields = ", ".join(f"c{b} int" for b in range(n_blocks))
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, {fields}, code long"
        )
    n_blocks = len(blocks)  # explicit codebooks win over the parameter
    enc = _pq_encoded(u, bd, blocks, id_col)
    k = len(blocks[0])
    code = F.col("c0").cast("long")
    for b in range(1, n_blocks):
        code = code * F.lit(k) + F.col(f"c{b}")
    return enc.select(
        id_col, *[f"c{b}" for b in range(n_blocks)], code.alias("code")
    )


def pq_codes_sql(
    src: str = "embeddings",
    n_centroids: int = PQ_K,
    n_blocks: int = PQ_BLOCKS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cw, code_exprs = _pq_sql_parts(n_centroids, n_blocks, id_col)
    codes = ",\n         ".join(f"{e} AS c{b}" for b, e in enumerate(code_exprs))
    pack = "CAST(c0 AS BIGINT)"
    for b in range(1, n_blocks):
        pack = f"({pack} * {n_centroids} + c{b})"
    cols = ", ".join(f"c{b}" for b in range(n_blocks))
    return f"""
WITH u AS ({unit_cte_sql(src, id_col, vec_col)}),
cents AS (
  SELECT uv, CAST(row_number() OVER (ORDER BY {id_col}) - 1 AS INTEGER) AS cpos
  FROM (SELECT {id_col}, uv FROM u ORDER BY {id_col} LIMIT {n_centroids})
),
cw AS ({cw})
SELECT {id_col}, {cols}, {pack} AS code FROM (
  SELECT {id_col},
         {codes}
  FROM u CROSS JOIN cw
)
"""


def _pq_sql_parts(n_centroids: int, n_blocks: int, id_col: str, dim: int = 64):
    """Shared oracle fragments: the 1-row centroid CTE body (cu0..cu{k-1}
    via scalar subqueries) and the per-block argmin-code expressions.
    ``dim`` matches the driver embeddings (64); the DataFrame side infers
    it, the oracle renders it.

    Assumes the corpus has ≥ ``n_centroids`` rows (true at every
    contract sf): with fewer, the missing cu{j} scalar subqueries are
    NULL, every ``d <= NULL`` comparison nullifies its WHEN branch and
    the CASE falls to ELSE — while the DataFrame side correctly argmins
    over the smaller real anchor set. Tiny-corpus oracle parity would
    need the k_eff rendered at call time."""
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by {n_blocks} blocks")
    bd = dim // n_blocks
    cw = ", ".join(
        f"(SELECT uv FROM cents WHERE cpos = {j}) AS cu{j}" for j in range(n_centroids)
    )
    code_exprs = []
    for b in range(n_blocks):
        lo, hi = b * bd + 1, (b + 1) * bd
        ds = [
            _SQD_SQL.format(a=f"uv[{lo}:{hi}]", b=f"cu{j}[{lo}:{hi}]")
            for j in range(n_centroids)
        ]
        code_exprs.append(_argmin_chain_sql(ds))
    return f"SELECT {cw}", code_exprs


def pq_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_centroids: int = PQ_K,
    n_blocks: int = PQ_BLOCKS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks="anchors",
) -> DataFrame:
    """ADC top-k over the PQ codes: (q_id, neighbor_id, rank, approx_cos).

    Plan shape at 100 TB: the corpus side is the CODES table only —
    m ints per vector, the float embeddings never rescan; each of the
    ``n_queries`` query rows precomputes its m per-block dot TABLES
    (k doubles each) once, map-only, and is broadcast; per candidate the
    score is m ``element_at`` lookups + m-1 adds inside codegen. The
    only wide exchange is the final per-query top-k window (same
    TakeOrderedAndProject shape as every other ANN operator here).
    approx_cos approximates dot(q, x) on unit vectors — rank by it, then
    exact-rerank the short list if needed (brute_topk on the survivors,
    the standard PQ + rerank stack)."""
    u = with_unit(emb, id_col, vec_col)
    bd, blocks = _pq_resolve(
        u, emb, n_centroids, n_blocks, id_col, vec_col, codebooks
    )
    if not blocks:
        return emb.sparkSession.createDataFrame(
            [], "q_id long, neighbor_id long, rank int, approx_cos double"
        )
    n_blocks = len(blocks)  # explicit codebooks win over the parameter
    enc = _pq_encoded(u, bd, blocks, id_col)
    c = enc.select(
        F.col(id_col).alias("neighbor_id"), *[f"c{b}" for b in range(n_blocks)]
    )
    kk = len(blocks[0])
    if n_blocks * kk > _PQ_EXPR_MAX_KM:
        # large codebooks: one flattened m×k dot table per query row via
        # the Arrow kernel (plan size O(1) in k), block-major lookups
        _assign, dtable, _k = _pq_kernels(bd, blocks)
        q = u.where(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"), dtable(F.col("uv")).alias("t")
        )
        pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("neighbor_id"))
        approx = F.element_at(F.col("t"), F.col("c0") + 1)
        for b in range(1, n_blocks):
            approx = approx + F.element_at(
                F.col("t"), F.lit(b * kk) + F.col(f"c{b}") + 1
            )
    else:
        qcols = [F.col(id_col).alias("q_id")]
        for b, cslices in enumerate(blocks):
            sl = F.slice(F.col("uv"), b * bd + 1, bd)
            qcols.append(
                F.array(*[dot(sl, F.lit(cs)) for cs in cslices]).alias(f"t{b}")
            )
        q = u.where(F.col(id_col) < n_queries).select(*qcols)
        pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("neighbor_id"))
        approx = F.element_at(F.col("t0"), F.col("c0") + 1)
        for b in range(1, n_blocks):
            approx = approx + F.element_at(F.col(f"t{b}"), F.col(f"c{b}") + 1)
    w = Window.partitionBy("q_id").orderBy(F.col("approx_cos").desc(), "neighbor_id")
    return (
        pairs.select("q_id", "neighbor_id", approx.alias("approx_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "approx_cos")
    )


def pq_topk_sql(
    src: str = "embeddings",
    k: int = 10,
    n_queries: int = 8,
    n_centroids: int = PQ_K,
    n_blocks: int = PQ_BLOCKS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> str:
    cw, code_exprs = _pq_sql_parts(n_centroids, n_blocks, id_col, dim=dim)
    codes = ",\n         ".join(f"{e} AS c{b}" for b, e in enumerate(code_exprs))
    bd = dim // n_blocks
    # per-pair ADC score: CASE over the candidate's code selects the
    # query-block x centroid dot (recomputed per pair here — the oracle
    # optimizes for flatness, not speed; Spark looks it up from the
    # precomputed per-query table, same VALUE since inputs are identical)
    terms = []
    for b in range(n_blocks):
        lo, hi = b * bd + 1, (b + 1) * bd
        whens = " ".join(
            f"WHEN {j} THEN {dot_sql(f'q.uv[{lo}:{hi}]', f'cw.cu{j}[{lo}:{hi}]')}"
            for j in range(n_centroids)
        )
        terms.append(f"(CASE c.c{b} {whens} END)")
    approx = " + ".join(terms)
    return f"""
WITH u AS ({unit_cte_sql(src, id_col, vec_col)}),
cents AS (
  SELECT uv, CAST(row_number() OVER (ORDER BY {id_col}) - 1 AS INTEGER) AS cpos
  FROM (SELECT {id_col}, uv FROM u ORDER BY {id_col} LIMIT {n_centroids})
),
cw AS ({cw}),
codes AS (
  SELECT {id_col},
         {codes}
  FROM u CROSS JOIN cw
),
pairs AS (
  SELECT q.{id_col} AS q_id, c.{id_col} AS neighbor_id, {approx} AS approx_cos
  FROM codes c CROSS JOIN cw, u q
  WHERE q.{id_col} < {n_queries} AND q.{id_col} <> c.{id_col}
)
SELECT q_id, neighbor_id, rank, approx_cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


# --- embedding-space outlier scoring ----------------------------------------

OUTLIER_BOTTOM_FRAC = 0.1


def resolve_centroids(
    emb: DataFrame,
    u: DataFrame,
    n_clusters: int | None,
    centroids: str | list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Shared centroid resolution for the cell-assignment operators:
    an explicit list passes through
    untouched — in particular WITHOUT the ``emb.count()`` auto-sizing
    scan, which is only paid when a count is actually needed to pick k."""
    if isinstance(centroids, list):
        return centroids
    if n_clusters is None:
        n_clusters = auto_centroids(emb.count())
    if centroids == "trained":
        return train_centroids(emb, n_clusters, id_col=id_col, vec_col=vec_col)
    if centroids == "anchors":
        return anchor_units(u, n_clusters, id_col=id_col)
    raise ValueError(f"unknown centroids mode {centroids!r}")


def embedding_outliers(
    emb: DataFrame,
    n_clusters: int | None = 8,
    bottom_frac: float = OUTLIER_BOTTOM_FRAC,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str | list = "anchors",
) -> DataFrame:
    """Embedding-space outlier scoring: assign every vector to its
    argmax-dot centroid cell (the IVF assignment), score it by
    cosine to that centroid, and flag the bottom ``bottom_frac`` of each
    cell by percent rank — the quality gate that catches corrupt
    embeddings, encoder failures, and off-manifold documents before
    they pollute dedup/ANN/mixture decisions downstream (the embedding
    twin of the text-side quality filter in ``corpus_filter``).

    Output: (vec_id, cell, cos_centroid, pct, is_outlier) where ``pct``
    is percent_rank within the cell ordered by cos_centroid ascending
    (farthest-from-centroid first, so ``pct <= bottom_frac`` flags the
    worst tail). percent_rank = (rank-1)/(n-1) computes the same
    integer-ratio doubles in Spark and DuckDB, so the flag hashes
    exactly.

    Plan shape at 100 TB: centroids are driver-sized literals, so the
    (cell, cos) pair is ONE map-only struct-argmax projection per row —
    zero joins; the only exchange is the per-cell window, and cells are
    executor-sized at k ~ sqrt(n) (``auto_centroids``). At 10^12
    vectors the honest swap for the exact per-cell percent_rank is an
    approximate per-cell quantile threshold (percentile_approx, the
    same swap quality_deciles documents for its exact ranks).
    """
    u = with_unit(emb, id_col, vec_col)
    cents = resolve_centroids(emb, u, n_clusters, centroids, id_col, vec_col)
    if not cents:  # empty corpus: schema-stable empty result
        return emb.sparkSession.createDataFrame(
            [],
            f"{id_col} long, cell int, cos_centroid double, pct double, "
            "is_outlier boolean",
        )
    if len(cents) <= _CELL_EXPR_MAX_K:
        best = F.array_max(_cell_structs(cents))
        assigned = u.select(
            F.col(id_col),
            F.coalesce(best.getField("cid"), F.lit(-1)).alias("cell"),
            best.getField("d").alias("cos_centroid"),
        )
    else:
        # large k: the struct-argmax expression would inline k
        # interpreted HOF dots per row (plan size O(k·dim) — the trap
        # _CELL_EXPR_MAX_K guards). Assign via the Arrow matrix kernel,
        # then recover the cosine with ONE fold dot per row against a
        # broadcast k-row centroid dim (measured 84 s → kernel-bound at
        # 100×/k=707 for the inline form).
        assign_udf, _ = _cell_kernels(cents, 1)
        cents_df = F.broadcast(
            emb.sparkSession.createDataFrame(
                [(cid, list(cv)) for cid, cv in cents], "cell int, cu array<double>"
            )
        )
        assigned = (
            u.select(F.col(id_col), F.col("uv"), assign_udf(F.col("uv")).alias("cell"))
            .join(cents_df, "cell")
            .select(
                F.col(id_col),
                F.col("cell"),
                dot(F.col("uv"), F.col("cu")).alias("cos_centroid"),
            )
        )
    w = Window.partitionBy("cell").orderBy("cos_centroid")
    pct = F.percent_rank().over(w)
    return assigned.select(
        F.col(id_col),
        F.col("cell"),
        F.col("cos_centroid"),
        pct.alias("pct"),
        (pct <= F.lit(float(bottom_frac))).alias("is_outlier"),
    )


def embedding_outliers_sql(
    src: str = "embeddings",
    n_clusters: int = 8,
    bottom_frac: float = OUTLIER_BOTTOM_FRAC,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB rendering of :func:`embedding_outliers` (anchor
    centroids) — same assignment rule (argmax dot, higher cid on
    ties), same percent_rank flag, column-for-column."""
    d = dot_sql("v.uv", "c.cu")
    return f"""
WITH u AS ({unit_cte_sql(src, id_col, vec_col)}),
cents AS (
  SELECT CAST(row_number() OVER (ORDER BY {id_col}) - 1 AS INTEGER) AS cid, uv AS cu
  FROM u ORDER BY {id_col} LIMIT {n_clusters}
),
dots AS (SELECT v.{id_col} AS id, c.cid, {d} AS d FROM u v, cents c),
assigned AS (
  SELECT id, cell, cos_centroid FROM (
    SELECT id, cid AS cell, d AS cos_centroid,
           row_number() OVER (PARTITION BY id ORDER BY d DESC, cid DESC) AS rn
    FROM dots
  ) WHERE rn = 1
)
SELECT id AS {id_col}, cell, cos_centroid,
       percent_rank() OVER (PARTITION BY cell ORDER BY cos_centroid) AS pct,
       percent_rank() OVER (PARTITION BY cell ORDER BY cos_centroid)
         <= CAST({bottom_frac!r} AS DOUBLE) AS is_outlier
FROM assigned
"""
