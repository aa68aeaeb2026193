"""Embedding vector math, cross-engine exact.

Dot products are sequential left folds over double-cast elements with a
0.0 initial accumulator in BOTH engines, so Spark and DuckDB produce
bit-identical IEEE doubles (mul, add, sqrt, div are all correctly
rounded) — the driver's value-hash comparison holds without rounding.

JVM-side throughout (``zip_with`` + ``aggregate`` run inside codegen);
no Python in the hot path. For 100 TB-scale similarity, these
expressions are the per-pair kernel under the LSH-bucketed join
(operators/similarity.py), never a full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float-array columns."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB renderings; format with a/b = FLOAT[]/DOUBLE[] SQL expressions.
DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), "
    "p -> p[1] * p[2])), (x, y) -> x + y)"
)


def dot_sql(a: str, b: str) -> str:
    return DOT_SQL.format(a=a, b=b)


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})))"


def with_unit(df, id_col: str, vec_col: str, extra: dict | None = None):
    """Add a pre-normalized ``uv`` column (norm computed ONCE per row).

    For pairwise cosine workloads this turns each pair into a single
    dot fold instead of three (dot + two norms) — measured 3× on the
    all-pairs near-dup scan. The norm is materialized as a column
    before the elementwise divide; putting ``norm`` inside the
    ``transform`` lambda would re-fold it per element. Unit-dot cosines
    are NOT bit-identical to the dot/(|a||b|) form, so any oracle must
    use this same unit-vector formulation (``unit_cte_sql``).

    ``extra`` ({name: Column}) rides additional expressions through the
    projection, evaluated against the RAW input rows — so a caller's
    expression over a column this projection would otherwise drop (e.g.
    the label column that ``hard_negatives`` and
    ``contrastive_triplets`` carry as ``lbl``) still resolves.
    """
    extra = extra or {}
    n = norm(F.col(vec_col))
    return (
        df.select(
            F.col(id_col),
            _d(F.col(vec_col)).alias(vec_col),
            n.alias("_n"),
            *[c.alias(k) for k, c in extra.items()],
        )
        .select(
            id_col,
            vec_col,
            F.transform(F.col(vec_col), lambda x: x / F.col("_n")).alias("uv"),
            *extra.keys(),
        )
    )


def unit_cte_sql(src: str, id_col: str, vec_col: str) -> str:
    """DuckDB rendering of with_unit: (id, vec, uv) rows."""
    return f"""
SELECT {id_col}, {vec_col},
       list_transform(CAST({vec_col} AS DOUBLE[]), x -> x / _n) AS uv
FROM (SELECT {id_col}, {vec_col}, sqrt({dot_sql(vec_col, vec_col)}) AS _n FROM {src})
"""


# --- vectorized (Arrow/numpy) dot kernel ----------------------------------
#
# The fold `dot` above is JVM-codegen'd but INTERPRETED per element
# (HOF lambda), which is the right trade for oracle parity (sequential
# left fold = DuckDB's list_reduce, bit-exact) but costs ~117 s on the
# 100x-scale embedding near-dup verify step (BENCH.md r2 §11). The
# production swap is this Arrow-batched numpy kernel: whole candidate
# batches cross to Python once via Arrow, the dot is one BLAS-shaped
# einsum over a dense (batch, dim) matrix. NOT bit-identical to the
# fold (pairwise/SIMD summation order) — so it is opt-in via
# verify="vectorized" on the ANN operators and excluded from the
# oracle-hashed contract path; equality within float tolerance is
# pinned in tests/test_vectorized_dot.py.


def _dot_batch(xs, ys):
    """(pd.Series of np arrays, pd.Series of np arrays) -> pd.Series."""
    import numpy as np
    import pandas as pd

    if len(xs) == 0:
        return pd.Series([], dtype="float64")
    A = np.vstack(xs.to_numpy())
    B = np.vstack(ys.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", A, B), index=xs.index)


_DOT_UDF = None


def dot_vectorized(a: Column, b: Column) -> Column:
    """Arrow-batched numpy dot of two array<double> columns."""
    global _DOT_UDF
    if _DOT_UDF is None:
        import pandas as pd
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        # explicit functionType: the decorator's type-hint inference can't
        # see through `from __future__ import annotations` string hints
        _DOT_UDF = pandas_udf(_dot_batch, "double", PandasUDFType.SCALAR)
    return _DOT_UDF(_d(a), _d(b))


def dot_kernel(verify: str):
    """Select the pair-verify dot kernel: "fold" (sequential HOF fold,
    bit-exact vs the DuckDB oracle — the contract default) or
    "vectorized" (Arrow/numpy einsum, ~10-100x faster per candidate at
    scale, float-tolerance-equal — the production default)."""
    if verify == "fold":
        return dot
    if verify == "vectorized":
        return dot_vectorized
    raise ValueError(f"unknown verify kernel {verify!r} (use 'fold' or 'vectorized')")
