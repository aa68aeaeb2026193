"""Multi-dimensional data layout: Z-order (Morton) clustering for
scan pruning.

At 100 TB the fastest query is the one that never reads the file: a
parquet scan prunes row groups and files whose min/max statistics
exclude the predicate. A LINEAR sort keys the layout to one column —
range predicates on a second column prune nothing. Interleaving the
bits of two columns (the Z-order curve) makes files rectangles in BOTH
dimensions, so min/max pruning works for either predicate — the layout
trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY`` and the classic
multi-dimensional-index literature (Morton 1966; Orenstein & Merrett
1984), implemented here as plain column arithmetic + a range
repartition, nothing engine-specific.

The z-value is exact integer bit arithmetic (shifts, masks, adds) —
identical in Spark and DuckDB, so the layout assignment itself is
oracle-checkable, and the pruning claim is pinned by a test that
writes both layouts and checks parquet footer statistics with pyarrow
(``tests/test_zorder.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16
Z_BUCKET_SHIFT = 26  # histogram granularity: top 6 bits of the 32-bit zval


def zorder_key(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton-interleave the low ``bits`` of two NON-NEGATIVE integer
    columns: x occupies even bit positions, y odd. A sum of ``2·bits``
    disjoint-bit terms — whole-stage-codegen'd, no UDF, no shuffle.
    Callers normalize dimensions into [0, 2^bits) first (pmod / bucket
    index); the result fits comfortably in bigint for bits ≤ 31.
    """
    xs = x.cast("bigint")
    ys = y.cast("bigint")
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        out = out + F.shiftleft(F.shiftright(xs, i).bitwiseAND(F.lit(1)), 2 * i)
        out = out + F.shiftleft(
            F.shiftright(ys, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return out


def zorder_key_sql(x: str, y: str, bits: int = Z_BITS) -> str:
    """DuckDB rendering of :func:`zorder_key` (same shift/mask/add)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


# integer hour index with exact FLOOR semantics, never a double
# division (a float quotient near an hour boundary could round
# differently across engines). Plain `div`/`//` truncate toward zero
# in BOTH engines (measured: -5400s -> hour -1 in each), so they agree
# — but truncation merges the two hours straddling the epoch into
# index 0 and is an engine-version sensitivity; floor via the exact
# integer identity (a - pmod(a, b)) div b costs nothing and gives the
# true hour index for pre-1970 timestamps too (ADVICE r4).
_RAW_Y_EXPR = (
    "(unix_micros(cast(ts as timestamp_ltz))"
    " - pmod(unix_micros(cast(ts as timestamp_ltz)), 3600000000))"
    " div 3600000000"
)


def normalized_dims(ev: DataFrame, bits: int = Z_BITS) -> DataFrame:
    """(x, y) of (user_id, epoch-hour) min-max scaled to [0, 2^bits).

    Interleaving RAW values degenerates when the dimensions live at
    different magnitudes (measured on the driver fixture: user_id
    spans 4 bits, the 2024 hour index sits at bit 14 — the z-curve
    collapses to an hour-major linear sort and user predicates prune
    nothing). Every production ZORDER implementation therefore
    normalizes each column first; here it is exact integer min-max
    scaling, ``(v - min) * 2^bits div (span + 1)``, with the two
    min/max pairs collected once (driver-sized — a 1-row broadcast
    join would constant-fold into the banned BroadcastNestedLoopJoin).

    NULL user_id/ts rows are excluded (no layout home; the contract
    null rule).
    """
    base = ev.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(F.col("user_id").alias("_rx"), F.expr(_RAW_Y_EXPR).alias("_ry"))
    b = base.agg(
        F.min("_rx"), F.max("_rx"), F.min("_ry"), F.max("_ry")
    ).collect()[0]
    xmin, xmax, ymin, ymax = b[0], b[1], b[2], b[3]
    if xmin is None:  # empty input: no anchors, no rows (the
        # empty-input invariant every anchor-collect operator holds)
        return base.select(
            F.lit(0).cast("bigint").alias("x"),
            F.lit(0).cast("bigint").alias("y"),
        ).limit(0)

    def scale(col, lo, hi):
        # widen to decimal(38,0) before the multiply: (v - min) * 2^bits
        # overflows int64 once the dim spans > 2^(63-bits) (snowflake-
        # style ids do; ADVICE r4), and ANSI/non-ANSI disagree on how it
        # fails. The quotient is a non-negative exact integer, so the
        # skew._floor_div identity (n - n % d) / d casts back exactly.
        span1 = hi - lo + 1  # exact python int
        num = f"(cast({col} as decimal(38,0)) - {lo}) * {1 << bits}"
        return F.expr(
            f"cast((({num}) - ({num}) % {span1}) / {span1} as bigint)"
        )

    return base.select(
        scale("_rx", xmin, xmax).alias("x"),
        scale("_ry", ymin, ymax).alias("y"),
    )


def zorder_layout(
    ev: DataFrame, bits: int = Z_BITS, bucket_shift: int = Z_BUCKET_SHIFT
) -> DataFrame:
    """Z-order layout audit over the events table: assign each row the
    Morton key of min-max-normalized (user_id, epoch-hour) — the two
    columns ad-hoc queries filter on — and report, per z-bucket (the
    file-sized key prefix), the row count and the min/max extent in
    EACH dimension.

    The output IS the pruning evidence: under z-order every bucket is
    a bounded rectangle in (user, hour) space, so a predicate on
    either column excludes most buckets by min/max stats alone —
    whereas a linear layout's buckets span the full range of the
    second column (``tests/test_zorder.py`` pins both halves of that
    claim against real parquet footers). Plan: map-only key
    arithmetic + one map-side-combined aggregate on the bucket key;
    at 10¹² rows the write path is ``repartitionByRange(zval)`` +
    within-partition sort, exactly what compact_dir does for the
    linear case.
    """
    dims = normalized_dims(ev, bits)
    z = zorder_key(F.col("x"), F.col("y"), bits)
    return (
        dims.select("x", "y", z.alias("_z"))
        .groupBy(F.shiftright(F.col("_z"), bucket_shift).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("x").alias("min_user"),
            F.max("x").alias("max_user"),
            F.min("y").alias("min_hour"),
            F.max("y").alias("max_hour"),
        )
    )


def zorder_layout_sql(
    src: str = "events", bits: int = Z_BITS, bucket_shift: int = Z_BUCKET_SHIFT
) -> str:
    """DuckDB rendering of :func:`zorder_layout` — same min-max
    normalization (scalar subqueries play the collected anchors), same
    interleave, same bucket prefix."""
    zexpr = zorder_key_sql("x", "y", bits)
    m = 1 << bits
    return f"""
WITH zraw AS (
  SELECT user_id AS _rx,
         (epoch_us(ts)
          - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000))
         // 3600000000 AS _ry
  FROM {src} WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT _z >> {bucket_shift} AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS min_user, max(x) AS max_user,
       min(y) AS min_hour, max(y) AS max_hour
FROM (
  SELECT x, y, {zexpr} AS _z
  FROM (
    SELECT CAST(((CAST(_rx AS HUGEINT) - b.xmin) * {m})
                // (CAST(b.xmax AS HUGEINT) - b.xmin + 1) AS BIGINT) AS x,
           CAST(((CAST(_ry AS HUGEINT) - b.ymin) * {m})
                // (CAST(b.ymax AS HUGEINT) - b.ymin + 1) AS BIGINT) AS y
    FROM zraw r, (
      SELECT min(_rx) AS xmin, max(_rx) AS xmax,
             min(_ry) AS ymin, max(_ry) AS ymax
      FROM zraw
    ) b
  )
)
GROUP BY 1
"""
