"""Log analytics over the transcript view: hourly error bursts against a
trailing baseline (``error_burst``), per-key hourly traffic-rate
anomalies with exact integer statistics (``rate_anomaly``), and
contiguous runs of ERROR turns per conversation (``error_streaks``),
each with an exact DuckDB oracle.

In each, the row-scale work is one map-side-combined aggregate (for
``error_streaks``, one exchange of the ERROR rows on ``conv_id``), and
the windows run over that small aggregated output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    input-sized work is the map-side-combined groupBy(hour) before it,
    so the window reads an already-aggregated table whose size does not
    grow with the corpus. RANGE frames run over exact
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
