"""Declarative data-validation report — the ingest-quality gate a
production pipeline runs before anything else touches a batch (the
Deequ/GreatExpectations-shaped check, reduced to its Spark-native core):
count rule violations over a table in ONE pass and emit a per-rule
report row.

Plan: every rule is a conditional sum inside a single global aggregate
— one scan, map-side-combined partials, a one-row exchange — then the
row unpivots (explode of a literal-sized struct array) into the
(rule, n_violations, n_rows, violation_rate) report. Adding a rule adds
a column to the partial aggregate, never a pass. At 10^12 rows the
report costs exactly one scan regardless of rule count, which is why
validation belongs IN the engine rather than as N ad-hoc queries.

violation_rate is one IEEE division of exact int64 counts —
cross-engine hash-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validation_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """(rule, n_violations, n_rows, violation_rate) — one row per rule.

    ``rules`` maps rule name → boolean Column that is TRUE for a
    VIOLATING row (null predicate results count as violations: an
    unevaluable rule must fail loudly, not vanish — the NOT-IN-with-NULL
    trap)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, pred in rules.items():
        aggs.append(
            # sum over ZERO rows is NULL — an empty batch must report
            # 0 violations, not null ones
            F.coalesce(
                F.sum(F.when(F.coalesce(pred, F.lit(True)), 1).otherwise(0)),
                F.lit(0).cast("long"),
            ).alias(f"_v_{name}")
        )
    one = df.agg(*aggs)
    report = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col(f"_v_{name}").alias("n_violations"),
                )
                for name in rules
            ]
        )
    ).alias("r")
    return one.select(report, F.col("_n").alias("n_rows")).select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_violations").alias("n_violations"),
        "n_rows",
        F.when(
            F.col("n_rows") > 0,
            F.col("r.n_violations").cast("double") / F.col("n_rows").cast("double"),
        ).alias("violation_rate"),
    )


# --- contract instantiation over the events table ---------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TS_LO, TS_HI = "2024-01-01 00:00:00", "2025-01-01 00:00:00"


def validate_events(events: DataFrame) -> DataFrame:
    """The contract rule set over `events`: null keys, value range,
    enum membership, timestamp bounds, and primary-key duplication.

    The duplicate-id rule needs a second aggregate shape (count −
    count(DISTINCT id) can't ride a conditional sum), expressed as its
    own single-exchange aggregate unioned in — still two scans total
    for six rules, not six."""
    rules = {
        "null_user_id": F.col("user_id").isNull(),
        "null_ts": F.col("ts").isNull(),
        "nonpositive_value": F.col("value") <= 0,
        "unknown_event_type": ~F.col("event_type").isin(*EVENT_TYPES),
        "ts_out_of_range": (F.col("ts") < F.lit(TS_LO).cast("timestamp"))
        | (F.col("ts") >= F.lit(TS_HI).cast("timestamp")),
    }
    base = validation_report(events, rules)
    dup = events.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("event_id"))).alias(
            "n_violations"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.lit("duplicate_event_id").alias("rule"),
        "n_violations",
        "n_rows",
        F.when(
            F.col("n_rows") > 0,
            F.col("n_violations").cast("double") / F.col("n_rows").cast("double"),
        ).alias("violation_rate"),
    )
    return base.unionByName(dup)


def validate_events_sql(src: str = "events") -> str:
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    rules = {
        "null_user_id": "user_id IS NULL",
        "null_ts": "ts IS NULL",
        "nonpositive_value": "COALESCE(value <= 0, TRUE)",
        "unknown_event_type": f"COALESCE(event_type NOT IN ({types}), TRUE)",
        "ts_out_of_range": (
            f"COALESCE(ts < TIMESTAMP '{TS_LO}' OR ts >= TIMESTAMP '{TS_HI}', TRUE)"
        ),
    }
    branches = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, "
        f"CAST(COALESCE(sum(CASE WHEN {pred} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations, "
        f"count(*) AS n_rows FROM {src}"
        for name, pred in rules.items()
    )
    return f"""
SELECT rule, n_violations, n_rows,
       CASE WHEN n_rows > 0
            THEN CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) END
       AS violation_rate
FROM (
{branches}
UNION ALL
SELECT 'duplicate_event_id' AS rule,
       count(*) - count(DISTINCT event_id) AS n_violations,
       count(*) AS n_rows
FROM {src}
)
"""
