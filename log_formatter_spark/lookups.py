"""Enrichment lookup tables (broadcast-join side).

The north rule requires "broadcast-join enrichment keyed on role and
tool". These are the canonical small dims (FIXTURES.md §2), rendered
once as SQL VALUES: Spark reads them as inline tables (a JVM local
relation, no Python worker) and the DuckDB oracle reads the same
strings, so enrich queries are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ROLE_ROWS = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 3),
    ("tool", "machine", 4),
]

TOOL_ROWS = [
    ("bash", "shell", True),
    ("read", "fs", False),
    ("write", "fs", True),
    ("grep", "search", False),
    ("browser", "web", True),
    ("", "none", False),
]

ROLE_LOOKUP_SQL = (
    "(VALUES " + ", ".join(f"('{r}', '{c}', {p})" for r, c, p in ROLE_ROWS)
    + ") AS role_lookup(role, role_class, priority)"
)

TOOL_LOOKUP_SQL = (
    "(VALUES " + ", ".join(f"('{t}', '{k}', {str(s).upper()})" for t, k, s in TOOL_ROWS)
    + ") AS tool_lookup(tool, tool_kind, is_sideeffect)"
)


def role_lookup(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {ROLE_LOOKUP_SQL}")


def tool_lookup(spark: SparkSession) -> DataFrame:
    return spark.sql(f"SELECT * FROM {TOOL_LOOKUP_SQL}")
