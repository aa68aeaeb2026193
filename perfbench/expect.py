"""Independent output check: DuckDB over the generated parquet.

The expectation never runs Spark. It parses with DuckDB's regex functions
(RE2, the reference's dialect), routes with ``operators.route.ROUTE_SQL``
and enriches with the ``lookups`` VALUES tables, so it shares only the
SQL texts with the pipeline under test. It is computed once per input
and compared against what a leg committed: the routed parquet read back,
the aggregate table, and (streaming) the ledger snapshot.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import duckdb

from log_formatter_spark.lookups import ROLE_LOOKUP_SQL, TOOL_LOOKUP_SQL
from log_formatter_spark.operators.route import DEFAULT_ROUTES, ROUTE_SQL


def _con(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def create_routed_view(con, files: list[str], pattern: str) -> None:
    """TEMP VIEW ``routed``: the input parsed with RE2, enriched with the
    lookup tables and routed with ``ROUTE_SQL``."""
    level_idx = re.compile(pattern).groupindex["level"]
    pat = pattern.replace("'", "''")
    con.execute(
        f"""
        CREATE TEMP VIEW routed AS
        WITH t AS (SELECT * FROM read_parquet({_sql_list(files)})),
        p AS (
          SELECT *, coalesce(regexp_matches(text, '{pat}'), false) AS parse_ok
          FROM t
        ),
        l AS (
          SELECT *, CASE WHEN parse_ok
            THEN regexp_extract(text, '{pat}', {level_idx}) END AS level
          FROM p
        ),
        e AS (
          SELECT l.*, role_lookup.role_class, tool_lookup.tool_kind
          FROM l
          LEFT JOIN {ROLE_LOOKUP_SQL} USING (role)
          LEFT JOIN {TOOL_LOOKUP_SQL} USING (tool)
        )
        SELECT *, {ROUTE_SQL} AS route FROM e
        """
    )


def _summary(con, agg_sql: str, count_expr: str, ts_col: str) -> dict:
    """Counts over the ``routed`` view plus the aggregate from ``agg_sql``."""
    return {
        "rows_in": con.execute("SELECT count(*) FROM routed").fetchone()[0],
        "rows_parsed": con.execute("SELECT count(*) FROM routed WHERE parse_ok").fetchone()[0],
        "routes": _routes(con, "routed"),
        "enriched": _enriched(con, "routed"),
        "aggregate": _agg_rows(con, agg_sql, count_expr, ts_col),
    }


def expected_outputs(files: list[str], pattern: str, tmp_dir: str) -> dict:
    """Per-sink counts, per-(route, role_class, tool_kind) counts, parse
    counts and the (route, role, tool, hour) aggregate for ``files``."""
    con = _con(tmp_dir)
    try:
        create_routed_view(con, files, pattern)
        return _summary(con, "SELECT route, role, tool, ts FROM routed", "count(*)", "ts")
    finally:
        con.close()


def _routes(con, view: str) -> dict[str, int]:
    got = dict(con.execute(f"SELECT route, count(*) FROM {view} GROUP BY route").fetchall())
    return {r: int(got.get(r, 0)) for r in DEFAULT_ROUTES}


def _enriched(con, view: str) -> list[list]:
    rows = con.execute(
        f"""SELECT route, coalesce(role_class, '<null>'), coalesce(tool_kind, '<null>'),
                   count(*)
            FROM {view} GROUP BY ALL ORDER BY ALL"""
    ).fetchall()
    return [list(r) for r in rows]


def _agg_rows(con, source_sql: str, count_expr: str, ts_col: str) -> list[list]:
    """(route, role, tool, hour as epoch seconds, n), sorted. Hours are
    compared as epoch numbers so no time zone setting is involved."""
    rows = con.execute(
        f"""SELECT route, role, tool,
                   CAST(floor(epoch({ts_col}) / 3600) * 3600 AS BIGINT) AS hour,
                   CAST({count_expr} AS BIGINT) AS n
            FROM ({source_sql}) GROUP BY ALL ORDER BY ALL"""
    ).fetchall()
    return [list(r) for r in rows]


def actual_batch(routed_dir: str, agg_dir: str, tmp_dir: str) -> dict:
    """Read back one batch leg's committed output."""
    con = _con(tmp_dir)
    try:
        con.execute(
            f"""CREATE TEMP VIEW routed AS SELECT * FROM read_parquet(
                '{routed_dir}/route=*/*.parquet', hive_partitioning = true)"""
        )
        return _summary(
            con,
            f"SELECT route, role, tool, hour, n FROM read_parquet('{agg_dir}/*.parquet')",
            "sum(n)",
            "hour",
        )
    finally:
        con.close()


def actual_stream(out_dir: str, ledger: dict[str, int], tmp_dir: str) -> dict:
    """Read back one streaming drain: routed rows under
    ``routed/batch_id=*/route=*``, partial aggregates under
    ``agg/batch_id=*`` (summed, as read_final_aggregates does) and the
    ledger snapshot's cumulative counters."""
    con = _con(tmp_dir)
    try:
        con.execute(
            f"""CREATE TEMP VIEW routed AS SELECT * FROM read_parquet(
                '{out_dir}/routed/batch_id=*/route=*/*.parquet', hive_partitioning = true)"""
        )
        got = _summary(
            con,
            f"""SELECT route, role, tool, hour, n FROM read_parquet(
                '{out_dir}/agg/batch_id=*/*.parquet', hive_partitioning = true)""",
            "sum(n)",
            "hour",
        )
    finally:
        con.close()
    got["ledger"] = dict(ledger)
    return got


def ledger_expectation(exp: dict) -> dict[str, int]:
    """The streaming ledger's cumulative counters implied by ``exp``."""
    out = {
        "rows_in": exp["rows_in"],
        "rows_parsed": exp["rows_parsed"],
        "rows_discarded": exp["rows_in"] - exp["rows_parsed"],
    }
    out.update({f"routed_{r}": n for r, n in exp["routes"].items()})
    return out


def mismatches(exp: dict, got: dict) -> list[str]:
    """Human-readable differences; empty when the leg's output is correct."""
    out = []
    for key in ("rows_in", "rows_parsed"):
        if exp[key] != got[key]:
            out.append(f"{key}: expected {exp[key]}, got {got[key]}")
    for r in DEFAULT_ROUTES:
        if exp["routes"][r] != got["routes"][r]:
            out.append(f"route {r}: expected {exp['routes'][r]}, got {got['routes'][r]}")
    if exp["enriched"] != got["enriched"]:
        out.append("per-(route, role_class, tool_kind) counts differ")
    if exp["aggregate"] != got["aggregate"]:
        diff = Counter(map(tuple, exp["aggregate"])) - Counter(map(tuple, got["aggregate"]))
        out.append(f"aggregate table differs ({len(diff)} expected rows missing)")
    if "ledger" in got:
        want = ledger_expectation(exp)
        for k, v in want.items():
            if got["ledger"].get(k) != v:
                out.append(f"ledger {k}: expected {v}, got {got['ledger'].get(k)}")
    return out


def load_or_compute(path: str, files: list[str], pattern: str, tmp_dir: str) -> dict:
    """Expected outputs for ``files``, cached as JSON at ``path``."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    exp = expected_outputs(files, pattern, tmp_dir)
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp
