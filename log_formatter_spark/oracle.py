"""Pure-Python reference oracle (~the reference's semantics in 60 lines).

Reimplements the per-doc data path of the reference — regex parse with
named groups + `_`-discard (agent/pipeline/parser/parser.go:99-104,
util/regexp.go:8-22), discard-on-error (agent/pipeline/pipeline.go:158-167),
label stamp, dict-merge field writes — plus the north-rule enrich/route/
aggregate stages, over plain Python rows. Used by tests to assert
routed-row equality and per-sink counts against the Spark pipeline
(FIXTURES.md §6); the content-exact upgrade of the reference's own E2E
line-count check (test/check-same-line.sh:8-14).
"""

from __future__ import annotations

import re
from collections import Counter
from datetime import datetime

from log_formatter_spark.lookups import ROLE_ROWS, TOOL_ROWS
from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

ROLE_MAP = {r: (c, p) for r, c, p in ROLE_ROWS}
TOOL_MAP = {t: (k, s) for t, k, s in TOOL_ROWS}


def parse_doc(doc: dict, pattern: str = TRANSCRIPT_PATTERN, target: str = "text"):
    """Reference parser semantics (Go RE2): search; no match -> error (None);
    matched: every named group becomes a field, ``""`` for
    non-participating groups, names ending in ``_`` dropped."""
    m = re.search(pattern, doc[target] or "", re.ASCII)  # RE2: ASCII \d \w \s
    if m is None:
        return None
    out = dict(doc)
    for name, val in m.groupdict().items():
        if name.endswith("_"):
            continue
        out[name] = val if val is not None else ""
    return out


def enrich_doc(doc: dict) -> dict:
    rc, pr = ROLE_MAP.get(doc.get("role"), (None, None))
    tk, ss = TOOL_MAP.get(doc.get("tool"), (None, None))
    return {**doc, "role_class": rc, "priority": pr, "tool_kind": tk, "is_sideeffect": ss}


def route_doc(doc: dict, parse_ok: bool) -> str:
    if not parse_ok or doc.get("level") == "ERROR":
        return "sink_errors"
    if doc.get("role") == "tool":
        return "sink_tool"
    if doc.get("role") == "user":
        return "sink_user"
    return "sink_default"


def run_oracle(rows: list[dict], pattern: str = TRANSCRIPT_PATTERN):
    """Full-pipeline oracle.

    Returns (routed_rows, agg_counts, metrics):
      routed_rows: list of enriched dicts incl. 'route' and 'parse_ok'
      agg_counts: Counter[(route, role, tool, hour:datetime)] -> n
      metrics: dict rows_in / rows_parsed / rows_discarded
    """
    routed, agg = [], Counter()
    metrics = {"rows_in": 0, "rows_parsed": 0, "rows_discarded": 0}
    for row in rows:
        metrics["rows_in"] += 1
        parsed = parse_doc(row, pattern)
        ok = parsed is not None
        doc = parsed if ok else dict(row)
        metrics["rows_parsed" if ok else "rows_discarded"] += 1
        doc = enrich_doc(doc)
        doc["parse_ok"] = ok
        doc["route"] = route_doc(doc, ok)
        routed.append(doc)
        ts: datetime = row["ts"]
        hour = ts.replace(minute=0, second=0, microsecond=0)
        agg[(doc["route"], doc["role"], doc["tool"], hour)] += 1
    return routed, agg, metrics
