"""Property-based parser parity: for arbitrary (well-formed and
garbage) input strings, both parse engines and the DuckDB rendering the
oracles grade against must agree exactly with the pure-Python oracle's
reference semantics (search-anywhere, all-named-groups extraction,
`_`-discard, non-participating group → \"\", no match → discard flag)
in the reference's regex dialect, Go RE2: ``.`` stops only at ``\\n``,
and ``\\d \\w \\s`` are ASCII classes."""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from log_formatter_spark.contract import PARSE_SQL
from log_formatter_spark.operators.parser import ParserConfig, apply_parser
from log_formatter_spark.oracle import parse_doc
from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

_LEVELS = ["INFO", "WARN", "ERROR", "DEBUG", ""]
_TOOLS = ["bash", "read", "", "grep"]
# characters some regex engines treat as line terminators for ``.``
_TERMINATORS = "\r\u0085\u2028\u2029"


def _long(body: str) -> str:
    """``body`` repeated into a ≥2 KB tool-output body."""
    return (body + " é0") * (2048 // (len(body) + 3) + 1)


@st.composite
def log_lines(draw):
    """Mostly-well-formed lines with adversarial mutations mixed in:
    NULL and empty text, and ≥2 KB tool-output bodies."""
    kind = draw(st.integers(0, 6))
    ts = draw(st.integers(0, 10**9))
    t = datetime.fromtimestamp(ts, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    level = draw(st.sampled_from(_LEVELS))
    tool = draw(st.sampled_from(_TOOLS))
    body = draw(st.text(alphabet="abc xyz=[]()0 9é" + _TERMINATORS, min_size=0, max_size=30))
    if draw(st.booleans()):  # long tool output
        body = _long(body)
    turn = draw(st.integers(0, 999))
    if kind == 0:  # canonical
        return f"{t} {level or 'INFO'} [{tool}] {body} turn={turn}"
    if kind == 1:  # missing level (reference malformed shape)
        return f"{t} [{tool}] {body} turn={turn}"
    if kind == 2:  # prefix noise (search semantics: still matches)
        return f"noise {t} {level or 'WARN'} [{tool}] {body} turn={turn}"
    if kind == 3:  # missing turn suffix
        return f"{t} {level or 'INFO'} [{tool}] {body}"
    if kind == 5:  # NULL text
        return None
    if kind == 6:  # empty text
        return ""
    return draw(st.text(max_size=60))  # arbitrary garbage


def test_null_text_is_parse_failure_in_every_engine(spark):
    """NULL input text → parse_ok=false (not NULL) with null fields, in
    both vectorized engines and jvm codegen alike; fixture data never
    contains nulls, so this pins the edge the contract can't reach."""
    df = spark.createDataFrame(
        [(0, None), (1, "2024-01-02 03:04:05 INFO [bash] hi turn=1")],
        "i long, text string",
    )
    for engine in ("arrow", "jvm"):
        out = apply_parser(df, ParserConfig(TRANSCRIPT_PATTERN, "text", engine=engine))
        rows = {r["i"]: r for r in out.collect()}
        assert rows[0]["parse_ok"] is False, f"engine={engine}: null text must be False"
        assert rows[0]["level"] is None
        assert rows[1]["parse_ok"] is True


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(log_lines(), min_size=1, max_size=40))
@example([f"2024-01-02 03:04:05 INFO [bash] a{c}b turn=1" for c in _TERMINATORS])
@example([None, "", f"2024-01-02 03:04:05 INFO [bash] {_long('a' + _TERMINATORS)} turn=1"])
@example(
    [
        "2024-01-02 03:04:05 INFO [outil_é] body turn=1",  # non-ASCII \w
        "2024-01-02 03:04:05 INFO [bash] body turn=\u0663\u0664",  # Arabic-Indic \d
    ]
)
def test_engines_match_python_oracle(spark, lines):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "i long, text string")
    want = []
    for s in lines:
        parsed = parse_doc({"text": s}, TRANSCRIPT_PATTERN)
        if parsed is None:
            want.append((False, None, None, None, None))
        else:
            want.append(
                (True, parsed["ts_str"], parsed["level"], parsed["tool_tag"], parsed["body"])
            )
    for engine in ("arrow", "jvm"):
        out = apply_parser(df, ParserConfig(TRANSCRIPT_PATTERN, "text", engine=engine))
        got = [
            (r["parse_ok"], r["ts_str"], r["level"], r["tool_tag"], r["body"])
            for r in out.orderBy("i").collect()
        ]
        assert got == want, f"engine={engine} diverged from oracle"
    assert _duckdb_parse(lines) == want, "engine=duckdb diverged from oracle"


def _duckdb_parse(lines):
    """``contract.PARSE_SQL`` over ``lines`` in DuckDB, in input order."""
    con = duckdb.connect()
    con.register("lines", pa.table({"i": list(range(len(lines))), "text": pa.array(lines, pa.string())}))
    rows = con.execute(f"SELECT i, {PARSE_SQL} FROM lines ORDER BY i").fetchall()
    return [tuple(r[1:]) for r in rows]


@pytest.mark.parametrize(
    "text",
    [
        "2024-01-02 03:04:05 INFO [outil_é] body turn=1",  # non-ASCII \w
        "2024-01-02 03:04:05 INFO [bash] body turn=\u0663\u0664",  # Arabic-Indic \d
        "2024-01-02 03:04:05 INFO [bash] body turn=12",
    ],
)
def test_unicode_classes_are_ascii_in_every_engine(spark, text):
    """RE2 (the arrow engine, the DuckDB twins, the reference) and Java
    match \\w and \\d against ASCII only; the oracle and the pandas
    fallback, both Python ``re``, must too."""
    want = parse_doc({"text": text}, TRANSCRIPT_PATTERN)
    want = None if want is None else want["tool_tag"]
    df = spark.createDataFrame([(text,)], "text string")
    # a lookahead RE2 rejects sends the arrow engine to the pandas fallback
    configs = [
        ParserConfig(TRANSCRIPT_PATTERN, engine="arrow"),
        ParserConfig(TRANSCRIPT_PATTERN, engine="jvm"),
        ParserConfig(TRANSCRIPT_PATTERN + "(?=)", engine="arrow"),
    ]
    for cfg in configs:
        r = apply_parser(df, cfg).first()
        assert (r["parse_ok"], r["tool_tag"]) == (want is not None, want), cfg
