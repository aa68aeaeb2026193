"""The output check accepts a correct leg and flags a corrupted count.

The "committed output" here is written by DuckDB in the layout the
pipeline commits (``route=<sink>/`` partitions and an aggregate table),
so the test needs no Spark session."""

import copy
import os

import duckdb
import pytest

from expect import (
    actual_batch,
    create_routed_view,
    expected_outputs,
    ledger_expectation,
    mismatches,
)
from gen import GenParams, write_transcripts
from log_formatter_spark.transcripts import TRANSCRIPT_PATTERN

PARAMS = GenParams(n_turns=2000, body_len=70, hot_share=0.1, malformed_share=0.05, n_files=2)


@pytest.fixture()
def leg(tmp_path):
    files = write_transcripts(3, PARAMS, str(tmp_path / "in"))
    exp = expected_outputs(files, TRANSCRIPT_PATTERN, str(tmp_path))
    routed, agg = str(tmp_path / "routed"), str(tmp_path / "agg")
    _commit(exp, files, routed, agg)
    return exp, routed, agg, str(tmp_path)


def _commit(exp, files, routed, agg):
    """Write a correct routed table and aggregate table with DuckDB, in
    the layout the pipeline commits."""
    con = duckdb.connect()
    try:
        create_routed_view(con, files, TRANSCRIPT_PATTERN)
        con.execute(
            f"COPY (SELECT * FROM routed) TO '{routed}' (FORMAT parquet, PARTITION_BY (route))"
        )
        os.makedirs(agg)
        con.execute(
            f"""COPY (SELECT route, role, tool,
                         to_timestamp(floor(epoch(ts) / 3600) * 3600) AS hour, count(*) AS n
                      FROM routed GROUP BY ALL) TO '{agg}/part-0.parquet' (FORMAT parquet)"""
        )
    finally:
        con.close()


def test_correct_output_passes(leg):
    exp, routed, agg, tmp = leg
    assert exp["rows_in"] == PARAMS.n_turns
    assert 0 < exp["rows_parsed"] < exp["rows_in"]
    assert mismatches(exp, actual_batch(routed, agg, tmp)) == []


def test_corrupted_aggregate_count_is_flagged(leg):
    exp, routed, agg, tmp = leg
    part = os.path.join(agg, "part-0.parquet")
    duckdb.execute(
        f"""COPY (SELECT route, role, tool, hour,
                         n + CASE WHEN row_number() OVER () = 1 THEN 1 ELSE 0 END AS n
                  FROM read_parquet('{part}')) TO '{part}.new' (FORMAT parquet)"""
    )
    os.replace(part + ".new", part)
    got = actual_batch(routed, agg, tmp)
    assert any("aggregate" in m for m in mismatches(exp, got))


def test_lost_routed_row_is_flagged(leg):
    exp, routed, agg, tmp = leg
    got = actual_batch(routed, agg, tmp)
    got["routes"]["sink_user"] -= 1
    assert mismatches(exp, got) == [
        f"route sink_user: expected {exp['routes']['sink_user']}, "
        f"got {exp['routes']['sink_user'] - 1}"
    ]


def test_ledger_counter_is_checked(leg):
    exp, routed, agg, tmp = leg
    got = actual_batch(routed, agg, tmp)
    got["ledger"] = ledger_expectation(exp)
    assert mismatches(exp, got) == []
    bad = copy.deepcopy(got)
    bad["ledger"]["rows_discarded"] += 1
    assert mismatches(exp, bad) == [
        f"ledger rows_discarded: expected {exp['rows_in'] - exp['rows_parsed']}, "
        f"got {exp['rows_in'] - exp['rows_parsed'] + 1}"
    ]
