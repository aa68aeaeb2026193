"""Catalog-wide plan hygiene: every driver-contract query's physical
plan is screened for scale-killer nodes. Individual plan-shape tests
live in test_plans.py; this sweep guarantees no FUTURE contract entry
quietly ships an all-pairs product or row-at-a-time Python.
"""

from __future__ import annotations

import pytest

from log_formatter_spark import contract

# streaming_pipeline_counts executes a full streaming job on call, and
# its result is a read of materialized output — no single plan to audit
SKIP = {"streaming_pipeline_counts"}

NAMES = sorted(set(contract.queries()) - SKIP)


@pytest.mark.parametrize("name", NAMES)
def test_no_scale_killer_nodes(spark, sf_dir, name):
    df = contract.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cross product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"
    # Nullable computed INNER-join keys make Catalyst push an
    # isnotnull(key) filter below the projection, re-inlining the whole
    # (interpreted, HOF) expression per row — a 3.7× regression once
    # measured on an IVF top-k query (BENCH.md §8). Flag any filter
    # that re-evaluates a higher-order function.
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith(("Filter", "+- Filter", ":- Filter")) and "isnotnull" in s:
            assert not any(h in s for h in ("aggregate(", "zip_with(", "transform(")), (
                f"{name}: isnotnull pushdown re-evaluates a HOF expression: {s[:200]}"
            )
