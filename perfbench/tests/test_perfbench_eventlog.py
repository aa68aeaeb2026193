"""The event-log reader on a small recorded log.

``data/eventlog.jsonl`` was recorded from a traced run over a 2,000-turn
input (the warm-up, one run_batch leg with its aggregate write, the
isolated layer legs and a two-file streaming drain), then cut down to the events and
fields the reader uses (plan trees are flattened to the SQL metrics it reads;
plan texts keep only their write-command line). The expected sums
here are computed from the raw JSON lines, independently of the reader.
"""

import json
import os

import pytest

import eventlog as ev

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture(scope="module")
def raw():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="module")
def log():
    return ev.read_event_log(LOG)


def _stage_ids(raw, prefix):
    return {
        s
        for e in raw
        if e["Event"] == "SparkListenerJobStart"
        and (e["Properties"].get("spark.job.description") or "").startswith(prefix)
        for s in e["Stage IDs"]
    }


def _task_sum(raw, stage_ids, key):
    return sum(
        e["Task Metrics"][key]
        for e in raw
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids
    )


@pytest.mark.parametrize(
    "prefix",
    ["perfbench/e2e/run_batch", "perfbench/e2e/aggregates", "perfbench/layer/agg."],
)
def test_stages_are_attributed_by_job_description(raw, log, prefix):
    """Every stage of the tagged jobs that ran a task, and no other."""
    ran = {e["Stage ID"] for e in raw if e["Event"] == "SparkListenerTaskEnd"}
    stages = log.stages_for(prefix)
    assert stages, prefix
    assert {s.stage_id for s in stages} == _stage_ids(raw, prefix) & ran


def test_task_times_and_gc_sum(raw, log):
    ids = _stage_ids(raw, "perfbench/e2e/run_batch")
    stages = log.stages_for("perfbench/e2e/run_batch")
    assert sum(sum(s.task_ms) for s in stages) == _task_sum(raw, ids, "Executor Run Time")
    assert ev.gc_seconds(stages) == _task_sum(raw, ids, "JVM GC Time") / 1000


def test_shuffle_bytes_of_the_aggregate(raw, log):
    ids = _stage_ids(raw, "perfbench/layer/agg.")
    want = sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        for e in raw
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in ids
    )
    assert want > 0
    assert ev.total(log.stages_for("perfbench/layer/agg."), "shuffle_write_bytes") == want


def test_task_skew_ratio(log):
    for s in log.stages.values():
        if len(s.task_ms) > 1 and min(s.task_ms) > 0:
            assert s.task_max_over_median >= 1.0


def test_broadcast_time_comes_from_driver_metrics(raw, log):
    executions = log.executions_for("perfbench/e2e/run_batch")
    assert executions
    ids = {x.execution_id for x in executions}
    names = {}
    for e in raw:
        if (
            e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate"))
            and e["executionId"] in ids
        ):
            stack = [e["sparkPlanInfo"]]
            while stack:
                node = stack.pop()
                names.update({m["accumulatorId"]: m["name"] for m in node["metrics"]})
                stack += node["children"]
    want = sum(
        v
        for e in raw
        if e["Event"].endswith("DriverAccumUpdates") and e["executionId"] in ids
        for acc, v in e["accumUpdates"]
        if names.get(acc) in ev.BROADCAST_METRICS
    )
    assert want > 0
    assert ev.broadcast_seconds(executions) == want / 1000


def test_streaming_jobs_carry_batch_ids(log):
    batches = {j.batch_id for j in log.jobs.values() if j.batch_id is not None}
    assert batches == {0, 1}
    roots = {
        log.executions[j.execution_id].root_id
        for j in log.jobs.values()
        if j.batch_id is not None
    }
    assert len(roots) == 2  # one root SQL execution per micro-batch
    writes = [
        x for x in log.executions.values() if x.root_id in roots and x.execution_id != x.root_id
    ]
    assert any(x.is_write for x in writes) and any(not x.is_write for x in writes)
