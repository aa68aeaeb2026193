"""Stdlib-only reader for Spark's JSON event log.

Turns the log into per-stage task statistics (task times, GC, shuffle
bytes, spill, peak execution memory), per-job and per-SQL-execution
records, and driver-side SQL metrics such as broadcast build time. Stages are attributed to layers
through the job description the caller set (``setJobDescription``)
around each call; jobs run by a streaming query carry Spark's batch id
and their SQL execution's ``rootExecutionId`` instead.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_WRITE_MARKERS = ("InsertIntoHadoopFsRelationCommand", "WriteFiles")
BROADCAST_METRICS = ("time to collect", "time to build", "time to broadcast")


@dataclass
class StageStats:
    stage_id: int
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    peak_memory_bytes: int = 0

    def add_task(self, m: dict) -> None:
        self.task_ms.append(int(m.get("Executor Run Time", 0)))
        self.gc_ms += int(m.get("JVM GC Time", 0))
        sw = m.get("Shuffle Write Metrics", {})
        self.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
            sr.get("Local Bytes Read", 0)
        )
        self.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
            m.get("Disk Bytes Spilled", 0)
        )
        self.peak_memory_bytes = max(
            self.peak_memory_bytes, int(m.get("Peak Execution Memory", 0))
        )

    @property
    def task_max_over_median(self) -> float:
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


@dataclass
class Job:
    description: str
    stage_ids: list[int]
    execution_id: int | None = None
    batch_id: int | None = None


@dataclass
class Execution:
    execution_id: int
    description: str
    start_ms: int
    end_ms: int = 0
    is_write: bool = False
    root_id: int | None = None
    accum_names: dict[int, str] = field(default_factory=dict)
    driver_metrics: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1000.0


@dataclass
class EventLog:
    stages: dict[int, StageStats] = field(default_factory=dict)
    jobs: dict[int, Job] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)

    def stages_for(self, prefix: str) -> list[StageStats]:
        """Stages of every job whose description starts with ``prefix``."""
        ids = sorted(
            {s for j in self.jobs.values() if j.description.startswith(prefix) for s in j.stage_ids}
        )
        return [self.stages[i] for i in ids if i in self.stages]

    def executions_for(self, prefix: str) -> list[Execution]:
        return [e for e in self.executions.values() if e.description.startswith(prefix)]


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[int(m["accumulatorId"])] = m["name"]
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def event_files(path: str) -> list[str]:
    """The event files under ``path``: the file itself, or every file in
    the directory (one per application) in name order."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(path, n) for n in sorted(os.listdir(path))]


def parse_events(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            x = props.get("spark.sql.execution.id")
            b = props.get("streaming.sql.batchId")
            log.jobs[e["Job ID"]] = Job(
                description=props.get("spark.job.description") or "",
                stage_ids=list(e["Stage IDs"]),
                execution_id=int(x) if x is not None else None,
                batch_id=int(b) if b is not None else None,
            )
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            stage = log.stages.setdefault(sid, StageStats(sid))
            stage.add_task(e.get("Task Metrics") or {})
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            plan = e.get("physicalPlanDescription", "")
            root = e.get("rootExecutionId")
            ex = Execution(
                execution_id=e["executionId"],
                description=e.get("description") or "",
                start_ms=int(e["time"]),
                is_write=any(m in plan for m in _WRITE_MARKERS),
                root_id=int(root) if root is not None else None,
            )
            _plan_metrics(e.get("sparkPlanInfo") or {}, ex.accum_names)
            log.executions[ex.execution_id] = ex
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                _plan_metrics(e.get("sparkPlanInfo") or {}, ex.accum_names)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                for acc_id, value in e.get("accumUpdates", ()):
                    name = ex.accum_names.get(int(acc_id))
                    if name is not None:
                        ex.driver_metrics[name] = ex.driver_metrics.get(name, 0) + int(value)
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                ex.end_ms = int(e["time"])
    return log


def read_event_log(path: str) -> EventLog:
    def lines():
        for f in event_files(path):
            with open(f, encoding="utf-8") as fh:
                yield from fh

    return parse_events(lines())


# --- sums over a set of stages --------------------------------------------


def gc_seconds(stages: list[StageStats]) -> float:
    return sum(s.gc_ms for s in stages) / 1000.0


def total(stages: list[StageStats], attr: str) -> int:
    return sum(getattr(s, attr) for s in stages)


def broadcast_seconds(executions: list[Execution]) -> float:
    """Driver-side broadcast time (collect + build + broadcast) summed over
    ``executions``."""
    return (
        sum(ex.driver_metrics.get(n, 0) for ex in executions for n in BROADCAST_METRICS)
        / 1000.0
    )
