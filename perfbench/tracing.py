"""Spans, the ledger wrappers of the traced run, and process accounting.

Spans are recorded by the benchmark around its calls into the package's
public functions (no code inside the package changes). Each span holds a
name, wall-clock start and end (epoch seconds, so they line up with the
event log), the id of the span that caused it, and the run id. They stay
in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open_main: list[int] = []  # parent for spans opened on other threads

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        main = threading.current_thread() is threading.main_thread()
        if stack:
            parent = stack[-1]
        elif not main and self._open_main:
            parent = self._open_main[-1]
        else:
            parent = None
        with self._lock:
            span_id = len(self.spans)
            rec = {
                "id": span_id,
                "name": name,
                "parent": parent,
                "run_id": self.run_id,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(span_id)
        if main:
            self._open_main.append(span_id)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            stack.pop()
            if main:
                self._open_main.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def traced_ledger(tracer: Tracer):
    """Wrap ``MetricsLedger.__init__`` (which recovers counters from an
    existing ledger) and ``MetricsLedger.record_batch`` in spans, for the
    duration of the block only."""
    from log_formatter_spark.streaming.ledger import MetricsLedger

    orig_init, orig_record = MetricsLedger.__init__, MetricsLedger.record_batch

    def init(self, spark, routes, ledger_dir):
        with tracer.span("ledger.recover", existed=os.path.isdir(ledger_dir)):
            orig_init(self, spark, routes, ledger_dir)

    def record(self, batch_id, counts):
        with tracer.span("ledger.record_batch", batch_id=batch_id):
            orig_record(self, batch_id, counts)

    MetricsLedger.__init__, MetricsLedger.record_batch = init, record
    try:
        yield
    finally:
        MetricsLedger.__init__, MetricsLedger.record_batch = orig_init, orig_record


# --- the JVM and its Python workers: memory and CPU time -------------------


def descendants(root: int) -> list[int]:
    """Pids of every live descendant process of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])  # the name may hold spaces
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of each process's peak resident set (VmHWM). Read once, after
    the measured legs, so nothing samples while they run; it can exceed
    the peak of the sum when processes peak at different times."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            # the command name is parenthesised and may hold spaces
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_seconds(root: int) -> float:
    """CPU time (user + system, including reaped children) of ``root`` and
    every live descendant."""
    total = 0
    for pid in [root] + descendants(root):
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def jit_cpu_seconds(root: int) -> float:
    """CPU time (user + system) of the JVM's JIT compiler threads (named
    ``C1 CompilerThre...``/``C2 CompilerThre...``) under ``root``."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
            except OSError:
                continue
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if fields:
                total += int(fields[11]) + int(fields[12])  # utime stime
    return total / _TICK


def host_cpu_seconds() -> dict[str, float]:
    """Host-wide CPU seconds by state from /proc/stat (all CPUs summed)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {
        "busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK,
        "idle": v[3] / _TICK,
        "iowait": v[4] / _TICK,
        "steal": v[7] / _TICK,
    }
