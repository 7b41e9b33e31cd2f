"""Spans around calls into the engine, and a Spark event-log reader.

``Tracer.span(name)`` runs the enclosed calls under their own Spark job
group (``<run id>/<span id>``), so every job, stage and task they launch
can be attributed afterwards; spans nest, and on exit the parent's group is
restored.  Spans live in memory until ``Tracer.write``.

``read_event_log`` aggregates an uncompressed event log (a single file or
a rolling ``eventlog_v2_*`` directory) by job group: tasks, executor run
and CPU time, max/median task time, shuffle bytes, spill, GC, peak
execution memory, input bytes, and the Python-worker SQL metrics of the
Arrow UDF operators.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    def _enter_group(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(span_id), self.spans[span_id].name)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time(), None, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        self._enter_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._enter_group(self._stack[-1] if self._stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f,
                      indent=1, default=str)


class NullTracer:
    """Untraced runs: spans cost nothing and set no job group."""

    def span(self, name: str):
        return nullcontext()


# ------------------------------------------------------------- event log
PYTHON_TIME = "time to run Python workers"           # ms per task
PYTHON_SENT = "data sent to Python workers"          # bytes per task


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    memory_spill_bytes: int = 0
    disk_spill_bytes: int = 0
    input_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    python_run_ms: int = 0
    python_bytes_sent: int = 0
    job_times: list = field(default_factory=list)        # (submit_ms, end_ms)
    stage_task_ms: dict = field(default_factory=dict)    # stage -> [task ms]

    def add(self, other: "GroupStats") -> "GroupStats":
        out = GroupStats()
        for k, v in asdict(self).items():
            if k == "peak_exec_mem_bytes":
                setattr(out, k, max(v, other.peak_exec_mem_bytes))
            elif k == "job_times":
                out.job_times = sorted(self.job_times + other.job_times)
            elif k == "stage_task_ms":
                out.stage_task_ms = {**self.stage_task_ms,
                                     **other.stage_task_ms}
            else:
                setattr(out, k, v + getattr(other, k))
        return out

    @property
    def task_skew(self) -> float:
        """max / median task time of the stage with the most task time."""
        stages = [t for t in self.stage_task_ms.values() if t]
        if not stages:
            return 0.0
        heavy = max(stages, key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0

    def totals(self) -> dict:
        """The counters, without the per-job and per-task lists."""
        return {k: v for k, v in asdict(self).items()
                if k not in ("job_times", "stage_task_ms")}


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    names.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
    return [os.path.join(path, n) for n in names]


def find_event_log(log_dir: str) -> str:
    """The single application log written under ``spark.eventLog.dir``."""
    logs = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


def read_event_log(path: str) -> dict[str | None, GroupStats]:
    """{job group (None = no group): GroupStats} for one application."""
    groups: dict = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, int] = {}
    for fn in _event_files(path):
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[e["Job ID"]] = g
                    job_submit[e["Job ID"]] = e["Submission Time"]
                    groups[g].jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    groups[job_group.get(jid)].job_times.append(
                        (job_submit.get(jid, e["Completion Time"]),
                         e["Completion Time"]))
                elif ev == "SparkListenerTaskEnd":
                    _add_task(groups[stage_group.get(e["Stage ID"])], e)
    return dict(groups)


def _add_task(g: GroupStats, e: dict) -> None:
    info = e["Task Info"]
    g.tasks += 1
    g.stage_task_ms.setdefault(e["Stage ID"], []).append(
        info["Finish Time"] - info["Launch Time"])
    m = e.get("Task Metrics") or {}
    g.executor_run_ms += m.get("Executor Run Time", 0)
    g.executor_cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.memory_spill_bytes += m.get("Memory Bytes Spilled", 0)
    g.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
    g.peak_exec_mem_bytes = max(g.peak_exec_mem_bytes,
                                m.get("Peak Execution Memory", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                             + sr.get("Local Bytes Read", 0))
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables") or []:
        name = acc.get("Name")
        if name == PYTHON_TIME:
            g.python_run_ms += _num(acc.get("Update"))
        elif name == PYTHON_SENT:
            g.python_bytes_sent += _num(acc.get("Update"))


class SpanStats:
    """Event-log totals per span, counting the span's nested spans too."""

    def __init__(self, tracer: Tracer, groups: dict[str | None, GroupStats]):
        self.tracer = tracer
        self.groups = groups
        children = defaultdict(list)
        for s in tracer.spans:
            if s.parent is not None:
                children[s.parent].append(s.id)
        self._children = children

    def of(self, span: Span) -> GroupStats:
        out = self.groups.get(self.tracer.group(span.id), GroupStats())
        for c in self._children[span.id]:
            out = out.add(self.of(self.tracer.spans[c]))
        return out

    def named(self, name: str) -> GroupStats:
        out = GroupStats()
        for s in self.tracer.named(name):
            out = out.add(self.of(s))
        return out
