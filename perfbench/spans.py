"""Spans, Spark event-log parsing, latency statistics and memory readings.

A span is one call from the benchmark into a layer of the engine: name,
start, end, parent span and the id of the operation it belongs to.  Spans
live in memory and are written out when the run ends.  In a traced run
every span also names the Spark job group of the jobs it launches, so the
event log maps each job (and its stages and tasks) back to a span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


# --- latency statistics ------------------------------------------------------

def tail_latency(samples: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile that has at least ten samples
    beyond it, and that percentile.

    With ``n`` sorted samples that is the 11th-largest, ``x[n - 11]``, at
    percentile ``100 * (n - 10) / n``: ten samples lie above it.  With ten
    samples or fewer no percentile qualifies; the maximum is returned with
    percentile 100 so the value is still defined.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# --- memory -------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Reset this process's ``VmHWM`` to its current resident set, so a
    later reading covers only what happens after this call."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(children: bool = True) -> float:
    """Peak resident set (``VmHWM``) of this Python process plus, with
    ``children``, that of its direct children — the Spark driver JVM it
    launched.  The JVM's own Python workers are its children, not ours,
    and are not counted."""
    me = os.getpid()
    pids = [me, *_children(me)] if children else [me]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


# --- spans --------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around the benchmark's calls into the engine.

    ``spark`` is set once a session exists; when ``jobs`` is true each span
    becomes the Spark job group of the jobs started inside it (group id
    ``span-<id>``) and restores its parent's group on exit."""

    def __init__(self, jobs: bool):
        self.jobs = jobs
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if not (self.jobs and self.spark is not None):
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"span-{span.span_id}"
        )

    @contextmanager
    def span(self, name: str, op_id: int = -1):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name,
                 op_id if op_id >= 0 or parent is None else parent.op_id,
                 None if parent is None else parent.span_id,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, fh)


# --- Spark event log ----------------------------------------------------------

@dataclass
class Task:
    stage: int
    run_s: float
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    output_bytes: int


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: list[int]


def parse_event_log(path: str) -> tuple[dict[int, Job], list[Task]]:
    """Jobs (with their job group) and finished tasks from one
    uncompressed Spark event log.  Times are epoch seconds."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0, 0.0,
                    list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(Task(
                    stage=ev["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    input_bytes=(m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0),
                    input_records=(m.get("Input Metrics") or {}).get(
                        "Records Read", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    output_bytes=(m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0),
                ))
    return jobs, tasks


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_SUMS = ("stages", "tasks", "task_s", "input_bytes", "input_records",
         "scan_task_s", "shuffle_write_bytes", "shuffle_read_bytes",
         "shuffle_task_s", "spill_bytes", "output_bytes")


def _empty_stats() -> dict:
    return {"jobs": 0, "job_intervals": [], "task_skew": 1.0,
            **{k: 0 for k in _SUMS}}


def group_stats(jobs: dict[int, Job], tasks: list[Task]) -> dict[str, dict]:
    """Totals of the jobs, stages and tasks of each Spark job group.

    ``task_skew`` is the worst stage's longest over median task run time,
    over stages of at least two tasks whose median is 10 ms or more (run
    times are recorded in whole milliseconds)."""
    out: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for job in jobs.values():
        if job.group is None:
            continue
        g = out.setdefault(job.group, _empty_stats())
        g["jobs"] += 1
        g["job_intervals"].append((job.start, job.end))
        for st in job.stages:
            stage_group[st] = job.group
    stage_tasks: dict[int, list[Task]] = {}
    for t in tasks:
        if t.stage in stage_group:
            stage_tasks.setdefault(t.stage, []).append(t)
    for st, ts in stage_tasks.items():
        g = out[stage_group[st]]
        run = [t.run_s for t in ts]
        g["stages"] += 1
        g["tasks"] += len(ts)
        g["task_s"] += sum(run)
        stage_in = sum(t.input_bytes for t in ts)
        g["input_bytes"] += stage_in
        g["input_records"] += sum(t.input_records for t in ts)
        if stage_in > 0:
            g["scan_task_s"] += sum(run)
        sw = sum(t.shuffle_write_bytes for t in ts)
        sr = sum(t.shuffle_read_bytes for t in ts)
        g["shuffle_write_bytes"] += sw
        g["shuffle_read_bytes"] += sr
        if sw > 0 or sr > 0:
            g["shuffle_task_s"] += sum(run)
        g["spill_bytes"] += sum(t.spill_bytes for t in ts)
        g["output_bytes"] += sum(t.output_bytes for t in ts)
        med = statistics.median(run)
        if len(ts) > 1 and med >= 0.01:
            g["task_skew"] = max(g["task_skew"], max(run) / med)
    return out


def merge_stats(parts: list[dict]) -> dict:
    """Sum several groups' stats (``task_skew`` takes the worst)."""
    m = _empty_stats()
    for p in parts:
        m["jobs"] += p["jobs"]
        m["job_intervals"] += p["job_intervals"]
        m["task_skew"] = max(m["task_skew"], p["task_skew"])
        for k in _SUMS:
            m[k] += p[k]
    return m
