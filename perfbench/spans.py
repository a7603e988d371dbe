"""Span recording and Spark event-log parsing for the traced run.

A traced run wraps each public call it times in a span (name, layer,
start, end, parent, run id) and runs the Spark jobs the call submits
under a job group named after the span. Spark's event log (JSON lines)
then says which jobs, stages and tasks each span caused. The functions
here are small and free of Spark imports so they can be tested on a
captured log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# A job's kind comes from the name of its last stage ("<op> at <site>").
JOB_KINDS = ("parquet", "localCheckpoint", "save")
_BATCH_RE = re.compile(r"\bbatch = (\d+)")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. With ``sc`` set, every span runs its jobs
    under the job group ``<run_id>:<sid>`` (restoring the enclosing
    span's group on exit), so the event log attributes them."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.run_id}:{span.sid}"

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            start=time.time(),
            parent=parent.sid if parent else None,
            run_id=self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(self.group(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    """Stand-in for untraced passes: same interface, records nothing."""

    @contextmanager
    def span(self, name: str, layer: str):
        yield None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer spent in that layer's own spans, minus the time
    of their direct child spans (which is charged to the children's
    layers)."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - child.get(s.sid, 0.0)
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and every span nested under it."""
    ids = {root}
    for s in spans:  # spans are recorded in start order: parents first
        if s.parent in ids:
            ids.add(s.sid)
    return ids


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str
    stage_ids: list[int]
    last_stage_name: str
    submit_ms: int
    end_ms: int = 0
    ok: bool = True

    @property
    def kind(self) -> str:
        return job_kind(self.last_stage_name)

    @property
    def batch_id(self) -> int | None:
        m = _BATCH_RE.search(self.description or "")
        return int(m.group(1)) if m else None


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_read: float
    shuffle_write: float
    spill: float
    input_bytes: float
    input_rows: float
    failed: bool


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)


def job_kind(stage_name: str) -> str:
    """``parquet`` / ``localCheckpoint`` / ``save`` from a stage name such
    as ``localCheckpoint at NativeMethodAccessorImpl.java:0``; anything
    else is ``other``."""
    op = (stage_name or "").split(" at ", 1)[0].strip()
    return op if op in JOB_KINDS else "other"


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: Spark 4's rolling layout
    (``eventlog_v2_*/events_*``) or a single-file log."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(p.rsplit("_", 2)[-2]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )


def parse_event_log(lines) -> EventLog:
    """Jobs (with group, description and kind) and finished tasks (with
    their metrics) from event-log JSON lines."""
    log = EventLog()
    by_id: dict[int, Job] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            last = max(stages, key=lambda s: s["Stage ID"], default={})
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                description=props.get("spark.job.description") or "",
                stage_ids=list(ev.get("Stage IDs") or []),
                last_stage_name=last.get("Stage Name", ""),
                submit_ms=ev.get("Submission Time", 0),
            )
            by_id[job.job_id] = job
            log.jobs.append(job)
            for sid in job.stage_ids:
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageSubmitted":
            # a stage listed by several jobs runs for the latest of them
            sid = ev["Stage Info"]["Stage ID"]
            for job in reversed(log.jobs):
                if sid in job.stage_ids:
                    log.stage_job[sid] = job.job_id
                    break
        elif kind == "SparkListenerJobEnd":
            job = by_id.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time", 0)
                job.ok = (ev.get("Job Result") or {}).get("Result") == (
                    "JobSucceeded"
                )
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            log.tasks.append(Task(
                stage_id=ev["Stage ID"],
                launch_ms=info.get("Launch Time", 0),
                finish_ms=info.get("Finish Time", 0),
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                input_bytes=inp.get("Bytes Read", 0),
                input_rows=inp.get("Records Read", 0),
                failed=bool(info.get("Failed")) or reason not in (None, "Success"),
            ))
    return log


def read_event_log(log_dir: str) -> EventLog:
    lines: list[str] = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            lines.extend(x for x in f if x.strip())
    return parse_event_log(lines)


def busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] covered by at least one interval."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_stats(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Counters for a set of jobs: kinds, stages and tasks, and the task
    metrics summed over them. ``task_skew`` is the worst stage's
    max/median task run time."""
    ids = {j.job_id for j in jobs}
    tasks = [t for t in log.tasks if log.stage_job.get(t.stage_id) in ids]
    stages: dict[int, list[float]] = {}
    for t in tasks:
        stages.setdefault(t.stage_id, []).append(t.run_ms)
    skew = 1.0
    for runs in stages.values():
        runs = sorted(runs)
        med = runs[len(runs) // 2]
        if len(runs) > 1 and med > 0:
            skew = max(skew, runs[-1] / med)
    mb = 1024.0 * 1024.0
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "failed_tasks": sum(t.failed for t in tasks),
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / mb,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / mb,
        "spill_mb": sum(t.spill for t in tasks) / mb,
        "scan_mb": sum(t.input_bytes for t in tasks) / mb,
        "scan_rows": sum(t.input_rows for t in tasks),
        "task_skew": skew,
    }
    for k in JOB_KINDS:
        out[f"{k}_jobs"] = sum(j.kind == k for j in jobs)
    return out


def task_intervals(log: EventLog, jobs: list[Job]) -> list[tuple[int, int]]:
    ids = {j.job_id for j in jobs}
    return [
        (t.launch_ms, t.finish_ms)
        for t in log.tasks
        if log.stage_job.get(t.stage_id) in ids
    ]
