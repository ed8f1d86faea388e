"""Spark event-log parser: execution counters attributed to trace spans.

Reads an uncompressed, non-rolling Spark event log (one JSON event per
line) and attributes every job to exactly one span. A job carries the
span id in its ``perfbench.span`` local property (set by the tracer
before each span). Jobs that cannot carry it (submitted while tagging
was off, or from the structured-streaming micro-batch thread) fall back
to the innermost span whose [start, end] interval holds the job's
submission time; any other job without it is unattributed. Stages
belong to the job that created them (the lowest job id listing them)
and tasks to their stage, so every stage and task lands in the same
span as its job.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable, Iterator, Mapping
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

# counter name -> unit, in report order
COUNTERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_wait_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.max_stage_skew": "ratio",
}


@dataclass
class Task:
    run_ms: int
    cpu_ns: int
    gc_ms: int
    launch_ms: int
    duration_ms: int
    failed: bool
    input_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int


@dataclass
class Stage:
    stage_id: int
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    span: str | None


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def stage_owner(self) -> dict[int, int]:
        """stage id -> id of the job that created it."""
        owner: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for sid in self.jobs[job_id].stage_ids:
                owner.setdefault(sid, job_id)
        return owner


def _events(lines: Iterable[str]) -> Iterator[dict]:
    for line in lines:
        line = line.strip()
        if line:
            yield json.loads(line)


def parse(lines: Iterable[str]) -> EventLog:
    """Build jobs and stages (with their finished tasks) from event lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for ev in _events(lines):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                ev["Submission Time"],
                list(ev.get("Stage IDs") or []),
                props.get(SPAN_PROP) or None,
            )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time", st.submit_ms)
            st.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st.tasks.append(
                Task(
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    launch_ms=info["Launch Time"],
                    duration_ms=info["Finish Time"] - info["Launch Time"],
                    failed=(ev.get("Task End Reason") or {}).get("Reason")
                    != "Success",
                    input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                )
            )
    return EventLog(jobs, stages)


def parse_file(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


# Spans whose jobs carry no span property even when tagging is on: the
# structured-streaming micro-batches run on the query's own thread.
TIME_ATTRIBUTED = frozenset({"streaming.append"})


def attribute(log: EventLog, spans: Iterable[Mapping]) -> dict[int, str | None]:
    """job id -> span id. Spans are mappings with ``id``, ``name``,
    ``start`` and ``end`` (epoch seconds) and ``tagged`` (whether jobs
    submitted in them carry the span property; default true).

    A job whose property names a known span belongs to that span; one
    naming an unknown span is unattributed. A job without the property
    goes to the innermost span holding its submission time,
    but only where no property was expected: in an untagged span, or in
    one of ``TIME_ATTRIBUTED``. Any other job maps to None
    (unattributed): the tagging failed for it, or it ran outside every
    span."""
    spans = list(spans)
    known = {s["id"] for s in spans}
    by_len = sorted(spans, key=lambda s: s["end"] - s["start"])
    out: dict[int, str | None] = {}
    for job in log.jobs.values():
        if job.span is not None:
            out[job.job_id] = job.span if job.span in known else None
            continue
        t = job.submit_ms / 1000.0
        inner = next((s for s in by_len if s["start"] <= t <= s["end"]), None)
        if inner is not None and (
            not inner.get("tagged", True) or inner.get("name") in TIME_ATTRIBUTED
        ):
            out[job.job_id] = inner["id"]
        else:
            out[job.job_id] = None
    return out


def counters(log: EventLog, job_ids: Iterable[int]) -> dict[str, float]:
    """The ``spark.*`` counters over the given jobs, their stages and tasks."""
    job_ids = set(job_ids)
    owner = log.stage_owner()
    stages = [
        st
        for sid, st in log.stages.items()
        if owner.get(sid) in job_ids and st.tasks
    ]
    tasks = [t for st in stages for t in st.tasks]
    skew = 1.0
    timed = [st for st in stages if st.submit_ms and st.complete_ms]
    if timed:
        slowest = max(timed, key=lambda st: st.complete_ms - st.submit_ms)
        durations = [t.duration_ms for t in slowest.tasks]
        med = statistics.median(durations)
        skew = max(durations) / med if med > 0 else 1.0
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t.failed for t in tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.task_wait_s": sum(
            max(0, t.launch_ms - st.submit_ms)
            for st in stages
            if st.submit_ms
            for t in st.tasks
        )
        / 1e3,
        "spark.input_bytes": sum(t.input_bytes for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
        "spark.max_stage_skew": skew,
    }
