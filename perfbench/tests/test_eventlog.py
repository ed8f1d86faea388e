"""Event-log parser and span attribution over a recorded Spark 4.1 log.

The log was recorded at local[2] and trimmed to the events the parser
reads. Span ``s1`` ran a grouped count (jobs 0 and 1; job 1's first
stage was skipped), span ``s2`` a noop write (job 2), and jobs 3 and 4
ran with no span property set.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import Tracer, descendants, self_times  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
T_JOB3 = 1792205448.204  # job 3's submission time, in seconds


@pytest.fixture(scope="module")
def log():
    return eventlog.parse_file(LOG)


def test_jobs_carry_their_span_property(log):
    assert {j: log.jobs[j].span for j in log.jobs} == {
        0: "s1", 1: "s1", 2: "s2", 3: None, 4: None,
    }


def test_stages_belong_to_the_job_that_created_them(log):
    assert log.stage_owner() == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 4}


def test_counters_of_span_s1(log):
    c = eventlog.counters(log, [0, 1])
    assert c == {
        "spark.jobs": 2,
        "spark.stages": 2,  # stage 1 was skipped: no tasks
        "spark.tasks": 5,
        "spark.failed_tasks": 0,
        "spark.executor_run_s": pytest.approx(0.840),
        "spark.executor_cpu_s": pytest.approx(0.538567452),
        "spark.gc_s": pytest.approx(0.042),
        "spark.task_wait_s": pytest.approx(2.066),
        "spark.input_bytes": 0,
        "spark.shuffle_write_bytes": 699,
        "spark.shuffle_read_bytes": 699,
        "spark.spill_bytes": 0,
        # slowest stage 0: task times 466, 494, 46, 44 ms
        "spark.max_stage_skew": pytest.approx(494 / 256),
    }
    assert set(c) == set(eventlog.COUNTERS)


def test_counters_of_span_s2(log):
    c = eventlog.counters(log, [2])
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (1, 1, 2)
    assert c["spark.executor_run_s"] == pytest.approx(0.115)
    assert c["spark.shuffle_write_bytes"] == c["spark.shuffle_read_bytes"] == 0
    assert c["spark.max_stage_skew"] == pytest.approx(93 / 91.5)


def test_jobs_without_property_fall_back_to_time_only_where_untagged(log):
    spans = [
        {"id": "s1", "name": "a", "start": 0.0, "end": 1.0},
        {"id": "s2", "name": "a", "start": 1.0, "end": 2.0},
        {"id": "outer", "name": "pass", "start": T_JOB3 - 10, "end": T_JOB3 + 10,
         "tagged": False},
        {"id": "inner", "name": "q", "start": T_JOB3 - 1, "end": T_JOB3 + 0.1,
         "tagged": False},
    ]
    assert eventlog.attribute(log, spans) == {
        0: "s1", 1: "s1", 2: "s2", 3: "inner", 4: "outer",
    }


def test_jobs_without_property_in_tagged_spans_are_unattributed(log):
    spans = [
        {"id": "outer", "name": "pass", "start": T_JOB3 - 10, "end": T_JOB3 + 10,
         "tagged": False},
        {"id": "inner", "name": "q", "start": T_JOB3 - 1, "end": T_JOB3 + 0.1,
         "tagged": True},
    ]
    # job 3 lost its tag; job 4 ran while tagging was off
    assert eventlog.attribute(log, spans) == {
        0: None, 1: None, 2: None, 3: None, 4: "outer",
    }


def test_streaming_jobs_fall_back_to_time_in_tagged_spans(log):
    spans = [
        {"id": "st", "name": "streaming.append", "start": T_JOB3 - 1,
         "end": T_JOB3 + 0.1, "tagged": True},
    ]
    assert eventlog.attribute(log, spans)[3] == "st"


def test_jobs_outside_every_span_are_unattributed(log):
    owner = eventlog.attribute(log, [{"id": "s1", "start": 0.0, "end": 1.0}])
    assert [j for j, s in owner.items() if s is None] == [2, 3, 4]


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 5.0},  # overlaps b
        {"id": "d", "parent": "c", "start": 3.5, "end": 4.5},
    ]
    assert self_times(spans) == pytest.approx({"a": 6.0, "b": 3.0, "c": 1.0, "d": 1.0})
    assert [s["id"] for s in descendants(spans, "a")] == ["b", "c", "d"]


def test_tracer_nests_spans_and_restores_the_parent_tag():
    tags = []

    class FakeContext:
        def setLocalProperty(self, key, value):
            tags.append((key, value))

    tr = Tracer("r")
    with tr.span("before") as before:
        pass
    tr.attach(FakeContext())
    tr.tag_jobs = True
    with tr.span("outer") as outer:
        with tr.span("inner", query="q") as inner:
            pass
    assert not before["tagged"] and outer["tagged"] and inner["tagged"]
    assert inner["parent"] == outer["id"] == "r:1" and inner["query"] == "q"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert [v for _, v in tags] == ["r:1", "r:2", "r:1", None]
    assert {k for k, _ in tags} == {eventlog.SPAN_PROP}
