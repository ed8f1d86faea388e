"""In-memory spans around the benchmark's calls into the engine.

One span per public call: name, start, end, parent and run id, plus
free-form attributes. When a SparkContext is attached, entering a span
sets the ``perfbench.span`` local property to the span id, so each
Spark job submitted inside it names its span in the event log
(``eventlog.attribute``). Spans are always recorded (a dict append per
call); only the local-property calls into the JVM are switched by
``tag_jobs``.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable, Iterator, Mapping
from contextlib import contextmanager

from eventlog import SPAN_PROP


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._sc = None
        self.tag_jobs = False

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _tag(self, span_id: str | None) -> None:
        if self._sc is not None and self.tag_jobs:
            self._sc.setLocalProperty(SPAN_PROP, span_id)

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            # jobs submitted in this span carry its id in the event log
            "tagged": self._sc is not None and self.tag_jobs,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(rec["parent"])

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def children(spans: Iterable[Mapping]) -> dict[str | None, list[Mapping]]:
    out: dict[str | None, list[Mapping]] = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: Iterable[Mapping]) -> dict[str, float]:
    """span id -> its duration minus the part its child spans cover."""
    spans = list(spans)
    kids = children(spans)
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(
            [
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], [])
            ]
        )
        for s in spans
    }


def descendants(spans: Iterable[Mapping], root_id: str) -> list[Mapping]:
    """All spans below ``root_id`` (not including it)."""
    kids = children(spans)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out
