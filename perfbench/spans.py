"""Span recorder for the traced run.

A span is (name, start, end, parent, run id), with start and end in epoch
seconds so they line up with the event log's millisecond timestamps. Spans nest: the recorder
keeps a stack, and each span's parent is the span open when it began.
Spans live in memory and are written out once, at the end of the run.

When a SparkContext is attached, entering a span sets the Spark job group
to the span's id and leaving it restores the parent's group, so every job
in the event log can be attributed to the innermost span that launched it.
A disabled recorder does nothing at all, which is how untraced runs pay no
tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def group(self) -> str:
        return f"span-{self.id}"


class Tracer:
    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), float("nan"),
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []))
        for s in spans
    }


def totals_by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: call count, summed duration and summed self time."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        t["calls"] += 1
        t["total_s"] += s.end - s.start
        t["self_s"] += st[s.id]
    return out


def descendants(spans: list[Span], names: set[str]) -> dict[str, set[str]]:
    """For each name, the job groups of its spans and of all their
    descendants, so jobs launched deeper in the tree count for the layer."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, set[str]] = {n: set() for n in names}
    for s in spans:
        if s.name not in names:
            continue
        todo = [s]
        while todo:
            cur = todo.pop()
            out[s.name].add(cur.group)
            todo.extend(kids.get(cur.id, []))
    return out
