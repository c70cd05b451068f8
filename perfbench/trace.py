"""In-memory spans around the public calls a traced run makes.

Each span records its name, start, end and parent. While a span is open
its id is set as the Spark local property ``perfbench.span``, so every
Spark job it triggers carries the id into the event log, where
:mod:`perfbench.eventlog` attributes engine counters to spans. Spans stay
in memory until the run ends and :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id))

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def by_name(self, name: str) -> Span:
        matches = [s for s in self.spans if s.name == name]
        if len(matches) != 1:
            raise KeyError(f"expected one span named {name!r}, got {len(matches)}")
        return matches[0]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def descendants(spans: list[Span], root_id: int) -> set[int]:
    """``root_id`` and every span below it."""
    out, frontier = {root_id}, [root_id]
    while frontier:
        pid = frontier.pop()
        for s in spans:
            if s.parent == pid and s.id not in out:
                out.add(s.id)
                frontier.append(s.id)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the durations of its direct children: the time
    a layer spends outside the layers it calls."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] = child_sum.get(s.parent, 0.0) + s.seconds
    return {s.id: s.seconds - child_sum.get(s.id, 0.0) for s in spans}


def unattributed(fused_wall_s: float, layer_self_s: list[float]) -> float:
    """Fused-iteration wall not explained by the staged layers' self times
    (negative when staging costs more than fusing saves)."""
    return fused_wall_s - sum(layer_self_s)
