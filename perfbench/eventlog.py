"""Engine counters from a Spark event log, attributed to trace spans.

Spark writes one JSON object per line. The reader keeps what the ledger
needs:

- ``SparkListenerJobStart``: the job's stages and its local properties,
  among them the span id set by :class:`perfbench.trace.Tracer`;
- ``SparkListenerTaskEnd``: task wall (launch to finish), GC, shuffle,
  spill and input metrics, and the per-task updates of SQL metrics
  (``Metadata == "sql"`` accumulables such as ``sort time`` or
  ``data sent to Python workers``);
- ``SparkListenerStageCompleted``: which stages ran.

Read the log after ``spark.stop()``: the writer buffers task events until
the application ends.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.trace import SPAN_PROPERTY


@dataclass
class Task:
    stage: int
    wall_ms: int
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill_disk: int = 0
    input_bytes: int = 0
    sql: dict = field(default_factory=dict)  # metric name -> update


@dataclass
class EventLog:
    job_span: dict = field(default_factory=dict)      # job id -> span id
    stage_job: dict = field(default_factory=dict)     # stage id -> job id
    stages_done: set = field(default_factory=set)     # stage ids that ran
    tasks: list = field(default_factory=list)

    def _stage_span(self, stage: int):
        return self.job_span.get(self.stage_job.get(stage))

    def jobs(self, spans: set[int]) -> int:
        return sum(1 for s in self.job_span.values() if s in spans)

    def stages(self, spans: set[int]) -> int:
        return sum(1 for st in self.stages_done if self._stage_span(st) in spans)

    def span_tasks(self, spans: set[int]) -> list[Task]:
        return [t for t in self.tasks if self._stage_span(t.stage) in spans]

    def counters(self, spans: set[int]) -> dict:
        ts = self.span_tasks(spans)
        return {
            "task_s": sum(t.wall_ms for t in ts) / 1e3,
            "gc_s": sum(t.gc_ms for t in ts) / 1e3,
            "shuffle_read_bytes": sum(t.shuffle_read for t in ts),
            "shuffle_write_bytes": sum(t.shuffle_write for t in ts),
            "spill_bytes": sum(t.spill_disk for t in ts),
            "input_bytes": sum(t.input_bytes for t in ts),
            "jobs": self.jobs(spans),
            "stages": self.stages(spans),
        }

    def sql_metric(self, spans: set[int], name: str) -> int:
        """Sum of one SQL metric's task updates (raw units: ms for
        ``timing`` metrics, ns for ``nsTiming``, bytes for ``size``)."""
        return sum(t.sql.get(name, 0) for t in self.span_tasks(spans))

    def task_skew(self, spans: set[int]) -> float:
        """Max over median task wall in the spans' heaviest stage (by
        summed task time): 1.0 means perfectly balanced tasks."""
        by_stage: dict[int, list[int]] = defaultdict(list)
        for t in self.span_tasks(spans):
            by_stage[t.stage].append(t.wall_ms)
        if not by_stage:
            return 0.0
        walls = sorted(max(by_stage.values(), key=sum))
        median = walls[len(walls) // 2]
        return walls[-1] / median if median else float(walls[-1] > 0)


def _int(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of an unfinished log
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            job = ev["Job ID"]
            log.job_span[job] = int(span) if span is not None else None
            for st in ev.get("Stage IDs", []):
                log.stage_job.setdefault(st, job)  # first job that ran it
        elif kind == "SparkListenerStageCompleted":
            log.stages_done.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sql = {}
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    name = acc.get("Name", "")
                    sql[name] = sql.get(name, 0) + _int(acc["Update"])
            log.tasks.append(Task(
                stage=ev["Stage ID"],
                wall_ms=_int(info.get("Finish Time")) - _int(info.get("Launch Time")),
                gc_ms=_int(m.get("JVM GC Time")),
                shuffle_read=_int(sr.get("Remote Bytes Read"))
                + _int(sr.get("Local Bytes Read")),
                shuffle_write=_int(sw.get("Shuffle Bytes Written")),
                spill_disk=_int(m.get("Disk Bytes Spilled")),
                input_bytes=_int((m.get("Input Metrics") or {}).get("Bytes Read")),
                sql=sql,
            ))
    return log


def read_dir(path: str) -> EventLog:
    """Parse every (uncompressed) event log file under ``path``."""
    lines: list[str] = []
    for base, _dirs, files in os.walk(path):
        for fn in sorted(files):
            with open(os.path.join(base, fn)) as f:
                lines.extend(f)
    return parse_lines(lines)
