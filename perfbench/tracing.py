"""Spans around layer calls, Spark job-group tagging, and the event-log
reducer that turns a traced run into a per-layer table.

A span is (id, name, parent, start, end).  Every span is timed; only a
traced run keeps the spans and tags the Spark jobs started inside a span
with ``setJobGroup("perfbench:<span id>")``, so the event log can be
folded back onto the span tree afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; records and tags them only when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._sc = None
        self.t0 = time.perf_counter()

    def bind(self, sc) -> None:
        """Attach the SparkContext whose jobs get tagged."""
        self._sc = sc

    def _tag(self, s: Optional[Span]) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setJobGroup(GROUP_PREFIX + "none", "untagged")
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.perf_counter())
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                self._tag(parent)


# --------------------------------------------------------------------------
# event log → per-span counters
# --------------------------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_write_bytes", "spill_bytes",
            "python_bytes_sent", "python_stage_run_s")


@dataclass
class Counters:
    values: Dict[str, float] = field(
        default_factory=lambda: {k: 0.0 for k in COUNTERS})

    def add(self, other: "Counters") -> None:
        for k, v in other.values.items():
            self.values[k] += v


def event_log_files(event_dir: str) -> List[str]:
    """Plain event logs and the ``eventlog_v2_*/events_*`` rolling layout."""
    files = [p for p in glob.glob(os.path.join(event_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")
             and "appstatus" not in os.path.basename(p)]
    return sorted(files)


def reduce_event_log(event_dir: str) -> Dict[int, Counters]:
    """Sum task metrics per span id, read from ``spark.jobGroup.id``.

    Jobs outside any span (group ``perfbench:none`` or no group) are
    attributed to span id -1.
    """
    stage_span: Dict[int, int] = {}
    per_span: Dict[int, Counters] = {}
    stages_seen: Dict[int, set] = {}

    def bucket(sid: int) -> Counters:
        return per_span.setdefault(sid, Counters())

    for path in event_log_files(event_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    sid = -1
                    if group.startswith(GROUP_PREFIX):
                        tail = group[len(GROUP_PREFIX):]
                        sid = int(tail) if tail.isdigit() else -1
                    bucket(sid).values["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    st = ev.get("Stage ID")
                    sid = stage_span.get(st, -1)
                    c = bucket(sid).values
                    stages_seen.setdefault(sid, set()).add(st)
                    tm = ev.get("Task Metrics") or {}
                    run_s = tm.get("Executor Run Time", 0) / 1e3
                    c["tasks"] += 1
                    c["executor_run_s"] += run_s
                    c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    c["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    sent = 0
                    for acc in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        if acc.get("Name") == "data sent to Python workers":
                            sent += int(acc.get("Update") or 0)
                    if sent:
                        c["python_bytes_sent"] += sent
                        c["python_stage_run_s"] += run_s
    for sid, stages in stages_seen.items():
        bucket(sid).values["stages"] = len(stages)
    return per_span


def span_table(spans: List[Span], per_span: Dict[int, Counters]) -> List[dict]:
    """One row per span: wall, self time and inclusive Spark counters.

    Self time is the span's wall time minus the part of it that its child
    spans cover.
    """
    children: Dict[Optional[int], List[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def covered(kids: List[Span]) -> float:
        total, cur_s, cur_e = 0.0, None, None
        for k in sorted(kids, key=lambda k: k.start):
            if cur_e is None or k.start > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = k.start, k.end
            else:
                cur_e = max(cur_e, k.end)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    inclusive: Dict[int, Counters] = {}

    def fold(s: Span) -> Counters:
        c = Counters()
        c.add(per_span.get(s.id, Counters()))
        for k in children.get(s.id, []):
            c.add(fold(k))
        inclusive[s.id] = c
        return c

    for root in children.get(None, []):
        fold(root)

    def path(s: Span) -> str:
        parts = [s.name]
        while s.parent is not None:
            s = spans[s.parent]
            parts.append(s.name)
        return "/".join(reversed(parts))

    rows = []
    for s in spans:
        row = {"span": path(s), "wall_s": s.seconds,
               "self_s": s.seconds - covered(children.get(s.id, []))}
        row.update(inclusive[s.id].values)
        rows.append(row)
    return rows


def write_trace(path: str, spans: List[Span], table: List[dict],
                extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": [s.__dict__ for s in spans], "table": table,
                   **extra}, f, indent=1)
