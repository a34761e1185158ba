"""Traced-run machinery: in-memory spans around each layer's public
entry points, self time from nesting, and folding of the Spark event
log into per-call job, task and byte counts.

Spans use wall-clock seconds (``time.time``) so they line up with the
event log's epoch-millisecond task times. Nothing is written while the
session runs; the spans stay in a list until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    call_id: int | None = None
    items: int = 0  # work items the call handled, where the wrapper counts them


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.call_id: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, time.time(), parent=parent, call_id=self.call_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, owner: object, attr: str, layer: str, count=None) -> None:
        """Replace ``owner.attr`` (a function or method) by a version
        that records a span; :meth:`unwrap_all` restores it. ``count``
        maps the call's (args, kwargs) to the span's item count."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(layer, attr) as s:
                if count is not None:
                    s.items = count(args, kwargs)
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the time its direct children cover
    (children of one span never overlap: the session is one thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return [max(0.0, (s.end - s.start) - c) for s, c in zip(spans, child)]


def layer_self_ms(spans: list[Span]) -> dict[int, dict[str, float]]:
    """call_id -> layer -> self milliseconds."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, st in zip(spans, self_times(spans)):
        if s.call_id is not None:
            out[s.call_id][s.layer] += st * 1000.0
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    task_busy_ms: float = 0.0  # union of task run intervals


def fold_event_log(lines, group_prefix: str = "perfbench-") -> tuple[dict[str, GroupStats], list[dict]]:
    """Fold an uncompressed, non-rolling Spark event log (one JSON
    event per line) into per-job-group totals. Jobs map to groups by
    their ``spark.jobGroup.id`` property, stages to jobs by the
    JobStart stage list, tasks to stages. Returns (group -> stats,
    streaming progress events in log order)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    progress: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group or not group.startswith(group_prefix):
                continue
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = groups[group]
            g.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Launch Time") and info.get("Finish Time"):
                intervals[group].append((info["Launch Time"], info["Finish Time"]))
            m = ev.get("Task Metrics") or {}
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress.append(ev.get("progress") or {})
    for group, iv in intervals.items():
        groups[group].task_busy_ms = union_ms(iv)
    return dict(groups), progress
