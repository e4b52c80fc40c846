"""Spans around the benchmark's calls into each layer, and the summary of
Spark's event log per span.

A span records its name, wall-clock start and end, parent span and pass
id. Spans stay in memory and are written out when the run ends. Each span
sets a Spark job group named after its id, so event-log task metrics
attribute to it; jobs whose group is not a span id (broadcast exchanges and
streaming micro-batches set their own group) attribute to the innermost span
whose interval holds the job's submission time. The benchmark is one
closed-loop client, so at most one span is open at any time on each level.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    pass_id: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, so measured passes run the same code with tracing off."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"s{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            pass_id=self.pass_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([vars(s) for s in self.spans], fh, indent=1)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = s.duration - covered
    return out


#: per-span counters summed from SparkListenerTaskEnd task metrics
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_records",
    "output_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute(events: list[dict], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Span id -> COUNTERS of the jobs attributed to that span alone
    (not its children)."""
    by_id = {s.id: s for s in spans}
    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    out = {s.id: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        sid = group if group in by_id else _innermost(spans, ev["Submission Time"] / 1000.0)
        if sid is None:
            continue
        job_span[ev["Job ID"]] = sid
        out[sid]["jobs"] += 1
        for st in ev.get("Stage IDs", []):
            stage_span.setdefault(st, sid)
    seen_stages: set[tuple[int, int]] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if sid and key not in seen_stages:
                seen_stages.add(key)
                out[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not sid or not m:
                continue
            c = out[sid]
            c["tasks"] += 1
            c["input_records"] += m["Input Metrics"]["Records Read"]
            c["output_records"] += m["Output Metrics"]["Records Written"]
            c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            c["executor_run_s"] += m["Executor Run Time"] / 1000.0
            c["gc_s"] += m["JVM GC Time"] / 1000.0
    return out


def _innermost(spans: list[Span], t: float) -> str | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.id if best else None


def subtree_totals(spans: list[Span], own: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Span id -> COUNTERS of the span and all its descendants."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s.id)
    memo: dict[str, dict[str, float]] = {}

    def total(sid: str) -> dict[str, float]:
        if sid not in memo:
            acc = dict(own[sid])
            for c in children.get(sid, []):
                for k, v in total(c).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {s.id: total(s.id) for s in spans}
