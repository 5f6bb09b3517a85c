"""Spans recorded by the benchmark, and Spark event-log counters per span.

``Tracer`` keeps spans in memory (name, start, end, parent) on the epoch
clock, the clock Spark stamps its events with. ``read_events`` reads the
event log Spark writes when ``spark.eventLog.enabled`` is on, and
``fold_event_log`` attributes every job to the phase span whose interval
holds the job's submission time; the job's stages and tasks follow it.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "input_bytes", "spill_bytes", "driver_only_s",
    "core_util",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    tag: str | None = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, parent: str | None = None, tag: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append(Span(name, start, time.time(), parent, tag))

    def wrap(self, name: str, parent: str | None, fn):
        """``fn`` with every call recorded as a child span of ``parent``."""
        def traced(*args, **kwargs):
            with self.span(name, parent):
                return fn(*args, **kwargs)
        return traced

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Duration of the ``name`` spans minus the part their children cover."""
        out = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            kids = [(max(c.start, s.start), min(c.end, s.end))
                    for c in self.spans if c.parent == name]
            out += (s.end - s.start) - union_length(kids)
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _rolling_index(path: str) -> int:
    """N of a rolling log's ``events_N_<app id>`` file (0 otherwise)."""
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return int(m.group(1)) if m else 0


def read_events(log_dir: str) -> list[dict]:
    """Every event of the uncompressed event log under ``log_dir`` (one
    file, or a rolling ``eventlog_v2_*`` directory), in file order."""
    paths = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus_", "."))),
        key=_rolling_index,
    )
    events = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_event_log(
    events: list[dict], phases: list[Span], cores: int, key=lambda s: s.name
) -> dict[str, dict[str, float]]:
    """Spark counters (see COUNTERS) per ``key(span)`` over the phase spans.

    A job belongs to the span whose interval holds its submission time;
    jobs outside every span are dropped, and spans sharing a key add up.
    ``driver_only_s`` is span wall time during which none of the span's
    jobs was running, and ``core_util`` is executor run time over span
    wall time times cores.
    """
    out = {key(p): dict.fromkeys(COUNTERS, 0.0) for p in phases}
    wall = dict.fromkeys(out, 0.0)
    ordered = sorted(phases, key=lambda p: p.start)
    starts = [p.start for p in ordered]
    job_span: dict[int, list] = {}  # job id -> [span, submit, end]
    stage_key: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            i = bisect.bisect_right(starts, t) - 1
            if i < 0 or t > ordered[i].end:
                continue
            span = ordered[i]
            job_span[ev["Job ID"]] = [span, t, t]
            out[key(span)]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key(span))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][2] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            k = stage_key.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if k is None or not m:
                continue
            c = out[k]
            c["tasks"] += 1
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    busy: dict[int, list] = {id(p): [] for p in phases}
    for span, lo, hi in job_span.values():
        busy[id(span)].append((lo, min(hi, span.end)))
    for p in phases:
        wall[key(p)] += p.end - p.start
        out[key(p)]["driver_only_s"] += (p.end - p.start) - union_length(busy[id(p)])
    for k, c in out.items():
        c["core_util"] = c["executor_run_ms"] / (wall[k] * 1000.0 * cores) if wall[k] else 0.0
    return out
