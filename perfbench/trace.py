"""Measurement plumbing kept out of the engine: spans around public
calls, an RSS sampler over ``/proc``, and a Spark event-log reader
that attributes stage metrics to calls through their job group."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


# --- spans -------------------------------------------------------------

@dataclass
class Span:
    sid: int
    name: str
    start: float = 0.0
    end: float = 0.0
    parent: int | None = None
    group: str | None = None


@dataclass
class Tracer:
    """Spans in memory, one per public call; written out at exit.

    With ``enabled`` false, ``span`` still times the call (the harness
    needs the figure either way) but sets no Spark job group."""
    run_id: str
    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _n: int = 0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.sid, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "group": s.group,
                    "self_s": self_time(s, self.spans)}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        tracer._n += 1
        self.s = Span(tracer._n, name)

    def __enter__(self) -> Span:
        t = self.t
        self.s.parent = t._stack[-1].sid if t._stack else None
        if t.enabled:
            self.s.group = f"{self.s.name}#{self.s.sid}"
            t.spark.sparkContext.setJobGroup(self.s.group, self.s.name)
        t._stack.append(self.s)
        self.s.start = time.time()
        return self.s

    def __exit__(self, *exc) -> None:
        t = self.t
        self.s.end = time.time()
        t._stack.pop()
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            if parent is not None and parent.group:
                t.spark.sparkContext.setJobGroup(parent.group, parent.name)
            else:
                sc = t.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        t.spans.append(self.s)


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.sid]
    return (span.end - span.start) - _covered(kids, span.start, span.end)


def _covered(intervals, lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# --- RSS ---------------------------------------------------------------

def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for p in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(p) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` plus all its descendants (the JVM and the Python
    workers it forks)."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Background sampler of ``tree_rss_mb(pid)``; ``peak`` is the max
    over samples taken while ``active`` is set."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, tree_rss_mb(self.pid))

    def close(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


# --- Spark event log -----------------------------------------------------

_PY_ACCS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, stages, and summed stage metrics, plus the
    stage time intervals (epoch seconds) used for driver-gap figures."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(log_dir)
                   for f in fs if not f.startswith(("appstatus", ".")))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "unattributed"
                    rec = groups.setdefault(g, _empty_group())
                    rec["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    rec = groups[g]
                    rec["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                               + sr.get("Local Bytes Read", 0)) / MB
                    sw = m.get("Shuffle Write Metrics", {})
                    rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / MB
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in _PY_ACCS:
                            rec["python_mb"] += float(acc.get("Update") or 0) / MB
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    g = stage_group.get(info.get("Stage ID"))
                    a, b = info.get("Submission Time"), info.get("Completion Time")
                    if g is None or a is None or b is None:
                        continue
                    groups[g]["stages"] += 1
                    groups[g]["intervals"].append((a / 1e3, b / 1e3))
    return groups


def _empty_group() -> dict:
    return {"jobs": 0, "stages": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "python_mb": 0.0, "intervals": []}


RUNTIME_FIELDS = ("jobs", "stages", "exec_run_s", "exec_cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "python_mb", "driver_gap_s")


def runtime_for(span: Span, groups: dict) -> dict:
    """Spark runtime figures for one traced call.  ``driver_gap_s`` is
    the span time during which none of the call's stages was running."""
    rec = groups.get(span.group) or _empty_group()
    out = {k: rec[k] for k in RUNTIME_FIELDS if k != "driver_gap_s"}
    busy = _covered(rec["intervals"], span.start, span.end)
    out["driver_gap_s"] = (span.end - span.start) - busy
    return out
