"""Spans, self times and engine counters for the traced pass.

Spans are recorded in the benchmark's own code around each call into a
layer of the program; the layer is the span name's first dotted part
(`session`, `datamodel`, `sources`, `pipeline`, `sink`, `plans`,
`operators`; `bench` marks the harness's own grouping spans). Spans are
kept in memory and written once, when the pass ends.

Engine counters come from a Spark event log that is enabled for the
traced pass only (`event_log_conf`), parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    """Collects spans (name, start, end, parent, run id) in memory.

    A disabled tracer records nothing, so the timed pass and the traced
    pass run the same workload code."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.add(name, start, time.time(), parent=parent, sid=sid, **attrs)

    def add(self, name: str, start: float, end: float, parent=None, sid=None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a streaming progress
        duration); returns its id."""
        sid = sid if sid is not None else next(self._ids)
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "run": self.run_id, "name": name,
                     "start": start, "end": end, **attrs}
                )
        return sid

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part of it its children cover,
        summed per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, cursor), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered) * 1000.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{os.path.abspath(log_dir)}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def engine_counters(log_dir: str, windows: list[tuple[float, float]], cores: int,
                    n_items: int) -> dict[str, float]:
    """Stage, task, byte and busy-time counters for stages submitted inside
    the measured windows (wall seconds). Counts and bytes are per item (a
    query or a micro-batch); `busy_share` is task run time over the
    windows' summed wall time x cores; `task_skew` is max / median task
    time in the slowest stage."""
    spans_ms = [(lo * 1000.0, hi * 1000.0) for lo, hi in windows]
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sub = info.get("Submission Time") or 0
            if any(lo <= sub <= hi for lo, hi in spans_ms):
                stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    run_ms = shuffle_w = shuffle_r = spill = input_b = n_tasks = 0
    slowest, slowest_ms = None, -1.0
    for sid, info in stages.items():
        ends = tasks.get(sid, [])
        n_tasks += len(ends)
        for t in ends:
            m = t.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            shuffle_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        dur = (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0)
        if ends and dur > slowest_ms:
            slowest, slowest_ms = sid, dur
    skew = 1.0
    if slowest is not None:
        times = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in tasks[slowest]]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    per = max(n_items, 1)
    wall_ms = max(sum(hi - lo for lo, hi in spans_ms), 1.0)
    return {
        "engine.stages": len(stages) / per,
        "engine.tasks": n_tasks / per,
        "engine.shuffle_write_bytes": shuffle_w / per,
        "engine.shuffle_read_bytes": shuffle_r / per,
        "engine.spill_bytes": spill / per,
        "engine.input_bytes": input_b / per,
        "engine.busy_share": run_ms / (wall_ms * cores),
        "engine.task_skew": skew,
    }


def jvm_gc_ms(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    i = int(pos)
    j = min(i + 1, len(xs) - 1)
    return float(xs[i] + (xs[j] - xs[i]) * (pos - i))
