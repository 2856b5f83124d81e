"""Tracing for the benchmark: spans around layer calls and Spark event-log
counts per job group.

Spans are kept in memory and written as JSON when the run ends.  A span
records name, start, end, parent and run id; self time is its duration
minus the time its child spans cover.  Each span also sets the Spark job
group, so the event log attributes every Spark job to the innermost span
that launched it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

import numpy as np


class Tracer:
    """Span recorder.  Disabled, ``span`` only yields: nothing is stored
    and no job group is set.  ``overhead_s`` sums the time spent in the
    recorder itself, job-group calls included."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span.  ``group`` names the Spark job group the span's
        jobs are attributed to (defaults to the enclosing span's group)."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        outer_group = self.spans[parent]["group"] if parent is not None else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "group": group or outer_group,
               "start": None, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None and group:
            sc.setLocalProperty("spark.jobGroup.id", group)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None and group:
                sc.setLocalProperty("spark.jobGroup.id", outer_group)
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


class TracedProxy:
    """Wraps an object and records a span around the named methods; every
    other attribute passes through."""

    def __init__(self, target, tracer: Tracer, methods: dict[str, str]):
        self._target = target
        self._tracer = tracer
        self._methods = methods

    def __getattr__(self, attr):
        value = getattr(self._target, attr)
        span = self._methods.get(attr)
        if span is None or not self._tracer.enabled:
            return value

        def call(*args, **kwargs):
            with self._tracer.span(span) as rec:
                out = value(*args, **kwargs)
                rec["hit"] = out is not None
                return out

        return call


def event_log_counts(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run seconds, GC seconds and
    shuffle MB written, read from a Spark event log directory."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs
        if not f.endswith(".crc")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return {k: dict(v) for k, v in out.items()}


def descendants(root: int | None = None) -> set[int]:
    """Process ids of every live descendant of ``root`` (default: this
    process), from ``/proc``."""
    root = os.getpid() if root is None else root
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children[int(fields[1])].append(int(d))
    out, frontier = set(), [root]
    while frontier:
        nxt = [c for p in frontier for c in children.get(p, ()) if c not in out]
        out.update(nxt)
        frontier = nxt
    return out


def quantile(values, q: float) -> float:
    return float(np.quantile(np.asarray(values, dtype=np.float64), q)) if len(values) else 0.0


def tail_quantile(n: int) -> float:
    """The highest percentile with at least 50 samples beyond it, capped at
    p95; below 100 samples this is the median.  (A p99 with ten samples
    beyond it moved by 40% between identical runs of a thousand requests.)"""
    return min(0.95, max(0.5, 1.0 - 50.0 / max(n, 1)))
