"""Traced-run instrumentation, kept entirely outside the engine.

``Tracer`` wraps public engine functions (attribute swap, undone by
``close``).  Each wrapper records an in-memory span (name, parent,
epoch start/end, attributes) and sets the span id as the Spark job group
on the calling thread, so every job the call starts is attributed to it
in the event log.  ``fold_event_log`` reads the uncompressed Spark event
log with the standard library and folds job, stage and task metrics per
job group.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.calls: Counter = Counter()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = f"pb-{next(self._ids)}"
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None, **attrs}
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, sid)
        stack.append(sid)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, label, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call.  ``label(args, kwargs)``
        adds attributes from the call; ``on_result(rec, result)`` from its
        return value."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            attrs = label(args, kwargs)
            with tracer.span(name, **attrs) as rec:
                out = orig(*args, **kwargs)
                if on_result:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def count(self, owner, attr: str, name: str) -> None:
        """Count calls of ``owner.attr`` without a span."""
        orig = getattr(owner, attr)
        calls = self.calls

        def counted(*args, **kwargs):
            calls[name] += 1
            return orig(*args, **kwargs)

        setattr(owner, attr, counted)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def descendants(self, sid: str) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], list(kids[sid])
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def fold_event_log(log_dir: str) -> dict:
    """Per job group: jobs, completed stages and task metrics, plus the
    task intervals (epoch seconds) for driver/executor overlap."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict = defaultdict(lambda: Counter())
    intervals: dict = defaultdict(list)
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_PROP)
            job_group[ev["Job ID"]] = g
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageCompleted":
            groups[stage_group.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            c = groups[g]
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            if info.get("Launch Time") and info.get("Finish Time"):
                intervals[g].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return {"groups": groups, "intervals": intervals}
