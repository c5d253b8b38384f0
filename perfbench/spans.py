"""Spans and per-layer counts recorded from the benchmark's own files.

A span wraps one call into a layer's public function. While it is open
the calling thread's Spark job group is the layer's name, so the
engine counts of the jobs it submits can be read back from the Spark
event log by group. Spans and counts stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
OWN_GROUP = "perfbench"


class Tracer:
    """Records spans and counts. A disabled tracer records nothing and
    sets no job group, so the untraced run calls the program as is."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, layer)
        rec = {
            "id": f"{threading.get_ident()}-{len(self.spans)}-{time.monotonic_ns()}",
            "layer": layer,
            "name": name,
            "parent": parent,
            "start": time.time(),
        }
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)

    def counting(self):
        """Span for the benchmark's own count jobs: its job group keeps
        them out of every layer's engine counts, and its wall time can
        be taken out of the round it ran in."""
        return self.span(OWN_GROUP, "count")

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += value

    def busy_s(self, layer: str, name: str | None = None, within=None) -> float:
        """Wall time covered by the layer's spans (overlapping spans,
        e.g. concurrent appends, count once); ``within`` keeps only
        spans inside one of the given (start, end) windows."""
        ivs = sorted(
            (s["start"], s["end"])
            for s in self.spans
            if s["layer"] == layer
            and (name is None or s["name"] == name)
            and (within is None or any(a <= s["start"] and s["end"] <= b for a, b in within))
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def write(self, path: str, layers: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, "layers": layers}, f)


def wrap_function(tracer: Tracer, module, attr: str, layer: str, name: str, after=None, count=None):
    """Replace ``module.attr`` with a traced twin. ``after(result)``
    runs inside the span and forces the lazy result with one action;
    what it returns replaces the result. ``count`` names a counter that
    gets the result's row count, taken after the span closes."""
    fn = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(layer, name):
            out = fn(*args, **kwargs)
            if after is not None:
                out = after(out)
        if count is not None:
            with tracer.counting():
                tracer.add(count, out.count())
        return out

    traced.__wrapped__ = fn
    setattr(module, attr, traced)


def force(df):
    """One action that materialises a lazy frame inside a span."""
    return df.localCheckpoint(eager=True)


def event_log_counts(log_dir: str) -> tuple[dict, list[dict], list[float]]:
    """Per-job-group engine counts from the Spark event log, plus every
    job's (submission time, stage count) so rounds can count their
    jobs. Returns ({group: {tasks, shuffle_bytes, spill_bytes, gc_s}},
    jobs, stage submission times)."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if not f.startswith(".")]
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs: list[dict] = []
    stage_times: list[float] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or "unattributed"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    if group != OWN_GROUP:
                        jobs.append({"t": ev["Submission Time"] / 1000.0, "group": group})
                elif kind == "SparkListenerStageSubmitted":
                    info = ev.get("Stage Info", {})
                    own = stage_group.get(info.get("Stage ID")) == OWN_GROUP
                    if "Submission Time" in info and not own:
                        stage_times.append(info["Submission Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "unattributed")
                    m = ev.get("Task Metrics") or {}
                    g = per_group[group]
                    g["tasks"] += 1
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return {k: dict(v) for k, v in per_group.items()}, jobs, stage_times


def engine_layers(per_group: dict, layers: tuple[str, ...]) -> dict[str, tuple[float, str]]:
    out = {}
    for layer in layers:
        g = per_group.get(layer, {})
        out[f"{layer}.tasks"] = (g.get("tasks", 0.0), "count")
        out[f"{layer}.shuffle_bytes"] = (g.get("shuffle_bytes", 0.0), "bytes")
        out[f"{layer}.spill_bytes"] = (g.get("spill_bytes", 0.0), "bytes")
        out[f"{layer}.gc_s"] = (g.get("gc_s", 0.0), "s")
    return out
