"""Span tracer for the CDC benchmark's traced run.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions: the tracer wraps attributes of the instances the
benchmark builds (and one module attribute), so nothing under
``nifi_spark/`` changes. Each span sets its own Spark job group, so the
jobs a span launched while it was the innermost one can be looked up by
group (``statusTracker().getJobIdsForGroup``), and the task metrics of
those jobs can be folded from the uncompressed event log.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, phase) when enabled;
    every method is a no-op otherwise, so the untraced run pays nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"cdcbench-{next(self._ids)}",
              "name": name, "parent": parent and parent["id"],
              "phase": self.phase, "start": time.perf_counter()}
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def _traced(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace `obj.attr` (an instance method) by a traced call."""
        if self.enabled:
            setattr(obj, attr, self._traced(getattr(obj, attr), name))

    @contextmanager
    def patch_module(self, module, attr: str, name: str):
        """Trace a module-level function for the duration of the block."""
        orig = getattr(module, attr)
        if self.enabled:
            setattr(module, attr, self._traced(orig, name))
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def collect_jobs(self) -> None:
        """Attach each span's job ids (jobs run while it was innermost)."""
        if not self.enabled:
            return
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private API; fall back to letting the bus drain
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp["jobs"] = sorted(tracker.getJobIdsForGroup(sp["id"]))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(sp) + "\n")

    def measured(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["phase"] == "measure"
                and (name is None or s["name"] == name)]


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of it that child spans cover."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


_TASK_FIELDS = ("task_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "input_bytes", "output_bytes")


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics folded by job group from an uncompressed event log:
    {group: {tasks, stages, task_s, gc_s, shuffle_*_bytes, spill_bytes,
    input_bytes, output_bytes}}. Jobs outside any group fold under ''."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(_TASK_FIELDS, 0))
    stages: dict[str, set] = defaultdict(set)
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if not f.startswith("appstatus"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc = out[g]
                    acc["tasks"] = acc.get("tasks", 0) + 1
                    stages[g].add(ev["Stage ID"])
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                                   or {}).get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for g, acc in out.items():
        acc["stages"] = len(stages[g])
    return dict(out)
