"""Per-layer tracing from outside the program.

``Tracer.wrap`` replaces a public function of the program with a wrapper
that times the call and names the Spark jobs it starts (job group = layer).
Nested calls of the same layer count once; jobs go to the innermost layer.
After the run, ``parse_event_log`` turns Spark's JSON event log into
per-group job, task and executor figures.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall = defaultdict(float)      # layer -> inclusive seconds
        self.calls = defaultdict(int)
        self._stack: list[str] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as one span of ``layer``."""
        outer = layer in self._stack
        prev = self._stack[-1] if self._stack else None
        self._stack.append(layer)
        if layer != prev:
            self.sc.setLocalProperty(GROUP_KEY, layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            if not outer:
                self.wall[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
            self._stack.pop()
            if layer != prev:
                self.sc.setLocalProperty(GROUP_KEY, prev)

    def wrap(self, owner, attr: str, layer: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper, in ``owner`` and in
        every loaded module of the program that bound the same object.
        ``before()`` runs outside the span and its value is handed to
        ``after(value)``, so hooks can record counters untimed."""
        orig = getattr(owner, attr)
        is_method = inspect.isclass(owner)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            pre = before() if before is not None else None
            out = self.span(layer, orig, *args, **kwargs)
            if after is not None:
                after(pre)
            return out

        targets = [owner] if is_method else [
            m for name, m in list(sys.modules.items())
            if name.startswith("weather_bigquery_lakehouse_spark")
            and getattr(m, attr, None) is orig
        ]
        for t in targets:
            self._undo.append((t, attr, orig))
            setattr(t, attr, traced)

    def wrap_module(self, module, layer: str) -> int:
        """Wrap every public function defined in ``module`` that takes a
        DataFrame or SparkSession argument (the operator entry points; column
        helpers and UDF bodies are left alone). Returns how many."""
        n = 0
        for name, fn in list(vars(module).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            params = inspect.signature(fn).parameters.values()
            if any("DataFrame" in str(p.annotation) or "SparkSession" in str(p.annotation)
                   for p in params):
                self.wrap(module, name, layer)
                n += 1
        return n

    def unwrap_all(self) -> None:
        while self._undo:
            t, attr, orig = self._undo.pop()
            setattr(t, attr, orig)


def _union_seconds(spans: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, job_s (union of job spans), JSON file
    scans (stages reading a ``Scan json`` RDD), and summed task run / CPU /
    GC time, input bytes and records, shuffle write bytes, spill."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    seen_stages: set[tuple[int, int]] = set()
    spans: dict[str, list] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or "untraced"
                jid = ev["Job ID"]
                job_group[jid], job_start[jid] = group, ev["Submission Time"]
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    spans[job_group[jid]].append((job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                if key in seen_stages:
                    continue
                seen_stages.add(key)
                scopes = {
                    r.get("Scope") for r in info.get("RDD Info", [])
                    if '"name":"Scan json' in (r.get("Scope") or "")
                }
                out[stage_group.get(info["Stage ID"], "untraced")]["json_scans"] += len(scopes)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "untraced")
                m = ev.get("Task Metrics") or {}
                g = out[group]
                g["tasks"] += 1
                g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                inp = m.get("Input Metrics") or {}
                g["input_bytes"] += inp.get("Bytes Read", 0)
                g["input_records"] += inp.get("Records Read", 0)
                g["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for group, s in spans.items():
        out[group]["job_s"] = _union_seconds(s)
    return {k: dict(v) for k, v in out.items()}
