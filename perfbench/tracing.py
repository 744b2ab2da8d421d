"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded only from the benchmark's side: around the calls it
makes into each layer, and around layer functions it wraps by attribute
replacement (the name is replaced in the module that looks it up, so
the program's own code is unchanged). Each span keeps name, start, end,
parent span and run id; spans stay in memory until the run ends.

The event log is switched on from outside, through submit arguments,
in the traced run only. ``exec_metrics`` sums its task metrics over a
set of jobs, picked by submission time or by the job group the
benchmark set, per timed operation.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index of the parent span, -1 for a root
    run: str


class Recorder:
    """Collects spans. Disabled recorders cost one attribute read per
    wrapped call. Worker threads (e.g. the intake file pool) have no
    span stack of their own; their spans hang off the span that was
    open on the thread that enabled the recorder."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = (
                self._root_stack if threading.current_thread() is threading.main_thread() else []
            )
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        parent = st[-1] if st else (self._root_stack[-1] if self._root_stack else -1)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            self.spans[idx].end = time.time()

    def wrap(self, module_name: str, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper, and the
        same function bound under that name in any loaded module of the
        program that imported it directly."""
        orig = getattr(importlib.import_module(module_name), attr, None)
        if orig is None:  # gone from the program: the span stays empty
            return

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(span_name):
                return orig(*a, **k)

        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "") or ""
            if name.startswith("free_etl_spark") and getattr(m, attr, None) is orig:
                self._patched.append((m, attr, orig))
                setattr(m, attr, wrapper)

    def unwrap(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def total(self, name: str, windows: list[tuple[float, float]]) -> float:
        """Σ duration of the spans called ``name`` that start inside one
        of ``windows`` ((start, end) epoch seconds)."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name and any(t0 <= s.start <= t1 for t0, t1 in windows)
        )

    def self_time(self, name: str) -> float:
        """Σ over spans called ``name`` of their duration minus the part
        of it their child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out = 0.0
        for i, s in enumerate(self.spans):
            if s.name != name:
                continue
            out += (s.end - s.start) - covered(
                [(c.start, c.end) for c in kids.get(i, [])], s.start, s.end
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ event log


@dataclass
class Job:
    id: int
    group: str
    desc: str
    start: float  # epoch seconds
    end: float
    stages: list[int]


class EventLog:
    """The parsed event log of one application: jobs with their job
    group, and per-stage task metric sums."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        self.jobs: dict[int, Job] = {}
        self.task: dict[int, dict[str, float]] = {}  # stage -> metric sums
        self.failed_tasks: dict[int, int] = {}
        paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        with open(paths[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            stages = ev.get("Stage IDs", [])
            self.jobs[jid] = Job(
                jid,
                props.get("spark.jobGroup.id") or "",
                props.get("spark.job.description") or "",
                ev["Submission Time"] / 1000.0,
                ev["Submission Time"] / 1000.0,
                stages,
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                self.failed_tasks[stage] = self.failed_tasks.get(stage, 0) + 1
            m = ev.get("Task Metrics") or {}
            acc = self.task.setdefault(stage, {})
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            vals = {
                "tasks": 1,
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            }
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") == "time to run Python workers":  # ms
                    try:
                        vals["python_ms"] = vals.get("python_ms", 0) + float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
            for k, v in vals.items():
                acc[k] = acc.get(k, 0) + v

    def exec_metrics(
        self, jobs: list[Job], windows: list[tuple[float, float]], cores: int, per: int
    ) -> dict[str, float]:
        """exec.* over ``jobs`` per timed operation: counts, sums and the
        driver gap are divided by ``per``; ``windows`` are the (start,
        end) epoch seconds of the timed operations."""
        stages = {s for j in jobs for s in j.stages}
        tot: dict[str, float] = {}
        for s in stages:
            for k, v in self.task.get(s, {}).items():
                tot[k] = tot.get(k, 0) + v
        wall = sum(e - s for s, e in windows)
        busy = sum(covered([(j.start, j.end) for j in jobs], s, e) for s, e in windows)
        run_s = tot.get("run_ms", 0) / 1000.0
        per = max(1, per)
        return {
            "exec.jobs": len(jobs) / per,
            "exec.stages": len([s for s in stages if s in self.task]) / per,
            "exec.tasks": tot.get("tasks", 0) / per,
            "exec.task_run_s": run_s / per,
            "exec.task_cpu_s": tot.get("cpu_ns", 0) / 1e9 / per,
            "exec.core_util": run_s / (wall * cores) if wall > 0 else 0.0,
            "exec.driver_gap_s": max(0.0, wall - busy) / per,
            "exec.shuffle_read_mb": tot.get("shuffle_read", 0) / 1e6 / per,
            "exec.shuffle_write_mb": tot.get("shuffle_write", 0) / 1e6 / per,
            "exec.spill_mb": tot.get("spill", 0) / 1e6 / per,
            "exec.input_mb": tot.get("input", 0) / 1e6 / per,
            "exec.output_mb": tot.get("output", 0) / 1e6 / per,
            "exec.task_failures": sum(self.failed_tasks.get(s, 0) for s in stages) / per,
            "exec.python_udf_s": tot.get("python_ms", 0) / 1000.0 / per,
        }
