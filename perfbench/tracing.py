"""Outside-in tracing for the traced benchmark run.

Spans come from wrappers the benchmark installs on module attributes of
the package (the package itself is not edited); Spark job, task and
output figures come from Spark's event log, which the traced session
writes into the run's temp dir. Both are folded per step: a step is the
unit whose CPU time ``step_cpu_s`` and wall time ``step.wall_s`` report.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """Spans kept in memory: name, start, end (epoch seconds), parent
    span id and step id. Written once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self.step: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, step: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "start": time.time(), "end": None,
                "parent": stack[-1] if stack else None,
                "step": step if step is not None else self.step,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper for the
        rest of the (one-workload) process."""
        original = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)

    def of(self, name: str, step: str) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["step"] == step and s["end"] is not None
        ]

    def total(self, name: str, step: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name, step))

    def busy(self, name: str, step: str) -> float:
        """Union of the spans' intervals: overlap counted once."""
        return union_length([(s["start"], s["end"]) for s in self.of(name, step)])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) event log in ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _written_file_accums(plan: dict, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == "number of written files":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _written_file_accums(child, out)


def fold_spark(events: list[dict], windows: dict[str, tuple[float, float]]):
    """Per step (``windows``: step id → (start, end) epoch seconds) the
    Spark figures: jobs, tasks, summed task metrics, written files, and
    driver-only time (wall minus the union of the step's job spans).
    A job belongs to the step whose window holds its submission time."""

    def step_of(t_ms):
        t = t_ms / 1000.0
        for sid, (s, e) in windows.items():
            if s <= t <= e:
                return sid
        return None

    job_step, job_span, stage_job = {}, {}, {}
    per = {
        sid: {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
              "shuffle_b": 0, "out_b": 0, "files": 0}
        for sid in windows
    }
    file_accums: set = set()
    exec_files: dict[int, int] = {}
    exec_end: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = step_of(ev["Submission Time"])
            job_step[ev["Job ID"]] = sid
            job_span[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
            for st in ev.get("Stage IDs", []):
                stage_job[st] = ev["Job ID"]
            if sid is not None:
                per[sid]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = job_step.get(stage_job.get(ev["Stage ID"]))
            if sid is None:
                continue
            m = ev.get("Task Metrics") or {}
            p = per[sid]
            p["tasks"] += 1
            p["run_s"] += m.get("Executor Run Time", 0) / 1e3
            p["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            p["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            p["out_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _written_file_accums(ev.get("sparkPlanInfo") or {}, file_accums)
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in file_accums:
                    exec_files[ev["executionId"]] = (
                        exec_files.get(ev["executionId"], 0) + value)
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd":
            exec_end[ev["executionId"]] = ev["time"]
    for ex, n in exec_files.items():
        sid = step_of(exec_end.get(ex, 0))
        if sid is not None:
            per[sid]["files"] += n
    for sid, (s, e) in windows.items():
        spans = [
            (max(a, s), min(b if b is not None else e, e))
            for j, (a, b) in job_span.items() if job_step.get(j) == sid
        ]
        per[sid]["driver_only_s"] = (e - s) - union_length(
            [iv for iv in spans if iv[1] > iv[0]])
    return per
