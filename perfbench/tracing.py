"""Tracing for the benchmark: in-memory spans, layer wrappers and a fold of
the Spark event log into per-operation engine metrics.

Everything here wraps calls into the program's public functions from the
outside; no program file is changed. A traced run patches the layer entry
points (``Tracer.wrap``), tags each benchmark operation with a Spark job
group, and turns on the uncompressed event log. After the session stops,
``fold_event_log`` reads the log and attributes jobs, stages and task
metrics to operations by job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory: name, start, end, parent, op id (epoch seconds)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if op is not None:
            self._op = op
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self._op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if op is not None:
                self._op = None

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a spanned version for this run."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(self, out)
            return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def _find(self, name: str, ops=None) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["name"] == name and s["end"]
                and (ops is None or s["op"] in ops)]

    def durations(self, name: str, ops=None) -> list[float]:
        """Durations of the closed spans called ``name`` (within ``ops``)."""
        return [self.spans[i]["end"] - self.spans[i]["start"] for i in self._find(name, ops)]

    def self_times(self, name: str, ops=None) -> list[float]:
        """Span duration minus the time its direct children cover."""
        out = []
        for i in self._find(name, ops):
            s = self.spans[i]
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == i and c["end"]]
            out.append((s["end"] - s["start"]) - _union(kids))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


ENGINE_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.driver_gap_s", "spark.scan_s", "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s", "spark.python_worker_s", "spark.python_bytes",
    "spark.spill_bytes", "spark.peak_exec_mem_bytes",
)
# "time to run Python workers" already contains worker start-up and
# initialisation, which the log also reports separately.
_PY_TIME = ("time to run Python workers",)
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_events(log_dir: str):
    """Yield event dicts from the rolled event logs Spark writes under ``log_dir``."""
    for fn in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))):
        with open(fn) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(events, op_windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Fold job, stage and task events into per-op engine metrics.

    ``op_windows`` maps a job-group id to its operation's (start, end) wall
    time in epoch seconds; ``spark.driver_gap_s`` is that wall time minus
    the union of the op's job intervals: driver work no job covers.
    """
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_op: dict[int, str] = {}
    per: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ENGINE_METRICS, 0.0))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group not in op_windows:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_span[jid] = [e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0]
            per[group]["spark.jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_op[sid] = group
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_op and "Completion Time" in info:
                per[stage_op[info["Stage ID"]]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_op:
            m = per[stage_op[e["Stage ID"]]]
            tm = e.get("Task Metrics") or {}
            m["spark.tasks"] += 1
            m["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spark.shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            m["spark.shuffle_fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0) / 1e3
            m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["spark.peak_exec_mem_bytes"] = max(m["spark.peak_exec_mem_bytes"],
                                                 tm.get("Peak Execution Memory", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None or name not in ("scan time", *_PY_TIME, *_PY_BYTES):
                    continue
                value = float(upd)
                if name == "scan time":
                    m["spark.scan_s"] += value / 1e3
                elif name in _PY_TIME:
                    m["spark.python_worker_s"] += value / 1e3
                else:
                    m["spark.python_bytes"] += value
    for group, (start, end) in op_windows.items():
        spans = [job_span[j] for j, g in job_group.items() if g == group]
        per[group]["spark.driver_gap_s"] = max(0.0, (end - start) - _union(
            [(max(a, start), min(b, end)) for a, b in spans if min(b, end) > max(a, start)]))
    return dict(per)
