"""Spans around public engine calls, and per-span task metrics from
Spark's event log.

A span records name, start, end, parent and run id.  While a span is
open, the Spark local property ``perfbench.span`` holds its path (the
names of the open spans, outermost first), so every job the call
starts carries it in the event log's ``SparkListenerJobStart``
properties.  :func:`parse_event_log` folds task metrics by that path;
no timestamps are matched.  A call made inside a ``warm_up`` span thus
folds apart from the same call in a timed pass.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "perfbench.span"

# SQL metrics on the Python-evaluation nodes (mapInArrow, pandas UDFs),
# present on task-end events in Spark 4.1; times are milliseconds
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_sent_mb",
    "data returned from Python workers": "arrow_recv_mb",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int
    path: str  # names from the outermost open span down, joined by "/"


class Spans:
    """In-memory span recorder; :meth:`write` dumps it as JSON lines."""

    def __init__(self, run_id: str, spark=None):
        self.run_id, self.spark = run_id, spark
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        span_id = len(self.spans)
        parent = self._open[-1] if self._open else None
        path = name if parent is None else f"{self.spans[parent].path}/{name}"
        rec = Span(name, time.perf_counter(), 0.0, parent, self.run_id, span_id, path)
        self.spans.append(rec)
        self._open.append(span_id)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, path)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._open.pop()
            if sc is not None:
                outer = self.spans[self._open[-1]].path if self._open else None
                sc.setLocalProperty(SPAN_PROPERTY, outer)

    def durations(self, path: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.path == path]

    def table(self) -> dict[str, dict]:
        """Per span path: ``total_s``, ``self_s`` (total minus the time
        its child spans cover) and ``count``."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s.path, {"total_s": 0.0, "self_s": 0.0, "count": 0})
            row["total_s"] += s.end - s.start
            row["self_s"] += s.end - s.start - child_s[s.span_id]
            row["count"] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _new_group() -> dict:
    return {
        "jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "fetch_wait_s": 0.0,
        "spill_mb": 0.0, "input_mb": 0.0, "input_tasks": 0,
        "py_start_s": 0.0, "py_init_s": 0.0, "py_run_s": 0.0,
        "arrow_sent_mb": 0.0, "arrow_recv_mb": 0.0,
        "py_tasks": 0, "py_cpu_s": 0.0, "py_task_run_s": [],
    }


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: plain files, or the
    ``events_<n>_*`` parts of Spark 4's rolling log directories."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.endswith((".inprogress", ".crc")):
            files.append(entry)
    return files


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Task metrics summed per span path (jobs without a span fall under
    ``""``).  The ``py_*`` fields cover only tasks that ran Python
    workers; ``py_task_run_s`` lists their executor run times."""
    stage_span: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    name = (ev.get("Properties") or {}).get(SPAN_PROPERTY) or ""
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = name
                    groups.setdefault(name, _new_group())["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(ev["Stage ID"], "")
                    g = groups.setdefault(name, _new_group())
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    g["tasks"] += 1
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    g["run_s"] += run_s
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["input_mb"] += read / 1e6
                    g["input_tasks"] += read > 0
                    ran_python = False
                    for acc in info.get("Accumulables", ()):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key is None:
                            continue
                        ran_python = True
                        scale = 1e3 if key.endswith("_s") else 1e6
                        g[key] += float(acc.get("Update") or 0) / scale
                    if ran_python:
                        g["py_tasks"] += 1
                        g["py_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        g["py_task_run_s"].append(run_s)
    return groups


def total(groups: dict[str, dict], paths) -> dict:
    """Merge the groups of several span paths."""
    out = _new_group()
    for p in paths:
        for k, v in groups.get(p, {}).items():
            out[k] += v
    return out


def skew(run_s: list[float]) -> float:
    """max / median task run time; 1.0 for no tasks."""
    med = statistics.median(run_s) if run_s else 0.0
    return max(run_s) / med if med > 0 else 1.0
