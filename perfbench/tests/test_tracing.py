"""The event-log parser and the span recorder, on tiny hand-made inputs.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, python=None, shuffle_write=0, local_read=0,
          fetch_ms=0, spilled=0, input_bytes=0):
    acc = [{"ID": 1, "Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    for name, update in (python or {}).items():
        acc.append({"ID": 9, "Name": name, "Update": str(update), "Metadata": "sql"})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spilled,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": local_read,
                                     "Fetch Wait Time": fetch_ms},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Input Metrics": {"Bytes Read": input_bytes},
        },
    }


def _job(job_id, stages, span=None):
    props = {"spark.app.id": "x"}
    if span is not None:
        props[tracing.SPAN_PROPERTY] = span
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _write(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


PY = {
    "time to start Python workers": 500,
    "time to initialize Python workers": 250,
    "time to run Python workers": 2000,
    "data sent to Python workers": 3_000_000,
    "data returned from Python workers": 1_000_000,
}


def test_folds_task_metrics_by_span_path(tmp_path):
    log = tmp_path / "app-1"
    _write(log, [
        {"Event": "SparkListenerLogStart"},
        _job(0, [0, 1], span="extract"),
        _task(0, 1000, cpu_ns=800_000_000, shuffle_write=2_000_000, input_bytes=5_000_000),
        _task(1, 3000, cpu_ns=300_000_000, gc_ms=100, python=PY, local_read=2_000_000, fetch_ms=40),
        _task(1, 1000, python=PY, spilled=1_000_000),
        _job(1, [2], span="warm_up/extract"),
        _task(2, 9000, python=PY),
        _job(2, [3]),
        _task(3, 10),
    ])
    groups = tracing.parse_event_log([str(log)])
    g = groups["extract"]
    assert g["jobs"] == 1 and g["tasks"] == 3
    assert g["run_s"] == 5.0 and g["cpu_s"] == 1.1 and g["gc_s"] == 0.1
    assert g["shuffle_write_mb"] == 2.0 and g["shuffle_read_mb"] == 2.0
    assert g["fetch_wait_s"] == 0.04 and g["spill_mb"] == 1.0
    assert g["input_mb"] == 5.0 and g["input_tasks"] == 1
    assert g["py_tasks"] == 2 and g["py_task_run_s"] == [3.0, 1.0]
    assert g["py_start_s"] == 1.0 and g["py_init_s"] == 0.5 and g["py_run_s"] == 4.0
    assert g["arrow_sent_mb"] == 6.0 and g["arrow_recv_mb"] == 2.0
    assert g["py_cpu_s"] == 0.3
    # the warm-up's jobs and the span-less job fold apart
    assert groups["warm_up/extract"]["py_task_run_s"] == [9.0]
    assert groups[""]["tasks"] == 1
    merged = tracing.total(groups, ["extract", "warm_up/extract"])
    assert merged["py_tasks"] == 3 and merged["jobs"] == 2
    assert tracing.skew(merged["py_task_run_s"]) == 3.0


def test_reads_rolling_log_directories(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # part 10 must follow part 2: numeric, not lexical, order
    _write(app / "events_2_local-1", [_job(0, [0], span="a")])
    _write(app / "events_10_local-1", [_task(0, 500)])
    (app / "appstatus_local-1").write_text("")
    files = tracing.event_log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_2_local-1", "events_10_local-1"]
    assert tracing.parse_event_log(files)["a"]["run_s"] == 0.5


def test_skew_of_no_tasks_is_one():
    assert tracing.skew([]) == 1.0


def test_span_self_time_excludes_children(monkeypatch):
    clock = iter([0.0, 1.0, 4.0, 5.0, 7.0, 10.0])
    monkeypatch.setattr(tracing.time, "perf_counter", lambda: next(clock))
    spans = tracing.Spans("run-1")
    with spans.span("pass"):  # 0 .. 10
        with spans.span("stage"):  # 1 .. 4
            pass
        with spans.span("stage"):  # 5 .. 7
            pass
    table = spans.table()
    assert table["pass"] == {"total_s": 10.0, "self_s": 5.0, "count": 1}
    assert table["pass/stage"] == {"total_s": 5.0, "self_s": 5.0, "count": 2}
    assert spans.durations("pass/stage") == [3.0, 2.0]
    assert [s.parent for s in spans.spans] == [None, 0, 0]
    assert {s.run_id for s in spans.spans} == {"run-1"}
