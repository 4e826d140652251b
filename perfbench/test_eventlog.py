"""Unit test of the event-log folder on a tiny canned log.

Run from the repository root:  python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

APP = "local-1"
DESC = {"spark.job.description": "pass0/extract"}


def _task(stage, launch, finish, run_ms, *, shuffle_write=0, records_read=0, python=None):
    accs = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    accs += [{"Name": name, "Update": str(v)} for name, v in (python or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Total Records Read": records_read},
        },
    }


def _stage(kind, sid, when):
    ev = {"Event": f"SparkListenerStage{kind}",
          "Stage Info": {"Stage ID": sid, "Stage Name": f"stage {sid}",
                         "Submission Time": when, "Completion Time": when + 50}}
    if kind == "Submitted":
        ev["Properties"] = DESC
    return ev


PY = {"time to run Python workers": 40, "time to initialize Python workers": 7,
      "data sent to Python workers": 1000, "data returned from Python workers": 400}

# A job that ran a map stage (0) and a Python stage (1), and listed a
# stage (2) it skipped. Split over two rolled parts; "events_10" sorts
# before "events_2" as text but must be read after it.
PART_2 = [
    {"Event": "SparkListenerApplicationStart", "App ID": APP},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1, 2], "Properties": DESC},
    _stage("Submitted", 0, 1001),
    _task(0, 1002, 1012, 9, shuffle_write=300),
    _task(0, 1003, 1023, 19, shuffle_write=200),
    _stage("Completed", 0, 1001),
]
PART_10 = [
    _stage("Submitted", 1, 1030),
    _task(1, 1031, 1071, 40, records_read=3, python=PY),
    _task(1, 1032, 1042, 10, records_read=0, python=PY),
    _task(1, 1033, 1053, 20, records_read=1, python=PY),
    _stage("Completed", 1, 1030),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
]


def _write(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _canned(tmp_path):
    rolled = tmp_path / f"eventlog_v2_{APP}"
    rolled.mkdir()
    _write(rolled / f"events_10_{APP}", PART_10)
    _write(rolled / f"events_2_{APP}", PART_2)
    (rolled / f"appstatus_{APP}").write_text("")
    (rolled / f".appstatus_{APP}.crc").write_text("")
    _write(tmp_path / "local-2", [{"Event": "SparkListenerApplicationStart", "App ID": "local-2"}])
    return str(tmp_path)


def test_log_files_reads_rolled_parts_in_number_order(tmp_path):
    files = eventlog.log_files(_canned(tmp_path))
    assert [[os.path.basename(f) for f in app] for app in files] == [
        [f"events_2_{APP}", f"events_10_{APP}"],
        ["local-2"],
    ]
    assert eventlog.log_bytes(str(tmp_path)) == sum(os.path.getsize(f) for a in files for f in a)


def test_fold_links_stages_to_jobs_and_sums_task_metrics(tmp_path):
    app, single = eventlog.fold_dir(_canned(tmp_path))
    assert (app.app_id, single.app_id, single.jobs) == (APP, "local-2", {})
    job = app.jobs[0]
    assert (job.description, job.start_ms, job.end_ms, job.stage_ids) == ("pass0/extract", 1000, 1100, [0, 1])

    exchange, python = app.stages[0], app.stages[1]
    assert not exchange.is_python and python.is_python
    assert exchange.sums["shuffle_write_bytes"] == 500
    assert exchange.task_ms == [10, 20]
    assert python.task_ms == [40, 10, 20]
    assert python.nonempty_tasks == 2
    assert python.sums["python_run_ms"] == 120
    assert python.sums["python_init_ms"] == 21
    assert python.sums["arrow_bytes_sent"] == 3000
    assert python.sums["arrow_bytes_returned"] == 1200

    t = eventlog.totals(app.stages.values())
    assert t["tasks"] == 5
    assert t["run_ms"] == 9 + 19 + 40 + 10 + 20
    assert t["cpu_ns"] == t["run_ms"] * 1_000_000
    assert (t["gc_ms"], t["spill_bytes"], t["input_bytes"]) == (5, 25, 500)


def test_spans_nest_stages_under_jobs_under_phases(tmp_path):
    app = eventlog.fold_dir(_canned(tmp_path))[0]
    spans = eventlog.spans(app, "run-1", lambda d: d if d == "pass0/extract" else None)
    by_id = {s["id"]: s for s in spans}
    job = by_id[f"{APP}/job0"]
    assert (job["parent"], job["name"], job["run_id"]) == ("pass0/extract", "pass0/extract", "run-1")
    assert (job["start_ms"], job["end_ms"]) == (1000, 1100)
    stage = by_id[f"{APP}/stage1"]
    assert (stage["parent"], stage["kind"], stage["python_run_ms"]) == (f"{APP}/job0", "stage", 120)
    assert len(spans) == 3
