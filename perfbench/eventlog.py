"""Fold uncompressed Spark event logs into jobs, stages and task totals.

Reads both layouts a log directory can hold: Spark's rolling layout
(``eventlog_v2_<app>/events_<N>_<app>``, parts read in ``N`` order) and
the single-file layout (``<app>``). Compressed logs are not read: the
benchmark writes its logs with ``spark.eventLog.compress=false``.

Folding keeps, per stage, the sums the benchmark reports (run time, CPU,
GC, spill, scan, shuffle, the Python-worker SQL metrics) and each task's
duration, and links every stage to its job and every job to its
description, which the benchmark sets to its own phase names.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_PART = re.compile(r"^events_(\d+)_")

# Spark SQL metrics of Python stages (PythonSQLMetrics), by display name
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_returned",
}
SUMS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "spill_bytes", "input_bytes",
    "shuffle_write_bytes", *PYTHON_METRICS.values(),
)


@dataclass
class Stage:
    stage_id: int
    description: str | None
    name: str = ""
    start_ms: int = 0
    end_ms: int = 0
    sums: dict = field(default_factory=lambda: dict.fromkeys(SUMS, 0))
    task_ms: list = field(default_factory=list)  # finish - launch, per task
    nonempty_tasks: int = 0  # tasks that read at least one shuffle record

    @property
    def is_python(self) -> bool:
        return self.sums["python_run_ms"] > 0


@dataclass
class Job:
    job_id: int
    description: str | None
    start_ms: int
    listed: set  # stage ids the job start names, skipped ones included
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)  # stages this job ran


@dataclass
class App:
    app_id: str = ""
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)


def log_files(log_dir: str) -> list[list[str]]:
    """One list of files per application log under ``log_dir``."""
    apps = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = [(int(m.group(1)), p) for p in os.listdir(path) if (m := _PART.match(p))]
            apps.append([os.path.join(path, p) for _, p in sorted(parts)])
        elif os.path.isfile(path) and not entry.startswith("."):
            apps.append([path])
    return apps


def log_bytes(log_dir: str) -> int:
    return sum(os.path.getsize(f) for files in log_files(log_dir) for f in files)


def _events(files: list[str]):
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _task_end(stage: Stage, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    s = stage.sums
    s["tasks"] += 1
    s["run_ms"] += m.get("Executor Run Time", 0)
    s["cpu_ns"] += m.get("Executor CPU Time", 0)
    s["gc_ms"] += m.get("JVM GC Time", 0)
    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    if (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0) > 0:
        stage.nonempty_tasks += 1
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key and acc.get("Update") is not None:
            s[key] += int(float(acc["Update"]))
    stage.task_ms.append(info["Finish Time"] - info["Launch Time"])


def fold(files: list[str]) -> App:
    """Fold one application's event log."""
    app, active = App(), {}
    for ev in _events(files):
        kind = ev["Event"]
        if kind == "SparkListenerApplicationStart":
            app.app_id = ev.get("App ID", "")
        elif kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            job = Job(ev["Job ID"], desc, ev["Submission Time"], set(ev.get("Stage IDs", [])))
            app.jobs[job.job_id] = active[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = active.pop(ev["Job ID"], None)
            if job:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            owners = [j for j in active.values() if sid in j.listed]
            job = max(owners, key=lambda j: j.job_id) if owners else None
            if sid not in app.stages:
                app.stages[sid] = Stage(
                    sid,
                    (ev.get("Properties") or {}).get("spark.job.description"),
                    info.get("Stage Name", ""),
                    info.get("Submission Time") or 0,
                )
                if job:
                    job.stage_ids.append(sid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = app.stages.get(info["Stage ID"])
            if st:
                st.end_ms = info.get("Completion Time") or st.start_ms
        elif kind == "SparkListenerTaskEnd":
            st = app.stages.get(ev["Stage ID"])
            if st:
                _task_end(st, ev)
    return app


def fold_dir(log_dir: str) -> list[App]:
    return [fold(files) for files in log_files(log_dir)]


def totals(stages) -> dict:
    out = dict.fromkeys(SUMS, 0)
    for st in stages:
        for k, v in st.sums.items():
            out[k] += v
    return out


def spans(app: App, run_id: str, parent_of) -> list[dict]:
    """Job and stage spans of one application. ``parent_of(description)``
    names the benchmark phase span a job belongs to (or None)."""
    out = []
    for job in app.jobs.values():
        jid = f"{app.app_id}/job{job.job_id}"
        out.append({
            "id": jid, "name": job.description or f"job {job.job_id}", "kind": "job",
            "start_ms": job.start_ms, "end_ms": job.end_ms,
            "parent": parent_of(job.description), "run_id": run_id,
        })
        for sid in job.stage_ids:
            st = app.stages[sid]
            out.append({
                "id": f"{app.app_id}/stage{sid}", "name": st.name, "kind": "stage",
                "start_ms": st.start_ms, "end_ms": st.end_ms, "parent": jid,
                "run_id": run_id, **st.sums,
            })
    return out
