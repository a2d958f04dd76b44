"""Fold a Spark event log into per-job-group totals.

Spark 4 writes a rolling log by default: a directory
`eventlog_v2_<app>/` holding `events_<n>_<app>` files (n = 1, 2, ...)
plus an `appstatus_*` marker; with rolling off it writes one
`<app>` file. `read_events` takes either layout, uncompressed.

Attribution: a job belongs to the group in its JobStart properties
(`spark.jobGroup.id`); a stage belongs to the first job that lists it.
Stage metrics come from the StageCompleted accumulables, so skipped
stages count nothing.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_ROLLING_PART = re.compile(r"^events_(\d+)_")

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
}


@dataclass
class GroupStats:
    jobs: int = 0
    job_ms: int = 0  # summed JobStart→JobEnd wall time
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Fold:
    groups: dict[str, GroupStats] = field(default_factory=dict)

    def total(self, pred) -> GroupStats:
        """Sum of the groups whose name satisfies `pred`."""
        out = GroupStats()
        for name, st in self.groups.items():
            if pred(name):
                out.add(st)
        return out


def log_files(path: str) -> list[str]:
    """The event files of one application log, in write order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = _ROLLING_PART.match(name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    if not parts:
        raise FileNotFoundError(f"no events_* files under {path}")
    return [p for _, p in sorted(parts)]


def find_app_log(log_dir: str) -> str:
    """The single application log under `log_dir` (rolling dir or file)."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def read_events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(path: str) -> Fold:
    """Per-group totals of the application log at `path`."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    out = Fold()

    def group_of_job(job: int) -> GroupStats:
        return out.groups.setdefault(job_group[job], GroupStats())

    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_start[job] = ev["Submission Time"]
            for s in ev.get("Stage IDs", []):
                stage_job.setdefault(s, job)
            group_of_job(job).jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_start:
                group_of_job(job).job_ms += ev["Completion Time"] - job_start[job]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = stage_job.get(info["Stage ID"])
            if job is None:
                continue
            st = group_of_job(job)
            st.stages += 1
            st.tasks += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                key = _STAGE_METRICS.get(acc.get("Name"))
                if key is not None:
                    setattr(st, key, getattr(st, key) + int(acc.get("Value", 0)))
    return out
