"""Fold a Spark event log into per-job and per-phase resource counters.

Reads the uncompressed log Spark writes under ``spark.eventLog.dir``
(Spark 4: a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory;
a single plain file is read too). Task metrics of every
``SparkListenerTaskEnd`` are summed per stage, stages are charged to the
job that ran them (the lowest job id listing the stage), and jobs are
attributed to the phase interval containing their submission time.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

#: the SQL accumulables that size the JVM <-> Python (Arrow) boundary
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

FIELDS = (
    "cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_sent_mb",
    "python_recv_mb",
    "tasks",
)
MB = 1 << 20


@dataclass
class Job:
    job_id: int
    submit_ms: int
    description: str | None
    stages: list[int]
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(FIELDS, 0.0))


def log_files(event_dir: str) -> list[str]:
    """Event-log files under ``event_dir`` in write order."""
    out = []
    for root, _dirs, files in os.walk(event_dir):
        for f in files:
            if f.startswith(("events_", "app-", "local-")) and not f.endswith(
                (".inprogress.crc", ".crc")
            ):
                out.append(os.path.join(root, f))

    def order(path: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(out, key=order)


def _task_totals(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    out = {
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_mb": (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": wr.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        "python_sent_mb": 0.0,
        "python_recv_mb": 0.0,
        "tasks": 1.0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name in (PY_SENT, PY_RECV):
            key = "python_sent_mb" if name == PY_SENT else "python_recv_mb"
            out[key] += float(acc.get("Update") or 0) / MB
    return out


def read_jobs(event_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_totals: dict[int, dict[str, float]] = {}
    for path in log_files(event_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if not line.startswith('{"Event":"SparkListener'):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        int(ev["Submission Time"]),
                        props.get("spark.job.description"),
                        list(ev.get("Stage IDs") or []),
                    )
                elif kind == "SparkListenerTaskEnd":
                    acc = stage_totals.setdefault(
                        ev["Stage ID"], dict.fromkeys(FIELDS, 0.0)
                    )
                    for k, v in _task_totals(ev).items():
                        acc[k] += v
    owner: dict[int, int] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        for s in job.stages:
            owner.setdefault(s, job.job_id)
    for s, tot in stage_totals.items():
        if s in owner:
            job = jobs[owner[s]]
            for k, v in tot.items():
                job.totals[k] += v
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(
    jobs: list[Job],
    intervals: list[tuple[str, float, float]],
    exclude_description: str | None = None,
) -> dict[str, list[Job]]:
    """Phase name -> jobs submitted inside that phase's [start, end)
    interval (epoch seconds). Jobs whose description equals
    ``exclude_description`` go to ``"excluded"``; jobs outside every
    interval go to ``"outside"``. Each job lands in exactly one key."""
    out: dict[str, list[Job]] = {}
    for job in jobs:
        t = job.submit_ms / 1e3
        if exclude_description is not None and job.description == exclude_description:
            key = "excluded"
        else:
            key = next((n for n, a, b in intervals if a <= t < b), "outside")
        out.setdefault(key, []).append(job)
    return out


def fold(jobs: list[Job]) -> dict[str, float]:
    tot = dict.fromkeys(FIELDS, 0.0)
    for job in jobs:
        for k, v in job.totals.items():
            tot[k] += v
    tot["jobs"] = float(len(jobs))
    return tot
