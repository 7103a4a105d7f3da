"""Spark event log -> per-stage table.

Reads the JSON-lines event log Spark writes when `spark.eventLog.enabled`
is set (the Spark 4 rolling layout `eventlog_v2_<app>/events_<n>_<app>`,
or a single plain file) and returns one record per completed stage: the
job group and streaming batch id it ran under, and its task metrics,
summed over tasks, converted to seconds and bytes.  Jobs come with their
job group and call site.

    jobs, stages = parse(log_dir)
    totals(s for s in stages if s.group == "q.simhash")["task_s"]
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# accumulable name -> (metric, scale to seconds/bytes)
_ACCUMS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
    "time to run Python workers": ("py_worker_s", 1e-3),
    "time in aggregation build": ("agg_build_s", 1e-3),
}
METRICS = tuple(dict.fromkeys(m for m, _ in _ACCUMS.values()))


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str | None


@dataclass
class Stage:
    stage_id: int
    job_id: int | None
    group: str | None
    batch_id: int | None
    submit_ms: int
    metrics: dict[str, float] = field(default_factory=dict)


def _event_files(log_dir: str) -> list[str]:
    """Every event file under `log_dir`, rolling parts in index order."""
    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names
                  if not n.startswith((".", "appstatus_"))]
    return sorted(files, key=lambda p: (os.path.dirname(p), index(p)))


def events(log_dir: str):
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse(log_dir: str) -> tuple[list[Job], list[Stage]]:
    """Every started job, and one Stage per completed stage attempt
    attributed to the latest job that listed it (AQE submits each query
    stage as its own job)."""
    job_of: dict[int, int] = {}
    props_of: dict[tuple[int, int], dict] = {}
    jobs: list[Job] = []
    out: list[Stage] = []
    for e in events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs.append(Job(job_id=e["Job ID"],
                            group=props.get("spark.jobGroup.id"),
                            call_site=props.get("callSite.short")))
            for sid in e["Stage IDs"]:
                job_of[sid] = e["Job ID"]
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            props_of[(si["Stage ID"], si["Stage Attempt ID"])] = (
                e.get("Properties") or {})
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            props = props_of.get((sid, si["Stage Attempt ID"]), {})
            batch = props.get("streaming.sql.batchId")
            metrics = dict.fromkeys(METRICS, 0.0)
            for acc in si.get("Accumulables", []):
                hit = _ACCUMS.get(acc.get("Name"))
                if hit and acc.get("Value") is not None:
                    metrics[hit[0]] += float(acc["Value"]) * hit[1]
            out.append(Stage(
                stage_id=sid, job_id=job_of.get(sid),
                group=props.get("spark.jobGroup.id"),
                batch_id=int(batch) if batch is not None else None,
                submit_ms=si.get("Submission Time") or 0,
                metrics=metrics))
    return jobs, out


def totals(stages) -> dict[str, float]:
    """Sum every metric over `stages`."""
    out = dict.fromkeys(METRICS, 0.0)
    for s in stages:
        for k, v in s.metrics.items():
            out[k] += v
    return out


def format_table(rows: dict[str, float]) -> str:
    """Plain two-column text table of per-layer metrics."""
    width = max((len(k) for k in rows), default=0)
    return "\n".join(f"{k:<{width}}  {v:.6g}" for k, v in rows.items())
