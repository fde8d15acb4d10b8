"""Per-layer ledger: folds benchmark spans and a Spark event log together.

Stdlib only, so a saved trace can be read on any machine. Three pieces:

* interval arithmetic on spans (union length, self time, driver gap);
* ``read_event_log``: an uncompressed Spark event log (JSON lines) to jobs
  with their job group, submit/end times and summed task metrics;
* ``charge_jobs``: each job to the span that caused it — by the job group
  the span set (``pb-<span id>``), else to the innermost span whose
  interval contains the job's submission.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"
_WANTED = tuple(
    f'{{"Event":"SparkListener{k}"'
    for k in ("JobStart", "JobEnd", "TaskEnd")
)
# SQL metrics of the Arrow/pandas Python stages, per task. Only the run
# time (ms) is summed: the start and initialise timers can exceed the task's
# own run time, so they are not wall time spent in the task.
_PYTHON_TIME = "time to run Python workers"
_PYTHON_DATA = ("data sent to Python workers", "data returned from Python workers")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"]
    )


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float            # epoch seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0           # memory + disk bytes spilled
    python_s: float = 0.0    # time in Python workers (Arrow/pandas stages)
    python_bytes: int = 0    # Arrow data sent to and returned from Python


def read_event_log(lines) -> list[Job]:
    """Jobs (in submission order) with their tasks' metrics summed.

    A stage listed by several jobs (a later job reusing a computed shuffle)
    is charged to the first job that lists it, which is the one that ran it.
    """
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        # skip the bulky SQL/plan events without parsing them
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit=ev["Submission Time"] / 1000.0,
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PYTHON_TIME:
                    job.python_s += int(acc.get("Update", 0)) / 1e3
                elif acc.get("Name") in _PYTHON_DATA:
                    job.python_bytes += int(acc.get("Update", 0))
    for job in jobs.values():
        if job.end is None:  # log cut mid-job: treat as instantaneous
            job.end = job.submit
    return sorted(jobs.values(), key=lambda j: j.job_id)


def charge_jobs(jobs: list[Job], spans: list[dict]) -> dict[int, list[Job]]:
    """span id -> the jobs charged directly to it."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, list[Job]] = {s["id"]: [] for s in spans}
    for job in jobs:
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            cand = int(job.group[len(GROUP_PREFIX):])
            sid = cand if cand in by_id else None
        if sid is None:
            containing = [s for s in spans if s["start"] <= job.submit <= s["end"]]
            if containing:
                sid = min(containing, key=lambda s: s["end"] - s["start"])["id"]
        if sid is not None:
            out[sid].append(job)
    return out


class Ledger:
    """Spans plus charged jobs, with inclusive (span + descendants) views."""

    def __init__(self, spans: list[dict], jobs: list[Job]):
        self.spans = spans
        self.jobs = jobs
        self.children: dict[int | None, list[dict]] = {}
        for s in spans:
            self.children.setdefault(s.get("parent"), []).append(s)
        self.direct = charge_jobs(jobs, spans)

    def named(self, name: str) -> list[dict]:
        return sorted((s for s in self.spans if s["name"] == name), key=lambda s: s["start"])

    def inclusive_jobs(self, span: dict) -> list[Job]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.extend(self.direct.get(s["id"], []))
            todo.extend(self.children.get(s["id"], []))
        return out

    def self_time(self, span: dict) -> float:
        return self_time(span, self.children.get(span["id"], []))

    def driver_gap(self, span: dict) -> float:
        """Span wall time during which none of its jobs was running."""
        ivs = [(j.submit, j.end) for j in self.inclusive_jobs(span)]
        return (span["end"] - span["start"]) - union_length(ivs, span["start"], span["end"])

    def totals(self, spans: list[dict]) -> dict:
        """Summed job metrics over the inclusive jobs of ``spans``."""
        seen: dict[int, Job] = {}
        for s in spans:
            for j in self.inclusive_jobs(s):
                seen[j.job_id] = j
        js = list(seen.values())
        return {
            "jobs": len(js),
            "tasks": sum(j.tasks for j in js),
            "cpu_s": sum(j.cpu_s for j in js),
            "gc_s": sum(j.gc_s for j in js),
            "shuffle_bytes": sum(j.shuffle_read + j.shuffle_write for j in js),
            "spill_bytes": sum(j.spill for j in js),
            "python_s": sum(j.python_s for j in js),
            "python_bytes": sum(j.python_bytes for j in js),
        }

    def table(self) -> list[dict]:
        """One row per span name: calls, wall, self time, driver gap, jobs."""
        rows = []
        for name in sorted({s["name"] for s in self.spans}):
            ss = self.named(name)
            t = self.totals(ss)
            rows.append({
                "layer": name,
                "calls": len(ss),
                "wall_s": sum(s["end"] - s["start"] for s in ss),
                "self_s": sum(self.self_time(s) for s in ss),
                "driver_gap_s": sum(self.driver_gap(s) for s in ss),
                **t,
            })
        return rows


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def format_table(rows: list[dict]) -> str:
    cols = ["layer", "calls", "wall_s", "self_s", "driver_gap_s", "jobs", "tasks",
            "cpu_s", "gc_s", "python_s", "shuffle_bytes", "spill_bytes"]
    lines = ["  ".join(f"{c:>14}" if c != "layer" else f"{c:<28}" for c in cols)]
    for r in rows:
        cells = []
        for c in cols:
            v = r[c]
            if c == "layer":
                cells.append(f"{v:<28}")
            elif isinstance(v, float):
                cells.append(f"{v:>14.3f}")
            else:
                cells.append(f"{v:>14}")
        lines.append("  ".join(cells))
    return "\n".join(lines)
